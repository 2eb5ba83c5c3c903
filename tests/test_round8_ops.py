"""Unit tests for the round-8 operators: k-core peeling, synchronous
label-propagation communities, and window-granularity exact-substring
dedup (plus the plan guards the r7 verdict asked for).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapipelines_essentials_python_spark.operators import graph
from datapipelines_essentials_python_spark.operators.chunking import (
    exact_substring_dedup,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------------------------ k-core


def test_kcore_peels_tail_then_cascades(spark):
    """Triangle {1,2,3} with a pendant chain 3-4-5: the 2-core must peel
    node 5 (degree 1), which drops node 4 to degree 1, which peels next
    round — the fixpoint is exactly the triangle, every survivor at
    degree 2. The cascade is the whole point of iterating."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    out = {r["node"]: r["core_degree"] for r in graph.kcore(edges, k=2).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_k3_empties_sparse_graph(spark):
    """No node of the triangle+chain graph survives a 3-core: the result
    is empty, not an error."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    assert graph.kcore(edges, k=3).count() == 0


def test_kcore_max_rounds_caps_the_peel(spark):
    """A 5-node path peeled at k=2 loses only its two endpoints per
    round. max_rounds=1 stops after one peel (3 survivors), fixpoint
    empties it — the capped result is 'the graph after min(fixpoint,
    max_rounds) rounds', the contract the unrolled oracle replays."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    one = {r["node"] for r in graph.kcore(edges, k=2, max_rounds=1).collect()}
    assert one == {2, 3, 4}
    assert graph.kcore(edges, k=2, max_rounds=8).count() == 0


def test_kcore_normalizes_input(spark):
    """Duplicate, reversed, and self-loop edges must not inflate degrees
    past the peel threshold."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (1, 1), (2, 2)], "src long, dst long"
    )
    assert graph.kcore(edges, k=2).count() == 0
    out = {r["node"]: r["core_degree"] for r in graph.kcore(edges, k=1).collect()}
    assert out == {1: 1, 2: 1}


def test_kcore_validates_args(spark):
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="k >= 1"):
        graph.kcore(edges, k=0)
    with pytest.raises(ValueError, match="max_rounds >= 1"):
        graph.kcore(edges, k=2, max_rounds=0)


def test_kcore_round_plan_one_keyed_shuffle(spark):
    """Plan guard (VERDICT r07 item 4): one peel round's degree count is
    ONE keyed exchange over the src∪dst union — and nothing in the round
    is a cartesian/nested-loop shape."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "src long, dst long"
    )
    und = graph.undirected_edges(edges)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )
    low = deg.where(F.col("core_degree") < 2).select("node")
    peeled = und.join(
        low.select(F.col("node").alias("u")), "u", "left_anti"
    ).join(low.select(F.col("node").alias("v")), "v", "left_anti")
    plan = _plan(peeled)
    low_plan = plan.lower()
    assert "cartesianproduct" not in low_plan
    # the degree agg is the round's only hashpartitioning exchange key
    # family: node (plus AQE may add join exchanges on u/v — keyed, fine)
    assert "hashpartitioning(node" in low_plan
    assert low_plan.count("hashpartitioning(node") <= 4


# --------------------------------------------------------------------- LPA


def test_lpa_two_cliques_with_bridge(spark):
    """Two triangles joined by one bridge edge: after 4 synchronous
    rounds with min-label tie-break every node of each clique carries
    its clique's minimum id, and the bridge does not merge them."""
    c1 = [(1, 2), (2, 3), (1, 3)]
    c2 = [(10, 11), (11, 12), (10, 12)]
    edges = spark.createDataFrame(c1 + c2 + [(3, 10)], "src long, dst long")
    out = {r["node"]: r["community"] for r in graph.lpa_communities(edges).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[10] == out[11] == out[12]
    assert out[10] != out[1]


def test_lpa_one_round_is_min_neighbor_label(spark):
    """After exactly one round from self-labels, every node holds the
    min neighbor id (all neighbor labels are distinct → tie-break picks
    the smallest). Star 1-{2,3,4}: center takes 2, leaves take 1."""
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "src long, dst long"
    )
    out = {
        r["node"]: r["community"]
        for r in graph.lpa_communities(edges, iterations=1).collect()
    }
    assert out == {1: 2, 2: 1, 3: 1, 4: 1}


def test_lpa_majority_beats_min(spark):
    """Tie-break is only for TIES: a node whose neighbors vote 2-to-1
    for the larger label must take the majority label, not the min.
    Node 9's neighbors after round 1 hold labels {1, 5, 5}."""
    # round 1: 5-6 pair swap to each other's... use a direct shape:
    # neighbors 1 (self-label 1), 5 and 6 where 5,6 are joined to each
    # other so both settle on 5 — then 9 sees {1, 5, 5} in round 2.
    edges = spark.createDataFrame(
        [(5, 6), (9, 1), (9, 5), (9, 6)], "src long, dst long"
    )
    out = {
        r["node"]: r["community"]
        for r in graph.lpa_communities(edges, iterations=2).collect()
    }
    assert out[9] == 5


def test_lpa_validates_iterations(spark):
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="iterations >= 1"):
        graph.lpa_communities(edges, iterations=0)


def test_lpa_round_plan_no_window_no_cartesian(spark, pinned_plans):
    """Plan guard: one LPA round is joins + combinable aggregates — no
    per-node sort window, no cartesian product. The round's labels are
    pinned, so its plan is read from the pin."""
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    out = graph.lpa_communities(edges, iterations=1)
    assert "join" in pinned_plans[-1].lower()  # the round's own pin
    for plan in [*pinned_plans, _plan(out)]:
        assert "cartesianproduct" not in plan.lower()
        assert "window" not in plan.lower()


# ---------------------------------------------------- exact-substring dedup


def test_exact_substring_dedup_removes_repeated_span(spark):
    """A 4-token span repeated verbatim in a second document is removed
    from the LATER document only (first occurrence wins)."""
    span = "alpha beta gamma delta"
    rows = [
        (1, f"one two {span} three"),
        (2, f"start {span} end tail more words"),
        (3, "totally unrelated tokens here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in exact_substring_dedup(docs, window_size=4).collect()
    }
    assert out[1]["text_clean"] == f"one two {span} three"
    assert out[1]["n_tokens_removed"] == 0
    assert out[2]["text_clean"] == "start end tail more words"
    assert out[2]["n_tokens_removed"] == 4
    assert out[3]["n_tokens_removed"] == 0
    assert out[2]["n_tokens_total"] == 9


def test_exact_substring_dedup_overlapping_windows_merge(spark):
    """A 6-token duplicated span yields three overlapping duplicated
    4-windows whose covered union is the whole 6-token span — removal is
    the interval UNION, not one window."""
    span = "a b c d e f"
    rows = [(1, f"{span} x"), (2, f"y {span} z")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in exact_substring_dedup(docs, window_size=4).collect()
    }
    assert out[1]["n_tokens_removed"] == 0
    assert out[2]["text_clean"] == "y z"
    assert out[2]["n_tokens_removed"] == 6


def test_exact_substring_dedup_full_dup_keeps_row(spark):
    """A verbatim duplicate document survives as an EMPTY text_clean with
    full removal accounting — the contract difference vs span_dedup's
    row drop."""
    text = "p q r s t u v w"
    docs = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in exact_substring_dedup(docs, window_size=4).collect()
    }
    assert out[1]["n_tokens_removed"] == 0
    assert out[2]["text_clean"] == ""
    assert out[2]["n_tokens_removed"] == 8
    assert len(out) == 2


def test_exact_substring_dedup_self_repetition(spark):
    """Repetition INSIDE one document dedups too: the second copy of the
    window within the same doc is rn>1 and is removed."""
    docs = spark.createDataFrame(
        [(1, "m n o p filler m n o p")], "doc_id long, text string"
    )
    r = exact_substring_dedup(docs, window_size=4).collect()[0]
    assert r["text_clean"] == "m n o p filler"
    assert r["n_tokens_removed"] == 4


def test_exact_substring_dedup_short_docs_untouched(spark):
    """Documents shorter than the window produce no windows and pass
    through verbatim (and don't crash sequence())."""
    docs = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny doc"), (3, "")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in exact_substring_dedup(docs, window_size=4).collect()
    }
    assert out[1]["text_clean"] == "tiny doc"
    assert out[2]["text_clean"] == "tiny doc"  # sub-window dups survive
    assert out[3]["n_tokens_total"] == 0
    assert all(r["n_tokens_removed"] == 0 for r in out.values())


def test_exact_substring_dedup_validates_window(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="window_size >= 2"):
        exact_substring_dedup(docs, window_size=1)


def test_exact_substring_dedup_plan_no_python(spark, pinned_plans):
    """The whole pipeline is JVM-side: no BatchEvalPython / ArrowEval in
    the plan, and the corpus-wide shuffle key is the md5 fingerprint.
    The fingerprint build runs inside the fp-keyed pin, so it is read
    from the pinned plan; the rest from the final plan."""
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], "doc_id long, text string"
    )
    out = exact_substring_dedup(docs, window_size=4)
    (pinned,) = pinned_plans
    assert "md5" in pinned.lower()
    assert "hashpartitioning(fp#" in pinned
    for plan in (pinned, _plan(out)):
        assert "BatchEvalPython" not in plan
        assert "ArrowEval" not in plan


# -------------------------------------------------------- edge support


def test_edge_support_square_with_diagonal(spark):
    """Square 1-2-3-4 plus diagonal 1-3: two triangles (1,2,3) and
    (1,3,4). The diagonal sits in both (support 2); every rim edge sits
    in exactly one."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)], "src long, dst long"
    )
    out = {(r["u"], r["v"]): r["support"] for r in graph.edge_support(edges).collect()}
    assert out == {(1, 2): 1, (2, 3): 1, (3, 4): 1, (1, 4): 1, (1, 3): 2}


def test_edge_support_triangle_free_reports_zero(spark):
    """A path has no triangles; every edge reports support 0 (left-join
    completion, not row loss)."""
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    out = {(r["u"], r["v"]): r["support"] for r in graph.edge_support(edges).collect()}
    assert out == {(1, 2): 0, (2, 3): 0}


# -------------------------------------------------------------- k-truss


def test_ktruss_peels_pendant_triangle_chain(spark):
    """Two triangles sharing node 3 plus a pendant edge: the 3-truss
    (support >= 1) keeps both triangles and drops the pendant; each
    surviving edge sits in exactly its own triangle."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5), (5, 6)],
        "src long, dst long",
    )
    out = {(r["u"], r["v"]): r["support"] for r in graph.ktruss(edges, k=3).collect()}
    assert out == {
        (1, 2): 1, (2, 3): 1, (1, 3): 1,
        (3, 4): 1, (4, 5): 1, (3, 5): 1,
    }


def test_ktruss_cascade_needs_recount(spark):
    """K4 minus one edge (1-2, 1-3, 1-4, 2-3, 2-4): the 4-truss
    (support >= 2) first drops 3-x edges... iterating matters: edges
    (1,2) start at support 2 but lose it once their certifying
    triangles break. Fixpoint is empty."""
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)], "src long, dst long"
    )
    assert graph.ktruss(edges, k=4, max_rounds=4).count() == 0


def test_ktruss_k4_keeps_k4(spark):
    """The complete graph K4 is its own 4-truss: every edge in 2
    triangles."""
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    out = graph.ktruss(edges, k=4).collect()
    assert len(out) == 6 and all(r["support"] == 2 for r in out)


def test_ktruss_validates_args(spark):
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        graph.ktruss(edges, k=2)
    with pytest.raises(ValueError):
        graph.ktruss(edges, k=4, max_rounds=0)


# ----------------------------------------------------------- Adamic-Adar


def test_adamic_adar_scores_and_excludes_edges(spark):
    """Path 1-2-3 plus 3-4: pair (1,3) is adjacent (excluded); (1,3)?
    no — (1,3) is NOT an edge here. Wedges: center 2 -> (1,3); center 3
    -> (2,4). Each center has degree 2 -> contribution 1/ln(2)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    rows = {(r["u"], r["v"]): r for r in graph.adamic_adar(edges, top_n=10).collect()}
    import math
    micro = round(round(1.0 / math.log(2.0), 6) * 1e6)
    assert set(rows) == {(1, 3), (2, 4)}
    for r in rows.values():
        assert r["common_neighbors"] == 1
        assert r["aa_micro"] == micro


def test_adamic_adar_existing_edges_are_anti_joined(spark):
    """Triangle 1-2-3: every 2-path closes an existing edge, so there
    are no predictions."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    assert graph.adamic_adar(edges, top_n=10).count() == 0


def test_adamic_adar_hub_cap_drops_center(spark):
    """Star center 9 connects 1..4 (degree 4); with max_degree=3 the
    star's wedges vanish and nothing is predicted."""
    edges = spark.createDataFrame(
        [(9, 1), (9, 2), (9, 3), (9, 4)], "src long, dst long"
    )
    assert graph.adamic_adar(edges, top_n=10).count() == 6  # C(4,2) via center 9
    assert graph.adamic_adar(edges, top_n=10, max_degree=3).count() == 0


def test_adamic_adar_more_common_neighbors_rank_higher(spark):
    """Pairs (1,2) and (5,6) each share two degree-2 centers; (3,4)
    shares only one: the two-witness pairs outrank the one-witness pair,
    and the equal-score tie breaks on (u, v) ascending."""
    edges = spark.createDataFrame(
        [(1, 5), (2, 5), (1, 6), (2, 6), (3, 7), (4, 7)],
        "src long, dst long",
    )
    out = graph.adamic_adar(edges, top_n=3).collect()
    assert [(r["u"], r["v"], r["common_neighbors"]) for r in out] == [
        (1, 2, 2),
        (5, 6, 2),
        (3, 4, 1),
    ]
    assert out[0]["aa_micro"] == out[1]["aa_micro"] > out[2]["aa_micro"]


# -------------------------------------------------------- n-gram novelty


def test_ngram_novelty_first_doc_wins(spark):
    from datapipelines_essentials_python_spark.operators.chunking import (
        ngram_novelty,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d"),       # both 3-gram windows first seen here
            (2, "a b c x"),       # shares window 'a b c' -> 1 of 2 novel
            (3, "a b"),           # shorter than window -> (0, 0, 1.0)
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ngram_novelty(df, window=3).collect()}
    assert (out[1]["n_windows"], out[1]["n_novel"]) == (2, 2)
    assert (out[2]["n_windows"], out[2]["n_novel"]) == (2, 1)
    assert out[2]["novelty_ratio"] == 0.5
    assert (out[3]["n_windows"], out[3]["n_novel"], out[3]["novelty_ratio"]) == (
        0, 0, 1.0,
    )


def test_ngram_novelty_distinct_windows_within_doc(spark):
    """A doc repeating its own fresh phrase counts it once: 'a b a b'
    at window 2 has windows {ab, ba} distinct -> 2 windows, both novel."""
    from datapipelines_essentials_python_spark.operators.chunking import (
        ngram_novelty,
    )

    df = spark.createDataFrame([(7, "a b a b")], "doc_id long, text string")
    r = ngram_novelty(df, window=2).collect()[0]
    assert (r["n_windows"], r["n_novel"], r["novelty_ratio"]) == (2, 2, 1.0)


def test_ngram_novelty_no_ranking_window_in_plan(spark):
    """The scale contract: first-occurrence is a combinable min agg, not
    a row_number over the fingerprint — no WindowExec in the plan."""
    from datapipelines_essentials_python_spark.operators.chunking import (
        ngram_novelty,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = ngram_novelty(df, window=2)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


# ------------------------------------------------------------------ BFS


def test_bfs_distances_layers_and_cap(spark):
    """Path 1-2-3-4-5 from seed {1}: hop layers are exact; max_hops=2
    truncates at distance 2 (node 4, 5 absent)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    full = {r["node"]: r["dist"] for r in graph.bfs_distances(edges, seeds, max_hops=4).collect()}
    assert full == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}
    capped = {r["node"]: r["dist"] for r in graph.bfs_distances(edges, seeds, max_hops=2).collect()}
    assert capped == {1: 0, 2: 1, 3: 2}


def test_bfs_distances_multi_source_min(spark):
    """Seeds {1, 5} on the path 1-2-3-4-5: node 3 is 2 hops from both,
    node 4 is 1 hop from seed 5 — the min wins."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (5,)], "node long")
    out = {r["node"]: r["dist"] for r in graph.bfs_distances(edges, seeds, max_hops=3).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 1, 5: 0}


def test_bfs_distances_disconnected_and_foreign_seed(spark):
    """A seed not in the graph still reports dist 0; the disconnected
    component stays absent."""
    edges = spark.createDataFrame([(1, 2), (8, 9)], "src long, dst long")
    seeds = spark.createDataFrame([(1,), (99,)], "node long")
    out = {r["node"]: r["dist"] for r in graph.bfs_distances(edges, seeds, max_hops=3).collect()}
    assert out == {1: 0, 2: 1, 99: 0}


def test_exact_substring_dedup_no_ranking_window_in_plan(spark):
    """Scale contract: first-occurrence marking is a combinable
    min(struct) agg on the fingerprint, not a row_number window — no
    WindowExec anywhere in the plan."""
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], "doc_id long, text string"
    )
    plan = (
        exact_substring_dedup(df, window_size=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
