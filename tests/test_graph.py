"""Unit tests for operators.graph — PageRank power iteration."""

import pytest
from pyspark.sql import functions as F

from datapipelines_essentials_python_spark.operators import graph


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_pagerank_two_node_cycle_is_stationary(spark):
    """a↔b is already the stationary distribution: every iteration keeps
    0.5 / 0.5 exactly."""
    ranks = graph.pagerank(_edges(spark, [("a", "b"), ("b", "a")]), iterations=5)
    out = {r["node"]: r["rank"] for r in ranks.collect()}
    assert out == {"a": 0.5, "b": 0.5}


def test_pagerank_dangling_mass_redistributes(spark):
    """a→b with b dangling: after one step r(a) = 0.15/2 + 0.85·(0.5/2)
    and r(b) = 0.15/2 + 0.85·0.5 + 0.85·(0.5/2) — the dangling node's
    mass returns uniformly instead of leaking, so ranks still sum to 1."""
    edges = _edges(spark, [("a", "b")])
    ranks = graph.pagerank(edges, iterations=1)
    out = {r["node"]: r["rank"] for r in ranks.collect()}
    assert out["a"] == pytest.approx(0.075 + 0.85 * 0.25, abs=1e-6)
    assert out["b"] == pytest.approx(0.075 + 0.85 * 0.5 + 0.85 * 0.25, abs=1e-6)
    assert sum(out.values()) == pytest.approx(1.0, abs=1e-5)


def test_pagerank_star_hub_dominates(spark):
    """Symmetric star (hub↔3 spokes): the hub outranks every spoke and
    spokes tie exactly (they are automorphic)."""
    pairs = []
    for s in ("s1", "s2", "s3"):
        pairs += [("hub", s), (s, "hub")]
    out = {r["node"]: r["rank"] for r in graph.pagerank(_edges(spark, pairs), iterations=8).collect()}
    assert out["hub"] > out["s1"]
    assert out["s1"] == out["s2"] == out["s3"]
    assert sum(out.values()) == pytest.approx(1.0, abs=1e-4)


def test_pagerank_matches_driver_side_reference(spark):
    """Distributed iterations equal a sequential NumPy-free reference on
    an asymmetric digraph with a dangling node, at every iteration's
    6-dp rounding."""
    pairs = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("a", "d")]
    # d is dangling (no out-edges)
    nodes = sorted({x for p in pairs for x in p})
    n = len(nodes)
    outdeg = {}
    for s, _ in pairs:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = {v: 1.0 / n for v in nodes}
    for _ in range(3):
        contrib = {v: 0.0 for v in nodes}
        for s, t in pairs:
            contrib[t] += round(r[s] / outdeg[s], 12)
        dangling = sum(round(r[v], 12) for v in nodes if v not in outdeg)
        r = {
            v: round((1.0 - 0.85) / n + 0.85 * contrib[v] + 0.85 * dangling / n, 6)
            for v in nodes
        }
    got = {
        row["node"]: row["rank"]
        for row in graph.pagerank(_edges(spark, pairs), iterations=3).collect()
    }
    assert got == pytest.approx(r, abs=2e-6)


def test_hits_hand_computed(spark):
    """h→{a1,a2}, g→a1 — alternating updates with L2 normalization,
    computed through 2 iterations replaying the exact quantization (12-dp
    contributions, 4-dp norm squares, 6-dp scores): iter1 auth =
    indegree/√5, hubs follow; iter2 sharpens a1 over a2 and h over g.
    Sources carry authority 0, sinks hub 0."""
    e = _edges(spark, [("h", "a1"), ("h", "a2"), ("g", "a1")])
    out = {r["node"]: (r["hub"], r["authority"]) for r in graph.hits(e, 2).collect()}
    assert out["a1"] == (0.0, pytest.approx(0.857490, abs=1e-6))
    assert out["a2"] == (0.0, pytest.approx(0.514494, abs=1e-6))
    assert out["h"] == (pytest.approx(0.848003, abs=1e-6), 0.0)
    assert out["g"] == (pytest.approx(0.530002, abs=1e-6), 0.0)
    # L2 norms ≈ 1 on each side
    assert sum(v[1] ** 2 for v in out.values()) == pytest.approx(1.0, abs=1e-4)
    assert sum(v[0] ** 2 for v in out.values()) == pytest.approx(1.0, abs=1e-4)


def test_hits_symmetric_cycle_uniform(spark):
    """a↔b: both nodes are simultaneously equal hubs and equal
    authorities — scores are 1/√2 on both axes."""
    out = {
        r["node"]: (r["hub"], r["authority"])
        for r in graph.hits(_edges(spark, [("a", "b"), ("b", "a")]), 3).collect()
    }
    inv_sqrt2 = pytest.approx(0.707107, abs=1e-6)
    assert out["a"] == (inv_sqrt2, inv_sqrt2)
    assert out["b"] == (inv_sqrt2, inv_sqrt2)


def test_hits_rejects_zero_iterations(spark):
    with pytest.raises(ValueError):
        graph.hits(_edges(spark, [("a", "b")]), iterations=0)


def test_pagerank_rejects_zero_iterations(spark):
    with pytest.raises(ValueError):
        graph.pagerank(_edges(spark, [("a", "b")]), iterations=0)


def test_out_degrees_and_init(spark):
    edges = _edges(spark, [("a", "b"), ("a", "c"), ("b", "c")])
    deg = {r["node"]: r["outdeg"] for r in graph.out_degrees(edges).collect()}
    assert deg == {"a": 2, "b": 1}
    init = graph.init_ranks(edges).collect()
    assert {r["node"] for r in init} == {"a", "b", "c"}
    assert all(r["rank"] == pytest.approx(1 / 3) for r in init)


def _wedges(spark, triples):
    return spark.createDataFrame(triples, "src string, dst string, w long")


def test_pagerank_tol_early_exit_on_converged_graph(spark, monkeypatch):
    """The a↔b cycle is stationary from iteration 1, so with ``tol`` the
    loop must stop after ONE step (L1 delta = 0 < tol) instead of
    burning all 10 — the step counter proves it; the ranks are still
    exact."""
    calls = {"n": 0}
    real_step = graph._pagerank_iteration

    def counting_step(*args, **kwargs):
        calls["n"] += 1
        return real_step(*args, **kwargs)

    monkeypatch.setattr(graph, "_pagerank_iteration", counting_step)
    ranks = graph.pagerank(
        _edges(spark, [("a", "b"), ("b", "a")]), iterations=10, tol=1e-9
    )
    out = {r["node"]: r["rank"] for r in ranks.collect()}
    assert out == {"a": 0.5, "b": 0.5}
    assert calls["n"] == 1

    # without tol, all 10 iterations run
    calls["n"] = 0
    graph.pagerank(_edges(spark, [("a", "b"), ("b", "a")]), iterations=10).collect()
    assert calls["n"] == 10


def test_pagerank_step_plan_two_data_shuffles(spark):
    """Plan guard for the docstring's scale contract: one step over
    checkpointed state shuffles the EDGE list (the only table-sized
    relation at 100 TB) exactly once — hash-partitioned on src for the
    contribution join — and the contributions exactly once on dst; the
    dangling mass arrives as a broadcast 1-row aggregate, never a
    cartesian product. Remaining exchanges align node-sized rank/degree
    state for the SMJs (AQE broadcasts them at real scale)."""
    import io as _io
    import re
    import contextlib

    edges = _edges(
        spark, [("a", "b"), ("b", "a"), ("a", "c")]
    ).localCheckpoint(eager=True)
    degrees = graph.out_degrees(edges).localCheckpoint(eager=True)
    ranks = graph.init_ranks(edges).localCheckpoint(eager=True)
    step = graph.pagerank_step(ranks, edges, degrees)
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        step.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    # the 1-row dangling aggregate is the only broadcast
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) == 1
    # edges (src,dst only) shuffle exactly once, keyed on src
    assert plan.count("hashpartitioning(src#") == 1
    # one dst-keyed partial→final aggregate pair (the contribution sum)
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 4  # 2 aggs × partial/final
    # ceiling: a regression that adds a shuffle (e.g. re-deriving degrees
    # per step) breaks this
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 8


def test_hits_half_step_plan_no_cartesian_one_broadcast_norm(spark, pinned_plans):
    """Plan guard for the HITS half-step over checkpointed state: the
    edge list (the only table-sized relation) shuffles once per
    half-step, on that half-step's join key, the L2 norm arrives as a
    broadcast 1-row aggregate, and nothing degenerates to a cartesian
    product. Every half-step is pinned, so the plans are read from the
    pins as they execute."""
    import re

    edges = _edges(spark, [("h", "a1"), ("h", "a2"), ("g", "a1")])
    graph.hits(edges, iterations=1).collect()
    assert not any("CartesianProduct" in p for p in pinned_plans)
    # the raw (pre-norm) sums: authorities join the edges on src, hubs
    # on dst — one edge exchange each, keyed on that half-step's key
    auth_raw, hub_raw = [p for p in pinned_plans if "ShuffledHashJoin" in p]
    assert auth_raw.count("hashpartitioning(src#") == 1
    assert "hashpartitioning(dst#" not in auth_raw
    assert hub_raw.count("hashpartitioning(dst#") == 1
    assert "hashpartitioning(src#" not in hub_raw
    # the normalized outputs: exactly one broadcast (the 1-row norm) each
    normed = [p for p in pinned_plans if "BroadcastNestedLoopJoin" in p]
    assert len(normed) == 2
    for p in normed:
        assert len(re.findall(r"\(\d+\) BroadcastExchange", p)) == 1


def test_weighted_pagerank_uniform_weights_equal_unweighted(spark):
    """With every weight equal, the weighted share w/W is exactly
    1/outdeg, so weighted PageRank reproduces the unweighted ranks
    bit-for-bit."""
    pairs = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")]
    un = {
        r["node"]: r["rank"]
        for r in graph.pagerank(_edges(spark, pairs), iterations=3).collect()
    }
    we = {
        r["node"]: r["rank"]
        for r in graph.pagerank(
            _wedges(spark, [(s, t, 7) for s, t in pairs]),
            iterations=3,
            weight_col="w",
        ).collect()
    }
    assert un == we


def test_weighted_pagerank_follows_the_heavy_edge(spark):
    """a sends 9/10 of its mass to b and 1/10 to c → b outranks c."""
    out = {
        r["node"]: r["rank"]
        for r in graph.pagerank(
            _wedges(spark, [("a", "b", 9), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)]),
            iterations=6,
            weight_col="w",
        ).collect()
    }
    assert out["b"] > out["c"]
    assert sum(out.values()) == pytest.approx(1.0, abs=1e-4)


def test_weighted_pagerank_negative_weight_clamps_to_zero(spark):
    """A negative edge weight clamps to 0 share (graph._clamped_weight):
    a −5 edge alongside a +1 edge behaves exactly like a 0-weight edge
    alongside a +1 edge — no negative transition shares, no negative
    ranks."""
    neg = {
        r["node"]: r["rank"]
        for r in graph.pagerank(
            _wedges(spark, [("a", "b", 1), ("a", "c", -5), ("b", "a", 1), ("c", "a", 1)]),
            iterations=4,
            weight_col="w",
        ).collect()
    }
    zero = {
        r["node"]: r["rank"]
        for r in graph.pagerank(
            _wedges(spark, [("a", "b", 1), ("a", "c", 0), ("b", "a", 1), ("c", "a", 1)]),
            iterations=4,
            weight_col="w",
        ).collect()
    }
    assert neg == zero
    assert all(v >= 0 for v in neg.values())


def test_weighted_pagerank_negative_weight_matches_sql_oracle(spark):
    """Engine vs oracle on a NEGATIVE-weight fixture (VERDICT r06 item 6):
    the oracle's wdeg/_PR_W_ITER now carry the same greatest(round(w,6),0)
    clamp as graph._clamped_weight, so both sides must agree bit-for-bit
    even when an all-negative source degrades to dangling. Runs the
    oracle's ACTUAL _PR_W_ITER template through DuckDB."""
    import duckdb

    from oracle_sql_defs import _PR_W_ITER

    triples = [
        ("a", "b", 3),
        ("a", "c", -7),   # clamps to 0: a's mass all flows to b
        ("b", "c", 2),
        ("c", "a", -1),   # c's only edge is negative → c is dangling
        ("b", "a", -4),   # clamps to 0 but b keeps a positive total
    ]
    got = {
        r["node"]: r["rank"]
        for r in graph.pagerank(
            _wedges(spark, triples), iterations=2, weight_col="w"
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE fixture_edges (src VARCHAR, dst VARCHAR, w BIGINT)")
    con.executemany("INSERT INTO fixture_edges VALUES (?, ?, ?)", triples)
    sql = f"""
WITH e AS MATERIALIZED (SELECT src, dst, w FROM fixture_edges),
wdeg AS MATERIALIZED (
  SELECT src AS node,
         CAST(sum(CAST(greatest(round(CAST(w AS DOUBLE), 6),
                                CAST(0.0 AS DOUBLE)) AS DECIMAL(18,6)))
              AS DOUBLE) AS outw
  FROM e GROUP BY 1
  HAVING CAST(sum(CAST(greatest(round(CAST(w AS DOUBLE), 6),
                                CAST(0.0 AS DOUBLE)) AS DECIMAL(18,6)))
              AS DOUBLE) > 0),
nodes AS MATERIALIZED (
  SELECT DISTINCT src AS node FROM e
  UNION
  SELECT DISTINCT dst AS node FROM e),
nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
r0 AS MATERIALIZED (
  SELECT node, CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE) AS "rank"
  FROM nodes CROSS JOIN nn),
{_PR_W_ITER.format(i=1, p=0)},
{_PR_W_ITER.format(i=2, p=1)}
SELECT node, "rank" FROM r2
"""
    want = {node: rank for node, rank in con.execute(sql).fetchall()}
    con.close()
    assert got == want


def test_weighted_pagerank_zero_weight_source_is_dangling(spark):
    """A source whose edges all weigh 0 contributes like a dangling node
    (uniform redistribution), not a division by zero."""
    out = {
        r["node"]: r["rank"]
        for r in graph.pagerank(
            _wedges(spark, [("a", "b", 1), ("b", "a", 0)]),
            iterations=1,
            weight_col="w",
        ).collect()
    }
    # same shape as the unweighted dangling test: b's mass returns uniformly
    assert out["a"] == pytest.approx(0.075 + 0.85 * 0.25, abs=1e-6)
    assert out["b"] == pytest.approx(0.075 + 0.85 * 0.5 + 0.85 * 0.25, abs=1e-6)
