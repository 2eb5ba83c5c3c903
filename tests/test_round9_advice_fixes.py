"""Round-9 regression tests for the r8 ADVICE lows.

Each test pins one fixed edge case:
- mann_kendall: single-point keys surface (s_stat=0, flat) instead of
  vanishing through the inner join.
- grid_dbscan: cell indices outside the injective encoding range raise
  instead of silently colliding.
- psi_drift / chi2_drift: NULL values get the dedicated -1 bucket, not
  bucket 0.
- ndcg_at_k: queries that retrieved zero rows within top-k still emit
  a zero row instead of vanishing from the output.
"""
from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from datapipelines_essentials_python_spark.operators import relational as rel


def test_mann_kendall_single_point_key_surfaces(spark):
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("a", 3, 30), ("solo", 7, 99)],
        "k string, t int, y int",
    )
    rows = {
        r["key"]: r
        for r in rel.mann_kendall(df, "k", "t", "y").collect()
    }
    assert set(rows) == {"a", "solo"}
    solo = rows["solo"]
    assert solo["n_points"] == 1
    assert solo["s_stat"] == 0
    assert solo["var18"] == 0
    assert solo["mk_z"] == 0.0
    assert solo["trend"] == "flat"
    # the multi-point key is unaffected
    assert rows["a"]["s_stat"] == 3
    assert rows["a"]["trend"] == "increasing"


def test_grid_dbscan_rejects_out_of_range_cells(spark):
    # eps 0.001 on coordinates ~1e4 → cell index ~1e7, far outside the
    # injective [-1e6, 3e6) packing range: must raise, not mislabel.
    pts = spark.createDataFrame(
        [(i, 10_000.0 + i, 10_000.0) for i in range(5)],
        "pid long, x double, y double",
    )
    with pytest.raises(ValueError, match="injective encoding"):
        rel.grid_dbscan(pts, "pid", "x", "y", eps=0.001, min_pts=1).collect()


def test_grid_dbscan_in_range_still_works(spark):
    pts = spark.createDataFrame(
        [(i, 0.05 * (i % 3), 0.05 * (i // 3)) for i in range(9)],
        "pid long, x double, y double",
    )
    out = rel.grid_dbscan(pts, "pid", "x", "y", eps=0.2, min_pts=1).collect()
    assert sum(r["n_points"] for r in out) == 9


def test_psi_drift_nulls_get_dedicated_bucket(spark):
    df = spark.createDataFrame(
        [(None, True), (None, False), (5.0, True), (50.0, False)],
        "v double, is_ref boolean",
    )
    out = {
        r["bucket"]: (r["n_ref"], r["n_cur"])
        for r in rel.psi_drift(df, "v", F.col("is_ref"), [10.0]).collect()
    }
    # NULLs land in -1, not in bucket 0 (5.0 alone is below the edge)
    assert out[-1] == (1, 1)
    assert out[0] == (1, 0)
    assert out[1] == (0, 1)


def test_chi2_drift_nulls_get_dedicated_bucket(spark):
    df = spark.createDataFrame(
        [(None, True), (5.0, True), (50.0, False)],
        "v double, is_ref boolean",
    )
    out = {
        r["bucket"]: (r["n_ref"], r["n_cur"])
        for r in rel.chi2_drift(df, "v", F.col("is_ref"), [10.0]).collect()
    }
    assert out[-1] == (1, 0)
    assert out[0] == (1, 0)
    assert out[1] == (0, 1)


def test_ndcg_zero_retrieved_query_emits_zero_row(spark):
    from datapipelines_essentials_python_spark.operators.similarity import (
        ndcg_at_k,
    )

    # query 1 retrieved two rows; query 2 retrieved NOTHING but has
    # relevant documents in the corpus — it must appear with zeros.
    ranked = spark.createDataFrame(
        [(1, 1, True), (1, 2, False)], "q long, pos long, rel boolean"
    )
    totals = spark.createDataFrame([(1, 3), (2, 5)], "q long, n_rel long")
    out = {
        r["query"]: r
        for r in ndcg_at_k(ranked, "q", "pos", "rel", totals, k=10).collect()
    }
    assert set(out) == {1, 2}
    ghost = out[2]
    assert ghost["n_retrieved"] == 0
    assert ghost["n_relevant_total"] == 5
    assert ghost["dcg_micro"] == 0
    assert ghost["ndcg"] == 0.0
    assert ghost["mrr_micro"] == 0
    assert out[1]["n_retrieved"] == 2
    assert out[1]["mrr_micro"] == 1_000_000


def test_exact_substring_dedup_fully_duplicated_long_doc(spark):
    """Interval-merge hardening (r8 verdict item 4): a >=5k-token fully
    duplicated document must reassemble in O(tokens), not
    O(tokens x removals) — the unmerged form evaluates ~2.5e7 lambda
    terms for this input; merged it is one interval. Wall-clock bound
    plus exact removal accounting."""
    import time

    from datapipelines_essentials_python_spark.operators.chunking import (
        exact_substring_dedup,
    )

    n_tok = 5_000
    text = " ".join(f"tok{i}" for i in range(n_tok))
    df = spark.createDataFrame(
        [(0, text), (1, text)], "doc_id long, text string"
    )
    t0 = time.monotonic()
    rows = {
        r["doc_id"]: r
        for r in exact_substring_dedup(df, "text", "doc_id", 8).collect()
    }
    elapsed = time.monotonic() - t0
    # doc 0 is the first occurrence of every window and keeps all tokens;
    # doc 1's windows are all later occurrences -> one merged interval
    # covering the entire doc, empty text_clean.
    assert rows[0]["n_tokens_removed"] == 0
    assert rows[0]["n_tokens_total"] == n_tok
    assert rows[1]["n_tokens_removed"] == n_tok
    assert rows[1]["text_clean"] == ""
    # generous bound: the quadratic form takes minutes on this input
    assert elapsed < 60, f"reassembly took {elapsed:.1f}s"


def test_exact_substring_dedup_disjoint_intervals(spark):
    """Two duplicated passages separated by unique text merge into two
    disjoint intervals; unique middle tokens survive."""
    from datapipelines_essentials_python_spark.operators.chunking import (
        exact_substring_dedup,
    )

    dup_a = " ".join(f"a{i}" for i in range(10))
    dup_b = " ".join(f"b{i}" for i in range(10))
    uniq = " ".join(f"u{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            (0, dup_a + " " + dup_b),
            (1, dup_a + " " + uniq + " " + dup_b),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in exact_substring_dedup(df, "text", "doc_id", 8).collect()
    }
    assert rows[0]["n_tokens_removed"] == 0
    # doc 1 loses both 10-token duplicated passages, keeps the middle
    assert rows[1]["n_tokens_removed"] == 20
    assert rows[1]["text_clean"] == uniq


def test_diff_in_diff_degenerate_cells_yield_null_not_nan(spark):
    """An empty or single-row cell must produce NULL did/se/t (and
    significant=False), never NaN leaking from 0/0 or /(n-1)=0."""
    import math

    # control-post cell EMPTY; treat-pre has a single row
    df = spark.createDataFrame(
        [(True, False, 100), (True, True, 120), (True, True, 130),
         (False, False, 90), (False, False, 95)],
        "t boolean, p boolean, v int",
    )
    r = rel.diff_in_diff(df, F.col("t"), F.col("p"), "v").collect()[0]
    assert r["did"] is None  # empty c_post cell -> not estimable
    assert r["se"] is None
    assert r["t_stat"] is None
    assert r["significant"] is False

    # all cells populated but one has n=1 -> did estimable, se not
    df2 = spark.createDataFrame(
        [(True, False, 100), (True, True, 120), (True, True, 130),
         (False, False, 90), (False, False, 95), (False, True, 99)],
        "t boolean, p boolean, v int",
    )
    r2 = rel.diff_in_diff(df2, F.col("t"), F.col("p"), "v").collect()[0]
    assert r2["did"] is not None and not math.isnan(r2["did"])
    assert r2["se"] is None
    assert r2["t_stat"] is None
    assert r2["significant"] is False

    # healthy cells: everything estimable, nothing NaN
    df3 = spark.createDataFrame(
        [(t, p, v + d)
         for t in (True, False) for p in (True, False)
         for d, v in enumerate((100, 105, 111))],
        "t boolean, p boolean, v int",
    )
    r3 = rel.diff_in_diff(df3, F.col("t"), F.col("p"), "v").collect()[0]
    for c in ("did", "se", "t_stat"):
        assert r3[c] is not None and not math.isnan(r3[c])
