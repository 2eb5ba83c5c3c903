"""Unit/property tests for the round-8 fourth batch: Hilbert-curve
layout keys, Salton cosine link prediction, and the near-dup threshold
sensitivity sweep.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapipelines_essentials_python_spark.functions.hashing import with_hilbert_key
from datapipelines_essentials_python_spark.operators import graph
from datapipelines_essentials_python_spark.operators.dedup import (
    threshold_sensitivity,
)


# ------------------------------------------------- Hilbert


def _xy2d(n: int, x: int, y: int) -> int:
    """Sequential reference (the public rotate-and-fold walk)."""
    d, s = 0, n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_matches_sequential_walk_exhaustively(spark):
    """Every cell of the 32x32 grid (bits=5) maps to the reference d."""
    n = 32
    rows = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["hkey"]
        for r in with_hilbert_key(df, "x", "y", bits=5).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == _xy2d(n, x, y), (x, y)


def test_hilbert_is_bijective_with_unit_steps(spark):
    """The 16x16 keys are a permutation of 0..255 and consecutive keys
    are Manhattan-adjacent cells — the locality property that beats
    Morton order (which takes diagonal jumps)."""
    n = 16
    df = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "x long, y long"
    )
    out = with_hilbert_key(df, "x", "y", bits=4).collect()
    by_d = {r["hkey"]: (r["x"], r["y"]) for r in out}
    assert sorted(by_d) == list(range(n * n))
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = by_d[d], by_d[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, d


# ------------------------------------------------- Salton cosine


def test_salton_cosine_values(spark):
    """Star 1-{2,3,4} plus edge 2-3: non-adjacent pairs through center 1
    are (2,4) and (3,4); both have 1 common neighbor; deg(2)=deg(3)=2,
    deg(4)=1 → cos = 1/sqrt(2) = 0.707107 for both."""
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3)], "src long, dst long"
    )
    got = {
        (r["u"], r["v"]): (r["common_neighbors"], r["cos_micro"])
        for r in graph.salton_cosine(edges, top_n=10).collect()
    }
    assert got == {(2, 4): (1, 707107), (3, 4): (1, 707107)}


def test_salton_vs_jaccard_degree_imbalance(spark):
    """A hub-leaf candidate pair: Jaccard divides by the UNION (hub
    degree dominates), cosine by the geometric mean — so cosine ranks
    the imbalanced pair HIGHER than Jaccard does. Both come off the
    same shared wedge machinery."""
    # hub 1 adjacent to 2..6; leaf 7 adjacent to 2 only -> candidate
    # pair (1,7): common=1, deg(1)=5, deg(7)=1
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5), (1, 6), (7, 2)], "src long, dst long"
    )
    cos = {
        (r["u"], r["v"]): r["cos_micro"]
        for r in graph.salton_cosine(edges, top_n=50).collect()
    }
    jac = {
        (r["u"], r["v"]): r["jac_micro"]
        for r in graph.neighbor_jaccard(edges, top_n=50).collect()
    }
    assert cos[(1, 7)] == round(round(1 / (5 * 1) ** 0.5, 6) * 1e6)
    assert jac[(1, 7)] == round(round(1 / (5 + 1 - 1), 6) * 1e6)
    assert cos[(1, 7)] > jac[(1, 7)]
    assert set(cos) == set(jac)  # same candidate set from the shared pass


def test_salton_validates_top_n(spark):
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="top_n"):
        graph.salton_cosine(edges, top_n=0)


# ------------------------------------------------- threshold sweep


def test_threshold_sweep_counts_and_monotonicity(spark):
    """Three near-identical docs + one moderately similar + noise: the
    loose threshold merges more docs into fewer clusters; every metric
    is non-increasing as the threshold tightens."""
    docs = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),
        (3, "the quick brown fox jumps over the lazy cat", "en"),
        (4, "a completely different document about spark", "en"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    out = {
        r["threshold"]: (
            r["n_docs_in_pairs"],
            r["n_clusters"],
            r["n_dups_removed"],
        )
        for r in threshold_sensitivity(
            df, "doc_id", "text", thresholds=[0.3, 0.99], block_col="lang"
        ).collect()
    }
    # exact dup pair (1,2) survives any threshold; doc 3 only the loose one
    assert out[0.99] == (2, 1, 1)
    assert out[0.3][0] >= 3 and out[0.3][2] >= out[0.99][2]


def test_threshold_sweep_empty_at_impossible_threshold(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "en"), (2, "zeta eta theta iota", "en")],
        "doc_id long, text string, lang string",
    )
    rows = threshold_sensitivity(
        df, "doc_id", "text", thresholds=[0.9], block_col="lang"
    ).collect()
    assert rows[0]["n_docs_in_pairs"] == 0 and rows[0]["n_dups_removed"] == 0


def test_threshold_sweep_validates(spark):
    df = spark.createDataFrame([(1, "x", "en")], "doc_id long, text string, lang string")
    with pytest.raises(ValueError, match="at least one threshold"):
        threshold_sensitivity(df, "doc_id", "text", thresholds=[])
