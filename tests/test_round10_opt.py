"""Round-10 graph tests.

1. k-truss peel loop: ``graph.ktruss`` recounts support every round; it
   is checked against a pure-Python recount-per-round reference
   (adjacency sets and intersections, no Spark) with the ``max_rounds``
   cap binding and not, and its checkpointing path against the lazy
   plan-shape mode.

2. Frontier-loop fold gate (VERDICT r09 item 1): the round-9 per-round
   keyed fold repartition is now applied only when its row-derived
   width exceeds what AQE's coalescing would give (``_fold_parts``) —
   at small widths it was a driver-confirmed regression (an extra
   exchange + lost map-side combine for no recruited parallelism).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datapipelines_essentials_python_spark.operators import graph


def _sup_map(df):
    return {(r["u"], r["v"]): r["support"] for r in df.collect()}


# ------------------------------------------------ k-truss peel


def _python_support(edges):
    """Triangle support per canonical edge: |N(u) ∩ N(v)|."""
    nbrs = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    return {(u, v): len(nbrs[u] & nbrs[v]) for u, v in edges}


def _python_ktruss(pairs, k, max_rounds):
    """Recount-per-round reference: peel every edge with support below
    k - 2, recount on the survivors, stop at the fixpoint or after
    ``max_rounds`` peels (then one closing recount)."""
    edges = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    for _ in range(max_rounds):
        sup = _python_support(edges)
        kept = {e for e, s in sup.items() if s >= k - 2}
        if kept == edges:
            return sup
        edges = kept
    return _python_support(edges)


def test_ktruss_matches_python_recount_reference(spark):
    """Two K4s bridged by a triangle chain plus noise edges: the bridge
    cascades away over several rounds, so at max_rounds 1 and 2 the cap
    binds and at 4 the fixpoint is reached."""
    pairs = [
        # K4 A
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        # bridge triangles that cascade away
        (4, 5), (5, 6), (4, 6), (6, 7), (7, 8), (6, 8),
        # K4 B
        (8, 9), (8, 10), (8, 11), (9, 10), (9, 11), (10, 11),
        # noise
        (2, 12), (12, 13),
    ]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    for k in (3, 4):
        for rounds in (1, 2, 4):
            got = _sup_map(
                graph.ktruss(edges, k=k, max_rounds=rounds, materialize=True)
            )
            assert got == _python_ktruss(pairs, k, rounds), (k, rounds)


def test_ktruss_materialized_matches_plan_mode(spark):
    """The checkpointing path (materialize=True, what the bench runs)
    returns the same integers as the lazy plan-shape mode."""
    pairs = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4),
        (4, 5), (5, 6), (4, 6), (1, 5),
    ]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = _sup_map(graph.ktruss(edges, k=4, max_rounds=3, materialize=True))
    want = _sup_map(graph.ktruss(edges, k=4, max_rounds=3, materialize=False))
    assert got == want


# ------------------------------------------------ frontier fold gate


def test_fold_parts_gates_small_widths(spark):
    """_fold_parts returns None at or below _FOLD_MIN_PARTS (the keyed
    repartition would recruit no parallelism AQE doesn't already give)
    and the row-derived width above it — at any core count."""
    small = spark.range(10).select(F.col("id").alias("x"))
    assert graph._fold_parts(small) is None
    # rows argument bypasses the count: 399_999 rows -> parts 4, gated
    assert graph._fold_parts(small, rows=399_999) is None
    # 400_001 rows -> parts 5, capped at the core count, then gated
    width = min(5, spark.sparkContext.defaultParallelism)
    want = width if width > graph._FOLD_MIN_PARTS else None
    assert graph._fold_parts(small, rows=400_001) == want


def test_bfs_results_identical_with_and_without_materialize(spark):
    """The gated fold path (materialize=True) and the pure-plan path
    agree — the gate changes scheduling, never results."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (2, 6)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in graph.bfs_distances(edges, seeds, max_hops=3).collect()
    }
    want = {
        r["node"]: r["dist"]
        for r in graph.bfs_distances(
            edges, seeds, max_hops=3, materialize=False
        ).collect()
    }
    assert got == want and got[1] == 0 and got[2] == 1
