"""Repartitioning helpers.

Capability parity (SURVEY.md §2.13 X3): reference
``data_frame_repartition`` (``utils/spark.py:119-147``) supports coalesce(n),
repartition(cols), and salted repartition. AQE supersedes most manual uses
for joins/aggs (SURVEY §4); these remain for *write* layout control.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapipelines_essentials_python_spark.functions.hashing import salted_key


def loop_parts(df: DataFrame, rows: int | None = None) -> int:
    """Row-derived width for iterative-loop state (round-9, guide §2.5):
    ~100k rows per task, capped at the cluster's core budget. ``rows``
    is the caller's observed row count (``df`` is counted when it is
    omitted), so the width tracks the loop state's size rather than a
    local[32] constant — at real scale it saturates at the cluster
    parallelism. The one home of this heuristic: the components loops
    pass it to :func:`static_loop_planning`, the graph loops to
    :func:`pinned_checkpoint`."""
    n = rows if rows is not None else df.count()
    par_cap = df.sparkSession.sparkContext.defaultParallelism
    return max(1, min(par_cap, n // 100_000 + 1))


@contextlib.contextmanager
def static_loop_planning(spark, shuffle_partitions: int | None = None):
    """Disable AQE while materializing ONE step of an iterative loop
    (round-9 optimization, guide §1.2 step 3 after steps 1-2).

    Iterative operators (components, peeling, power iterations)
    checkpoint a bounded, well-partitioned state table every round. AQE
    re-plans and schedules every Exchange of every round as its own
    stage-materialization job — measured on the grid-DBSCAN cell graph:
    ~80 anonymous AQE jobs and more DRIVER GAP time (6.4 s of planning/
    scheduling) than task time (5.9 s) for one query. Inside the loop
    the shapes AQE would adapt are already fixed by construction: the
    aggregates are map-side-combinable (hot keys partial-aggregate) and
    the per-round joins are degree-bounded. AQE remains ON for
    everything outside the loop — including the one-time corpus-sized
    pass that builds the loop's input.

    ``shuffle_partitions`` is REQUIRED in practice for loop steps (pass
    :func:`loop_parts`): without AQE's coalescing, every in-loop
    exchange otherwise inherits the session-wide
    ``spark.sql.shuffle.partitions`` — measured 84 s (tens of
    thousands of empty tasks) vs 5 s on the cell graph.

    Concurrency: the flip is a SESSION-wide conf change, so this is for
    single-threaded use per session only — a second thread running a
    query on the same session while the block is open plans without
    AQE (and with the loop's partition count). This context manager is
    the package's only writer of ``spark.sql.adaptive.enabled``."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", int(shuffle_partitions))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def pinned_checkpoint(df: DataFrame, *keys, parts: int | None = None) -> DataFrame:
    """Eager ``localCheckpoint`` that PRESERVES hash partitioning on
    ``keys`` (round-9, guide §2.4) — the shared-stage primitive for a
    DataFrame consumed by several operators that all want the same
    clustering (an iteration join keyed on ``keys``, an agg and a join
    on the same key, a distinct whose grouping keys are a superset of
    ``keys``).

    ``Dataset.localCheckpoint`` copies the physical plan's
    ``outputPartitioning`` into the checkpointed ``LogicalRDD``, but
    under AQE that plan is an ``AdaptiveSparkPlanExec`` reporting
    ``UnknownPartitioning(0)``, so each consumer would re-exchange (and
    re-compute the upstream projection feeding its exchange; inside an
    iterative loop, every iteration re-shuffles the big side).
    Materializing under :func:`static_loop_planning` keeps the hash
    layout visible: every consumer keyed on ``keys`` (or a superset)
    satisfies its required distribution with zero further exchanges.
    ``parts`` defaults to the session's ``spark.sql.shuffle.partitions``
    (the session factory sizes it from the core budget); loops pass
    :func:`loop_parts`, and wedge self-joins a width derived from their
    OUTPUT row count, since the exploding stage's input bytes
    under-state its work."""
    spark = df.sparkSession
    n = parts if parts else int(spark.conf.get("spark.sql.shuffle.partitions"))
    with static_loop_planning(spark):
        return df.repartition(n, *[F.col(k) for k in keys]).localCheckpoint(
            eager=True
        )


def data_frame_repartition(
    df: DataFrame,
    num_partitions: int | None = None,
    columns: list[str] | None = None,
    salt_buckets: int | None = None,
) -> DataFrame:
    """coalesce | repartition(cols) | salted repartition, one entry point.

    - only ``num_partitions``: ``coalesce`` (narrow, no shuffle);
    - only ``columns``: hash repartition by columns;
    - ``columns`` + ``salt_buckets``: repartition by a salted composite key
      (spreads hot keys across ``salt_buckets`` partitions — useful when one
      partition-by value dominates a write).
    """
    if columns and salt_buckets:
        key = salted_key(columns, salt_buckets)
        return df.repartition(*( [num_partitions] if num_partitions else [] ), key)
    if columns:
        cols = [F.col(c) for c in columns]
        if num_partitions:
            return df.repartition(num_partitions, *cols)
        return df.repartition(*cols)
    if num_partitions:
        return df.coalesce(num_partitions)
    return df
