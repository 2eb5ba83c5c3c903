"""Source adapter for the driver's TPC-H-ish testdata (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under ``/root/testdata/sf*/``.

Normalization applied here (and nowhere else):

- ``events.ts`` is normalized to plain ``TIMESTAMP`` (session-tz, pinned
  UTC) whatever the parquet encoding of the current testdata drop is:
  TIMESTAMP(NANOS) read as long under ``nanosAsLong`` (ns → µs via integer
  DIV — ns epoch values exceed 2^53 and would lose precision through a
  double), TIMESTAMP(MICROS) without tz read as ``TIMESTAMP_NTZ`` (cast,
  instant-preserving under the UTC session tz), or already ``TIMESTAMP``.
  Untyped-timezone parquet is the norm in real lakes; downstream operators
  get ONE timestamp semantic and never need per-site NTZ special cases.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at ANY scale factor (they are fixed
# size: 5 regions / 25 nations); bigger dims are left to AQE's runtime
# broadcast decision.
ALWAYS_BROADCAST = {"region", "nation"}


# Files below this size stay on one task (broadcast-sized dims: region,
# nation, supplier); bigger single-row-group files are fanned out.
_PARALLELIZE_MIN_BYTES = 512 * 1024

# Runtime-settable SQL confs this adapter REQUIRES, applied defensively so
# the queries also run under a caller-provided session (e.g. the driver's)
# that wasn't built by our session factory:
# - nanosAsLong: events.parquet is TIMESTAMP(NANOS), which Spark otherwise
#   rejects at scan time;
# - UTC session timezone: timestamp semantics must match the DuckDB oracle.
_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # see session.DEFAULT_CONFS — InferFiltersFromGenerate duplicates
    # every exploded expensive expression into a pre-exchange Filter
    "spark.sql.optimizer.excludedRules": "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


_CONFS_APPLIED: "weakref.WeakSet[SparkSession]" = None  # type: ignore[assignment]


def ensure_session_confs(spark: SparkSession) -> None:
    global _CONFS_APPLIED
    import weakref

    if _CONFS_APPLIED is None:
        _CONFS_APPLIED = weakref.WeakSet()
    if spark in _CONFS_APPLIED:
        return
    for key, value in _REQUIRED_CONFS.items():
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:  # pragma: no cover — static conf in exotic deploys
            pass
    _CONFS_APPLIED.add(spark)


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to plain ``TIMESTAMP`` regardless of
    how the parquet encoded it (see module docstring). Relies on the UTC
    session timezone for the NTZ cast to be instant-preserving."""
    dtype = df.schema[col].dataType
    if isinstance(dtype, LongType):  # TIMESTAMP(NANOS) under nanosAsLong
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    if isinstance(dtype, TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallelize: bool = False
) -> DataFrame:
    """Load one testdata table.

    ``parallelize=True`` fans an under-parallel scan out to all cores and is
    meant ONLY for pipelines whose next stages are heavy narrow per-row CPU
    (sketching, hashing, vector math): a parquet row group is indivisible,
    and the driver's testdata ships ONE row group per table, so without it
    that CPU work runs on a single core. For relational queries (whose
    first real operator is a shuffle anyway) the extra exchange is pure
    loss — leave it off. At real scale (row groups ≥ cores) the gate makes
    it a no-op either way, so production plans never pay a second exchange.
    Catalyst still pushes filters/pruning through the repartition to the
    scan (verified: PushedFilters on the FileScan).
    """
    ensure_session_confs(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    df = spark.read.parquet(path)
    if name == "events":
        df = normalize_event_ts(df)
    if parallelize:
        import os

        target = spark.sparkContext.defaultParallelism
        try:
            fsize = os.path.getsize(path)
        except OSError:
            fsize = 0
        if fsize >= _PARALLELIZE_MIN_BYTES and df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
    return df
