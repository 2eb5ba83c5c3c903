"""Spark session factory.

Capability parity: reference ``src/com/vitthalmirji/utils/spark.py:11-53``
(``get_or_create_spark_session``) and ``utils/Utilities.py:248-267``; the
reference's global tuning conf ``conf/spark/sparkConf.conf:6-15`` is folded
into :data:`DEFAULT_CONFS`.

Differences from the reference, on purpose:

- AQE is enabled (coalesce + skew-join) — it supersedes the reference's
  hand-rolled ``revise_shuffle_partitions`` (``spark.py:105-116``) and the
  salted-repartition workaround for skewed joins (``spark.py:142-147``).
- ``spark.sql.session.timeZone`` is pinned to UTC so timestamp semantics are
  stable across engines (and match the DuckDB correctness oracle).
- Arrow is enabled for every pandas interchange path.
- The generated-code cache holds 4096 classes
  (``spark.sql.codegen.cache.maxEntries``; Spark's default is 100). The
  registry generates about 3,640 distinct classes, and one analytics pass
  of six queries about 160, so at 100 the LRU cache never hits and every
  pass compiles all of them again. Collecting all 273 ``queries()`` at
  sf0.01 twice in one session (4 vCPU) compiled 5,277 then 5,206
  classes at a cap of 100 (99.5 s and 80.2 s), and 3,642 then 179 at
  4096 (96.5 s and 64.3 s). The cost: metaspace 192 → 220 MB, code
  cache 121 → 150 MB. The cap is a static conf: it only applies to
  sessions this factory builds, not to an already-active one.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Carried from the reference conf block (sparkConf.conf:6-15) where still
# relevant on Spark 4, plus modern defaults the reference predates.
DEFAULT_CONFS: dict[str, str] = {
    # I/O pushdown + output hygiene (reference sparkConf.conf:6-12)
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.orc.filterPushdown": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.parquet.mergeSchema": "false",
    "spark.sql.hive.metastorePartitionPruning": "true",
    "spark.sql.broadcastTimeout": "1800",
    # Modern engine defaults (supersede reference's manual knobs, SURVEY §4)
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Round-9 (guide §4.4, generator form): InferFiltersFromGenerate turns
    # every explode(expensive_expr) into an inferred
    # ``size(expr) > 0 AND isnotnull(expr)`` Filter that DUPLICATES the
    # expression and is pushed below the fan-out repartition — measured on
    # source_minhash_matrix: the full corpus MinHash (md5 per shingle) ran
    # once in a single-task pre-exchange Filter (2.5 s) and again in the
    # 32-task Project. This engine explodes derived arrays (shingles,
    # signatures, token lists) everywhere, and those arrays are cheap to
    # emit but expensive to build, so the inferred pre-filter is a net
    # loss across the board; rows with empty arrays are dropped by the
    # generate itself in the same stage. Results are identical — the rule
    # only ever adds a redundant filter.
    "spark.sql.optimizer.excludedRules": "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # driver testdata writes events.ts as TIMESTAMP(NANOS) parquet, which
    # Spark rejects by default; read as long and convert at the source
    # adapter (tables.load_table) with DuckDB-matching truncation.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Generated-class cache (static conf). Spark's 100 entries is below
    # one analytics pass (q1 8, q5 18, text_quality 3, minhash_lsh 51,
    # ann_recall_lsh 43, lpa_communities 50 classes), so every pass
    # recompiled about 160 classes and Janino's doCompile held 24% of the
    # JVM's samples. The registry has ~3,640 distinct classes; at 4096 a
    # second sf0.01 round of all 273 queries compiles 179 classes instead
    # of 5,206 (80.2 s -> 64.3 s), for +28 MB metaspace, +29 MB code cache.
    "spark.sql.codegen.cache.maxEntries": "4096",
}


def default_parallelism() -> int:
    """CPU budget for local shuffle-partition sizing.

    Honors ``SPARK_GRAFT_CPUS`` (the bench driver's knob); falls back to the
    machine's CPU count. On a real cluster the AQE coalescer makes the exact
    number far less important — it only needs to be *enough*.
    """
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env and env.isdigit():
        return int(env)
    return os.cpu_count() or 8


def get_or_create_spark_session(
    app_name: str = "datapipelines_essentials_python_spark",
    master: str | None = None,
    enable_hive: bool = False,
    extra_confs: dict[str, str] | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Idempotent session factory (reference ``spark.py:11-53`` semantics).

    Reuses an active session when one exists (matching the reference's
    get-or-create contract); otherwise builds one with the engine defaults.
    ``extra_confs`` wins over :data:`DEFAULT_CONFS`.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    cores = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cores}]")

    confs = dict(DEFAULT_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cores)
    # Local mode runs driver + all executor threads in ONE JVM whose
    # default heap is spark.driver.memory=1g — 32 task threads plus a
    # 64 MB-threshold broadcast build can exhaust that long before the
    # data is the problem (observed: q18's broadcast OOM at the 10x
    # stress tier after a dozen prior queries). 4g fixes that with no
    # measured throughput cost; DON'T default bigger — long 100+-query
    # sessions accumulate localCheckpoint blocks, and on a 24g heap the
    # full-GC tax measured ~20% on the bench. On a real cluster this key
    # comes from spark-submit instead.
    if (master or "local").startswith("local") and "spark.driver.memory" not in (
        extra_confs or {}
    ):
        confs.setdefault(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")
        )
    if extra_confs:
        confs.update(extra_confs)
    for key, value in confs.items():
        builder = builder.config(key, value)
    if enable_hive:
        builder = builder.enableHiveSupport()

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def revise_shuffle_partitions(
    spark: SparkSession, multiplier: int = 2, executors: int | None = None, cores: int | None = None
) -> int:
    """Sized-shuffle helper — parity with reference ``spark.py:105-116``.

    The reference computes ``executors × cores × multiplier`` (and has a typo
    bug reading ``spark.executors.cores``; we implement the intended
    semantics). Under AQE this is a *ceiling*, not a hard width — AQE
    coalesces down after each shuffle — so keeping it generous is safe at
    100 TB scale while still avoiding tiny-task overhead locally.
    """
    if executors is None or cores is None:
        n = default_parallelism()
    else:
        n = executors * cores
    target = max(1, n * multiplier)
    spark.conf.set("spark.sql.shuffle.partitions", str(target))
    return target
