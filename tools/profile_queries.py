"""Per-query optimization profiler (round 9).

For each named registry query: time DF construction (iterative operators
execute their eager localCheckpoints here) and the noop-sink write
separately, count jobs and Janino class compilations (``CodegenMetrics``),
and optionally dump ``explain("formatted")`` to
``plans/r10/<name>_<tag>.txt``.

With ``--repeat N`` each query runs N times back to back. Its first run
compiles the classes it generates; a repeat that still compiles some
generates different code on every run (or the session's generated-code
cache is too small to hold them), which is what the ``compiled=`` column
of the repeats shows. The first named query also runs once as a warm-up
before the timed runs; its compilations are printed on the warm-up line.

Usage:
    python tools/profile_queries.py [--plans TAG] [--repeat N] q1 q2 ...

With ``--events`` the Spark event log is enabled under /tmp/spark-events
so per-stage wall time can be inspected afterwards (tools/stage_report.py).
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from datapipelines_essentials_python_spark import get_or_create_spark_session  # noqa: E402
import __spark_entry__ as entry_mod  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--plans", default=None, help="dump explain to plans/r10/<q>_<TAG>.txt")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--events", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    extra = {}
    if args.events:
        os.makedirs("/tmp/spark-events", exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "/tmp/spark-events",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = get_or_create_spark_session(app_name="profile", extra_confs=extra)
    qs = entry_mod.queries()
    sf_dir = args.sf_dir

    # same warmup discipline as bench.py
    spark.range(1000).count()
    from pyspark.sql import functions as F

    (
        spark.read.parquet(f"{sf_dir.rstrip('/')}/region.parquet")
        .groupBy("r_name")
        .agg(F.sum(F.col("r_regionkey").cast("decimal(18,4)")).cast("double").alias("s"))
        .collect()
    )
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    c0 = codegen.getCount()
    warm = qs[args.queries[0]](spark, sf_dir)
    warm.write.format("noop").mode("overwrite").save()
    for dep in getattr(warm, "_sg_persisted", ()):
        dep.unpersist()
    print(f"warm-up ({args.queries[0]}): compiled={codegen.getCount() - c0}", flush=True)

    plans_dir = Path(__file__).resolve().parent.parent / "plans" / "r10"
    if args.plans:
        plans_dir.mkdir(parents=True, exist_ok=True)

    for name in args.queries:
        for rep in range(args.repeat):
            tracker = spark.sparkContext.statusTracker()
            j0 = max(tracker.getJobIdsForGroup(None) or [-1])
            c0 = codegen.getCount()
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            if args.plans and rep == 0:
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                (plans_dir / f"{name}_{args.plans}.txt").write_text(plan)
            for dep in getattr(df, "_sg_persisted", ()):
                dep.unpersist()
            spark.sparkContext.setJobDescription(None)
            tracker = spark.sparkContext.statusTracker()
            j1 = max(tracker.getJobIdsForGroup(None) or [-1])
            print(
                f"{name} run {rep + 1}/{args.repeat}: build={t1 - t0:.2f}s "
                f"write={t2 - t1:.2f}s total={t2 - t0:.2f}s jobs={j1 - j0} "
                f"compiled={codegen.getCount() - c0}",
                flush=True,
            )


if __name__ == "__main__":
    main()
