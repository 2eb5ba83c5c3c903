"""The session factory's generated-code cache.

Spark's default ``spark.sql.codegen.cache.maxEntries`` (100) is below the
classes one analytics pass generates, so its LRU cache never hits and each
pass recompiles everything. The factory raises the cap; these tests check
that a repeated set of registry queries compiles no class the second time.
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import SparkSession

import __spark_entry__ as entry_mod
from datapipelines_essentials_python_spark import session as session_mod

CAP = "spark.sql.codegen.cache.maxEntries"

#: together these generate about 140 classes at sf0.001, more than Spark's
#: default cap. Queries whose independent stages race (``ann_recall_lsh``,
#: ``ann_recall_ivf``) are left out: the order in which adaptive execution
#: creates their stages sets the codegen stage ids in the generated class
#: names, so a repeat can compile a few classes whatever the cap.
QUERIES = (
    "q1_pricing_summary",
    "q5_nation_revenue",
    "lpa_communities",
    "embedding_neardup",
    "triangle_count",
)


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _collect_all(spark, sf_dir) -> None:
    fns = entry_mod.queries()
    for name in QUERIES:
        fns[name](spark, sf_dir).collect()


def test_second_run_of_registry_queries_compiles_nothing(spark, sf_dir):
    _collect_all(spark, sf_dir)
    before = _compilations(spark)
    _collect_all(spark, sf_dir)
    assert _compilations(spark) - before == 0


def test_factory_sets_codegen_cache_cap(spark):
    assert spark.conf.get(CAP) == session_mod.DEFAULT_CONFS[CAP] == "4096"


def test_extra_confs_override_codegen_cache_cap(monkeypatch):
    seen: dict[str, str] = {}

    class Builder:
        def appName(self, _name):
            return self

        def master(self, _master):
            return self

        def config(self, key, value):
            seen[key] = value
            return self

        def getOrCreate(self):
            return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _lvl: None))

    monkeypatch.setattr(SparkSession, "getActiveSession", classmethod(lambda cls: None))
    monkeypatch.setattr(SparkSession, "builder", Builder())
    session_mod.get_or_create_spark_session(extra_confs={CAP: "64"})
    assert seen[CAP] == "64"
