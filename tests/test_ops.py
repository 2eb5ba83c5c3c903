"""Ops layer: spark-submit builder/pool, logging, env detection, mockup data,
and the session and repartition sizing helpers."""

import logging

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datapipelines_essentials_python_spark.ops.environment import (
    ENV_VAR,
    Environment,
    detect_environment,
)
from datapipelines_essentials_python_spark.ops.logging_util import (
    KafkaLogHandler,
    audit_action,
    init_logging,
)
from datapipelines_essentials_python_spark.ops.mockup_data import (
    generate_dataframe,
    generate_rows,
    random_schema,
)
from datapipelines_essentials_python_spark.ops.spark_submit import (
    SparkSubmitCommand,
    backfill_commands,
    run_execution_pool,
)
from datapipelines_essentials_python_spark.session import revise_shuffle_partitions
from datapipelines_essentials_python_spark.utils.repartition import (
    data_frame_repartition,
)


def test_spark_submit_build():
    cmd = SparkSubmitCommand(
        application="job.py",
        app_args=["--table", "invoice"],
        master="yarn",
        deploy_mode="cluster",
        conf={"spark.sql.shuffle.partitions": "64"},
        driver_memory="2g",
        executor_memory="4g",
        executor_cores=2,
        num_executors=10,
    )
    argv = cmd.build()
    assert argv[0] == "spark-submit"
    assert "--conf" in argv and "spark.sql.shuffle.partitions=64" in argv
    assert argv[-2:] == ["--table", "invoice"]
    assert "job.py" in cmd.build_str()


def test_backfill_commands():
    base = SparkSubmitCommand(application="job.py", app_args=["--mode", "backfill"])
    cmds = backfill_commands(base, "2024-01-01", "2024-01-10", 5)
    assert len(cmds) == 2
    assert cmds[0].app_args[-4:] == ["--startDate", "2024-01-01", "--endDate", "2024-01-05"]
    assert cmds[1].app_args[-4:] == ["--startDate", "2024-01-06", "--endDate", "2024-01-10"]
    assert base.app_args == ["--mode", "backfill"]  # base untouched


def test_execution_pool_success_and_failure():
    results = run_execution_pool(
        [["true"], ["false"], ["definitely-not-a-binary-xyz"]], max_parallel=3
    )
    assert [r.succeeded for r in results] == [True, False, False]
    assert results[2].returncode == 127


def test_init_logging_returns_logger():
    root = logging.getLogger()
    handlers, level = root.handlers[:], root.level
    try:
        log = init_logging("INFO")
        assert log.name == "datapipelines_essentials_python_spark"
    finally:
        # the console handler writes to this test's captured stderr, which
        # pytest closes; left on the root logger, py4j's INFO lines at
        # interpreter exit hit it as "--- Logging error ---"
        root.handlers[:] = handlers
        root.setLevel(level)


def test_audit_action(caplog):
    @audit_action("unit_op")
    def op(x):
        return x * 2

    with caplog.at_level(logging.INFO, logger="datapipelines_essentials_python_spark.audit"):
        assert op(21) == 42
    msgs = " ".join(r.getMessage() for r in caplog.records)
    assert "start unit_op" in msgs and "done unit_op" in msgs

    @audit_action("boom_op")
    def boom():
        raise ValueError("nope")

    with caplog.at_level(
        logging.INFO, logger="datapipelines_essentials_python_spark.audit"
    ), pytest.raises(ValueError):
        boom()
    assert any("failed boom_op" in r.getMessage() for r in caplog.records)


def test_detect_environment(monkeypatch):
    monkeypatch.setenv(ENV_VAR, "prod")
    assert detect_environment("whatever") == Environment.PROD
    monkeypatch.delenv(ENV_VAR)
    assert detect_environment("etl-prd-001.example.com") == Environment.PROD
    assert detect_environment("app.stage.internal") == Environment.STAGE
    assert detect_environment("dev-box") == Environment.DEV
    assert detect_environment("laptop") == Environment.LOCAL


def test_mockup_rows_deterministic():
    import random

    schema = random_schema(random.Random(7), n_cols=6)
    assert generate_rows(schema, 50, seed=1) == generate_rows(schema, 50, seed=1)
    assert generate_rows(schema, 50, seed=1) != generate_rows(schema, 50, seed=2)


def test_mockup_dataframe(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
            T.StructField(
                "nested", T.StructType([T.StructField("x", T.IntegerType())])
            ),
        ]
    )
    df = generate_dataframe(spark, schema, n_rows=25, seed=3)
    assert df.count() == 25
    assert df.schema == schema


def test_kafka_log_handler_without_kafka_raises_import_error(monkeypatch):
    import sys

    monkeypatch.setitem(sys.modules, "kafka", None)  # import kafka fails
    with pytest.raises(ImportError, match="kafka-python"):
        KafkaLogHandler("topic", "localhost:9092")


def test_revise_shuffle_partitions_sets_executors_times_cores(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        assert revise_shuffle_partitions(spark, 3, executors=2, cores=4) == 24
        assert spark.conf.get(key) == "24"
    finally:
        spark.conf.set(key, before)


def test_data_frame_repartition_modes(spark):
    df = spark.range(40).repartition(4)
    # only a count: coalesce, a narrow step
    assert data_frame_repartition(df, 2).rdd.getNumPartitions() == 2
    # columns: a hash repartition, so equal keys share a partition
    keyed = data_frame_repartition(
        df.withColumn("k", F.col("id") % 3), 5, columns=["k"]
    )
    assert keyed.rdd.getNumPartitions() == 5
    per_key = keyed.select("k", F.spark_partition_id().alias("p")).distinct()
    assert per_key.groupBy("k").count().where("count > 1").count() == 0
    # columns + salt: the same rows, spread over the requested partitions
    salted = data_frame_repartition(
        df.withColumn("k", F.lit(1)), 4, columns=["k"], salt_buckets=4
    )
    assert salted.rdd.getNumPartitions() == 4
    assert sorted(r["id"] for r in salted.collect()) == list(range(40))
    # neither: the frame itself
    assert data_frame_repartition(df) is df
