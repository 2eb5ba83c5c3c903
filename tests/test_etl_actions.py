"""Spark-action budget of the ETL-path calls: DQ runs one action per rule
config, CDC builds its plans without running any."""

import pytest

from datapipelines_essentials_python_spark.dq.engine import execute_rules
from datapipelines_essentials_python_spark.dq.rules import DQConfig, Rule
from datapipelines_essentials_python_spark.operators.cdc import (
    apply_cdc_pipeline,
    merge_cdc,
    with_hashcode,
)

ACTIONS = ("collect", "count", "isEmpty", "first", "take", "toPandas")


@pytest.fixture
def actions(spark, monkeypatch):
    """Counts DataFrame actions made while the test body runs."""
    calls = []
    cls = type(spark.range(1))
    for name in ACTIONS:
        original = getattr(cls, name)

        def counted(self, *args, _name=name, _original=original, **kwargs):
            calls.append(_name)
            return _original(self, *args, **kwargs)

        monkeypatch.setattr(cls, name, counted)
    return calls


def _frames(spark):
    history = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (2, "b", 0)], "id int, val string, ver int"
    )
    incoming = spark.createDataFrame(
        [(2, "b2", 2), (3, "", 2), (3, "c", 2)], "id int, val string, ver int"
    )
    return history, incoming


def test_execute_rules_is_one_action(spark, actions):
    _, incoming = _frames(spark)
    config = DQConfig(
        dq_id="t",
        rules=[
            Rule("1", "id_unique", "unique", columns=("id",)),
            Rule("2", "val_not_null", "not null", columns=("val",)),
            Rule("3", "ver_unique", "unique", columns=("id", "ver")),
            Rule("4", "bad_ver", "query", query="SELECT * FROM temp WHERE ver < 0"),
        ],
    )
    actions.clear()
    _, results = execute_rules(spark, incoming, config)
    assert actions == ["collect"]
    assert [r.violation_count for r in results] == [1, 1, 1, 0]


def test_cdc_calls_run_no_action(spark, actions):
    history, incoming = _frames(spark)
    hashed = with_hashcode(history, ["id", "val"])
    empty = hashed.limit(0)
    actions.clear()
    merge_cdc(hashed, with_hashcode(incoming, ["id", "val"]), ["id"], ["ver"])
    merge_cdc(empty, with_hashcode(incoming, ["id", "val"]), ["id"])
    apply_cdc_pipeline(history, incoming, ["id"], ["ver"], payload_cols=["id", "val"])
    assert actions == []
