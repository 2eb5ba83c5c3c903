"""Single-pass DQ rule engine (SURVEY §2.11)."""

import json

import pytest

from datapipelines_essentials_python_spark.dq.engine import dq_summary_df, execute_rules
from datapipelines_essentials_python_spark.dq.report import render_html_report, write_html_report
from datapipelines_essentials_python_spark.dq.rules import DQConfig, Rule


@pytest.fixture
def df(spark):
    return spark.createDataFrame(
        [(1, "a", "x"), (2, "a", ""), (3, "b", None), (3, "c", "y")],
        "id int, grp string, val string",
    )


def test_rules_execute(spark, df):
    config = DQConfig(
        dq_id="t",
        rules=[
            Rule("1", "id_unique", "unique", columns=("id",)),
            Rule("2", "grp_unique", "unique", columns=("grp",)),
            Rule("3", "val_not_null", "not null", columns=("val",)),
            Rule("4", "bad_ids", "query", query="SELECT * FROM temp WHERE id < 0"),
        ],
    )
    all_passed, results = execute_rules(spark, df, config)
    assert not all_passed
    by_id = {r.rule_id: r for r in results}
    assert by_id["1"].violation_count == 1  # id=3 twice → 1 extra row
    assert by_id["2"].violation_count == 1  # grp=a twice
    assert by_id["3"].violation_count == 2  # '' and NULL
    assert by_id["4"].passed
    assert all(r.total_count == 4 for r in results)
    # results come back in config order
    assert [r.rule_id for r in results] == ["1", "2", "3", "4"]


def test_file_completeness_rule_1013(spark, tmp_path):
    """Reference rule 1013 both ways: the engine's native anti-join helper
    AND the reference's literal SQL formulation through a 'query' rule."""
    from datapipelines_essentials_python_spark.dq.engine import file_completeness

    src = spark.range(5).toDF("id")
    p1, p2 = str(tmp_path / "f1"), str(tmp_path / "f2")
    src.where("id < 3").coalesce(1).write.parquet(p1)
    src.where("id >= 3").coalesce(1).write.parquet(p2)
    df = spark.read.parquet(p1, p2)
    import glob as _glob

    names = sorted(
        f.rsplit("/", 1)[-1]
        for f in _glob.glob(f"{p1}/part-*.parquet") + _glob.glob(f"{p2}/part-*.parquet")
    )
    assert len(names) == 2

    # native helper: all present → empty; one absent → exactly that row
    assert file_completeness(df, names).count() == 0
    missing = file_completeness(df, [*names, "never-written.parquet"]).collect()
    assert [r["missing_file"] for r in missing] == ["never-written.parquet"]

    # reference-shaped SQL rule (recipe-task1-dq-rules.json rule 1013)
    expected_cte = " UNION ".join(
        f"SELECT '{n}' AS file_name" for n in [*names, "never-written.parquet"]
    )
    rule_sql = (
        f"WITH file_names AS ({expected_cte}) "
        "SELECT f.file_name FROM file_names f "
        "LEFT JOIN (SELECT DISTINCT reverse(split(input_file_name(), '/'))[0] "
        "AS file_name FROM temp) t ON t.file_name = f.file_name "
        "WHERE t.file_name IS NULL"
    )
    config = DQConfig(
        dq_id="files",
        rules=[Rule("1013", "input files check", "query", query=rule_sql)],
    )
    all_passed, results = execute_rules(spark, df, config)
    assert not all_passed
    assert results[0].violation_count == 1


def test_rule_validation():
    with pytest.raises(ValueError):
        Rule("1", "x", "bogus")
    with pytest.raises(ValueError):
        Rule("1", "x", "query")  # query rule without query
    with pytest.raises(ValueError):
        Rule("1", "x", "unique")  # unique without columns


def test_config_from_json(tmp_path):
    p = tmp_path / "rules.json"
    p.write_text(
        json.dumps(
            {
                "dq_id": "recipes",
                "rules": [
                    {"rule_id": 1001, "name": "uniq", "rule_type": "unique", "columns": ["name"]},
                    {"rule_id": 1002, "name": "nn", "rule_type": "not null", "columns": ["name"]},
                ],
                "execution_reports_dir": "/tmp/reports",
            }
        )
    )
    cfg = DQConfig.from_json(p)
    assert cfg.dq_id == "recipes"
    assert len(cfg.rules) == 2
    assert cfg.execution_reports_dir == "/tmp/reports"


def test_html_report(spark, df, tmp_path):
    config = DQConfig(
        dq_id="t", rules=[Rule("1", "id_unique", "unique", columns=("id",))]
    )
    _, results = execute_rules(spark, df, config)
    html = render_html_report("t", results)
    assert "<html>" in html and "id_unique" in html and "FAIL" in html
    path = write_html_report("t", results, tmp_path)
    assert path.exists() and path.suffix == ".html"


def test_summary_df(spark, df):
    config = DQConfig(dq_id="t", rules=[Rule("1", "u", "unique", columns=("id",))])
    _, results = execute_rules(spark, df, config)
    out = dq_summary_df(spark, results)
    assert out.columns == [
        "rule_id", "name", "rule_type", "passed", "violation_count", "total_count", "detail",
    ]
    assert out.count() == 1


def test_rules_sharing_an_id_each_get_a_result(spark, df):
    config = DQConfig(
        dq_id="t",
        rules=[
            Rule("7", "grp_not_null", "not null", columns=("grp",)),
            Rule("7", "val_not_null", "not null", columns=("val",)),
        ],
    )
    all_passed, results = execute_rules(spark, df, config)
    assert not all_passed
    assert [(r.name, r.violation_count) for r in results] == [
        ("grp_not_null", 0),
        ("val_not_null", 2),
    ]


def test_rules_on_an_empty_frame_all_pass(spark):
    empty = spark.createDataFrame([], "id int, grp string, val string")
    config = DQConfig(
        dq_id="t",
        rules=[
            Rule("1", "id_unique", "unique", columns=("id",)),
            Rule("2", "val_not_null", "not null", columns=("val",)),
            Rule("3", "bad_ids", "query", query="SELECT * FROM temp WHERE id < 0"),
        ],
    )
    all_passed, results = execute_rules(spark, empty, config)
    assert all_passed
    assert [(r.violation_count, r.total_count) for r in results] == [(0, 0)] * 3


def test_query_rule_view_lives_only_for_the_call(spark):
    """``temp`` is the batch for the duration of one call and gone after
    it, so consecutive calls on different frames each see their own rows."""
    config = DQConfig(
        dq_id="t",
        rules=[Rule("1", "neg_ids", "query", query="SELECT * FROM temp WHERE id < 0")],
    )
    first = spark.createDataFrame([(-1,), (2,)], "id int")
    second = spark.createDataFrame([(-1,), (-2,), (-3,)], "id int")
    _, results = execute_rules(spark, first, config)
    assert not spark.catalog.tableExists("temp")
    _, results2 = execute_rules(spark, second, config)
    assert not spark.catalog.tableExists("temp")
    assert [r.violation_count for r in results + results2] == [1, 3]
