"""Native Column function library (SURVEY §2.8 / §2.12)."""

import pytest
from pyspark.sql import functions as F

from datapipelines_essentials_python_spark.functions.datetime_fns import (
    date_ranges,
    to_date_safe,
    to_gmt,
)
from datapipelines_essentials_python_spark.functions.durations import (
    add_iso_durations,
    difficulty,
    iso_duration_to_seconds,
    seconds_to_iso_duration,
    total_time_and_difficulty,
)
from datapipelines_essentials_python_spark.functions.lookup import lookup_codes, lookup_join
from datapipelines_essentials_python_spark.functions.nulls import (
    is_null_or_blank,
    null_between,
    nvl,
)
from datapipelines_essentials_python_spark.functions.strings import (
    anti_trim,
    multi_equals,
    remove_non_word_characters,
    single_space,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_nvl_and_blank(spark):
    df = spark.createDataFrame(
        [("x",), ("  ",), ("",), (None,)], "s string"
    )
    out = df.select(
        nvl("s", "-").alias("n"), is_null_or_blank("s").alias("b")
    ).collect()
    assert [r["n"] for r in out] == ["x", "-", "-", "-"]
    assert [r["b"] for r in out] == [False, True, True, True]


def test_iso_duration_parse(spark):
    df = spark.createDataFrame(
        [("PT45M",), ("PT1H30M",), ("P1DT2H",), ("",), (None,), ("PT",), ("garbage",), ("PT5.5S",)],
        "d string",
    )
    out = [r[0] for r in df.select(iso_duration_to_seconds("d")).collect()]
    assert out == [2700.0, 5400.0, 93600.0, 0.0, 0.0, 0.0, None, 5.5]


def test_iso_duration_format_golden(spark):
    # golden shapes from the reference's committed task2 output
    # (resources/data/recipes/output/task2/part-*.csv)
    cases = [
        (425.086705, "PT7M5.086705S"),
        (9817.105263, "PT2H43M37.105263S"),
        (2513.288136, "PT41M53.288136S"),
        (0.0, "P0D"),
        (3600.0, "PT1H"),
        (61.0, "PT1M1S"),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "secs double")
    out = [r[0] for r in df.select(seconds_to_iso_duration("secs")).collect()]
    assert out == [e for _, e in cases]


def test_duration_roundtrip_and_add(spark):
    df = spark.createDataFrame([("PT30M", "PT45M")], "a string, b string")
    assert df.select(add_iso_durations("a", "b")).collect()[0][0] == "PT1H15M"


def test_difficulty_buckets(spark):
    df = spark.createDataFrame(
        [(0.0,), (1799.0,), (1800.0,), (3600.0,), (3601.0,), (None,)], "t double"
    )
    out = [r[0] for r in df.select(difficulty("t")).collect()]
    assert out == ["easy", "easy", "medium", "medium", "hard", "invalid"]


def test_total_time_struct(spark):
    df = spark.createDataFrame([("PT20M", "PT20M")], "cook string, prep string")
    row = df.select(total_time_and_difficulty("cook", "prep").alias("s")).collect()[0]["s"]
    assert row["total_time"] == "PT40M"
    assert row["difficulty"] == "medium"


def test_to_gmt(spark):
    df = spark.createDataFrame([("2024-01-15 10:00:00",)], "t string")
    out = df.select(to_gmt("t", fmt="yyyy-MM-dd HH:mm:ss").alias("g")).collect()[0]["g"]
    assert out.hour == 18  # PST is UTC-8 in January


def test_to_date_safe(spark):
    df = spark.createDataFrame([("1/15/2024",), ("junk",), ("",)], "d string")
    out = [r[0] for r in df.select(to_date_safe("d", "M/d/yyyy")).collect()]
    assert str(out[0]) == "2024-01-15"
    assert out[1] is None and out[2] is None


def test_date_ranges():
    out = date_ranges("2024-01-01", "2024-01-10", 4)
    assert out[0] == {"startDate": "2024-01-01", "endDate": "2024-01-04"}
    assert out[-1] == {"startDate": "2024-01-09", "endDate": "2024-01-10"}
    assert len(out) == 3


def test_lookup_codes(spark):
    df = spark.createDataFrame([("a;b;z",)], "codes string")
    out = df.select(
        lookup_codes("codes", {"a": "Alpha", "b": "Beta"}).alias("v")
    ).collect()[0]["v"]
    assert out == "Alpha;Beta;z"  # unknown codes keep original (ETL.py:63-66)


def test_lookup_join(spark):
    df = spark.createDataFrame([(1, "a"), (2, "q")], "id int, code string")
    lk = spark.createDataFrame([("a", "Alpha")], "k string, v string")
    out = {
        r["id"]: r["code"]
        for r in lookup_join(df, lk, "code", "k", "v").collect()
    }
    assert out == {1: "Alpha", 2: "q"}


def test_string_helpers(spark):
    df = spark.createDataFrame([("  a   b  c!! ",)], "s string")
    row = df.select(
        single_space("s").alias("ss"),
        remove_non_word_characters("s").alias("rw"),
    ).collect()[0]
    assert row["ss"] == "a b c!!"
    assert row["rw"] == "  a   b  c "


def test_anti_trim_keeps_only_outer_whitespace(spark):
    df = spark.createDataFrame([("  ab cd \t",), ("xy",)], "s string")
    out = [r["v"] for r in df.select(anti_trim("s").alias("v")).collect()]
    assert out == ["   \t", ""]


def test_multi_equals_needs_every_column(spark):
    df = spark.createDataFrame([(1, 1), (1, 2), (1, None)], "a int, b int")
    out = [r["v"] for r in df.select(multi_equals(1, "a", "b").alias("v")).collect()]
    assert out == [True, False, None]
    with pytest.raises(ValueError, match="at least one column"):
        multi_equals(1)


def test_null_between_open_bounds(spark):
    df = spark.createDataFrame(
        [(5, 1, 9), (5, None, 9), (5, 6, None), (5, None, None), (None, 1, 9)],
        "c int, lo int, hi int",
    )
    out = [
        r["v"] for r in df.select(null_between("c", "lo", "hi").alias("v")).collect()
    ]
    # a NULL bound is unbounded on its side; both NULL and a NULL value
    # are never between
    assert out == [True, True, False, False, False]
