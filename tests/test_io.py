"""Reader/writer dispatch + DDL (SURVEY §2.1)."""

import pytest

from datapipelines_essentials_python_spark.errors import UnknownFileTypeError
from datapipelines_essentials_python_spark.io.ddl import create_table_ddl
from datapipelines_essentials_python_spark.io.readers import read_data, read_with_audit_columns
from datapipelines_essentials_python_spark.io.writers import write_data


@pytest.fixture
def df(spark):
    return spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string")


def test_parquet_roundtrip(spark, df, tmp_path):
    path = str(tmp_path / "p")
    write_data(df, "parquet", path)
    back = read_data(spark, "parquet", path)
    assert back.count() == 2 and set(back.columns) == {"id", "name"}


def test_csv_roundtrip(spark, df, tmp_path):
    path = str(tmp_path / "c")
    write_data(df, "csv", path, options={"header": True})
    back = read_data(spark, "csv", path, options={"header": True, "inferSchema": True})
    assert back.count() == 2


def test_json_append(spark, df, tmp_path):
    path = str(tmp_path / "j")
    write_data(df, "json", path, mode="append")
    write_data(df, "json", path, mode="append")
    assert read_data(spark, "json", path).count() == 4


def test_text_reader_line_column(spark, tmp_path):
    p = tmp_path / "t.txt"
    p.write_text("hello\nworld\n")
    out = read_data(spark, "text", str(p))
    assert out.columns == ["line"] and out.count() == 2


def test_tbl_alias_and_unknown(spark, tmp_path):
    with pytest.raises(UnknownFileTypeError):
        read_data(spark, "fancy", "/tmp/x")
    with pytest.raises(UnknownFileTypeError):
        write_data(None, "fancy", "/tmp/x")  # dispatch rejects before touching df


def test_partitioned_write_layout(spark, df, tmp_path):
    path = tmp_path / "part"
    write_data(df, "parquet", str(path), partition_by=["name"], num_output_files=1)
    assert (path / "name=a").exists()  # real hive-style layout, prunable


def test_audit_columns(spark, df, tmp_path):
    path = str(tmp_path / "audit")
    write_data(df, "parquet", path)
    out = read_with_audit_columns(spark, "parquet", path)
    rows = out.collect()
    assert {"file_name", "hashcode", "spark_timestamp"} <= set(out.columns)
    assert all(r["file_name"].endswith(".parquet") for r in rows)
    assert len({r["hashcode"] for r in rows}) == 2  # distinct rows → distinct digests



def test_audit_hashcode_is_row_hash_md5_with_nulls(spark, tmp_path):
    """hashcode is row_hash_md5 over the scanned columns: sorted order and
    NULL fields kept, so rows differing only in which field is NULL get
    different digests."""
    from datapipelines_essentials_python_spark.functions.hashing import row_hash_md5

    src = spark.createDataFrame(
        [(1, None, "x"), (1, "x", None)], "id int, name string, tag string"
    )
    path = str(tmp_path / "audit_nulls")
    write_data(src, "parquet", path)
    out = read_with_audit_columns(spark, "parquet", path)
    rows = out.select(
        "hashcode", row_hash_md5(out, ["id", "name", "tag"]).alias("want")
    ).collect()
    assert len(rows) == 2 and all(r["hashcode"] == r["want"] for r in rows)
    assert rows[0]["hashcode"] != rows[1]["hashcode"]

def test_xml_native_reader(spark, tmp_path):
    p = tmp_path / "x.xml"
    p.write_text(
        "<root><rec><id>1</id><name>a</name></rec><rec><id>2</id><name>b</name></rec></root>"
    )
    out = read_data(spark, "xml", str(p), options={"rowTag": "rec"})
    assert out.count() == 2 and set(out.columns) == {"id", "name"}


def test_ddl(spark, df):
    ddl = create_table_ddl(df, "t1", database="db", location="/data/t1", partition_by=["name"])
    assert "CREATE TABLE IF NOT EXISTS db.t1" in ddl
    assert "`id` INT" in ddl and "USING PARQUET" in ddl
    assert "PARTITIONED BY (name)" in ddl and "LOCATION '/data/t1'" in ddl


def test_load_table_under_foreign_session_confs(spark, sf_dir):
    """A caller-provided session without our confs (e.g. the harness's own)
    must still read the NANOS-timestamp events table: load_table applies
    the required runtime confs defensively."""
    from datapipelines_essentials_python_spark.tables import load_table

    ns = spark.newSession()
    ns.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    ns.conf.set("spark.sql.session.timeZone", "America/New_York")
    df = load_table(ns, sf_dir, "events")
    assert df.schema["ts"].dataType.typeName().startswith("timestamp")
    assert df.limit(3).count() == 3
    assert ns.conf.get("spark.sql.session.timeZone") == "UTC"


def test_orc_roundtrip(spark, df, tmp_path):
    from datapipelines_essentials_python_spark.io.readers import read_data
    from datapipelines_essentials_python_spark.io.writers import write_data

    path = str(tmp_path / "orc_out")
    write_data(df, "orc", path)
    back = read_data(spark, "orc", path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_audit_file_name_decodes_uri_escapes(spark, tmp_path):
    """input_file_name() is percent-encoded; the audit column must carry
    the raw name (spaces decoded, literal '+' preserved)."""
    from datapipelines_essentials_python_spark.io.readers import read_with_audit_columns

    d = tmp_path / "in"
    d.mkdir()
    (d / "my data+v2.json").write_text('{"id": 1}\n')
    out = read_with_audit_columns(spark, "json", str(d))
    assert out.select("file_name").collect()[0][0] == "my data+v2.json"


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """Real JDBC write/read against the Derby embedded database that ships
    in Spark's jars — exercises the actual JDBC sink/source path (S7/S12
    JDBC leg), not just option construction."""
    from datapipelines_essentials_python_spark.io.readers import read_data
    from datapipelines_essentials_python_spark.io.writers import (
        write_data,
        write_jdbc_partitioned,
    )

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    opts = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = spark.range(100).selectExpr("id", "cast(id % 7 as string) as grp")

    # partitioned writer: numPartitions fan-out (one connection each)
    write_jdbc_partitioned(src, url, "T1", num_partitions=4, options=opts)
    back = read_data(spark, "jdbc", options={**opts, "url": url, "dbtable": "T1"})
    assert back.count() == 100
    assert back.agg({"id": "sum"}).collect()[0][0] == 4950

    # generic dispatcher arm: append mode lands extra rows
    write_data(
        src.limit(5),
        "jdbc",
        mode="append",
        options={**opts, "url": url, "dbtable": "T1"},
    )
    assert (
        read_data(spark, "jdbc", options={**opts, "url": url, "dbtable": "T1"}).count()
        == 105
    )


# --------------------------------------------------------------------------
# bucketed layout: the zero-exchange co-located join
# --------------------------------------------------------------------------
def test_bucketed_join_eliminates_shuffle(spark, tmp_path, sf_dir):
    import io as _io
    import contextlib

    from pyspark.sql import functions as F

    from datapipelines_essentials_python_spark.io.bucketing import (
        assert_cobucketed,
        bucket_spec,
        write_bucketed,
    )
    from datapipelines_essentials_python_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed(orders, "b_orders", "o_orderkey", 4, sort_cols="o_orderkey")
    write_bucketed(
        lineitem, "b_lineitem", "l_orderkey", 4, sort_cols="l_orderkey"
    )
    try:
        assert bucket_spec(spark, "b_orders") == (4, ["o_orderkey"])
        assert_cobucketed(spark, "b_orders", "b_lineitem")

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("b_orders").join(
                spark.table("b_lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            buf = _io.StringIO()
            with contextlib.redirect_stdout(buf):
                joined.explain("formatted")
            plan = buf.getvalue()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        # the whole point: co-located buckets join with ZERO exchange
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        # and the result is the plain join's result
        expected = orders.join(
            lineitem, F.col("o_orderkey") == F.col("l_orderkey")
        ).count()
        assert joined.count() == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_assert_cobucketed_rejects_mismatch(spark, sf_dir):
    import pytest as _pytest

    from datapipelines_essentials_python_spark.io.bucketing import (
        assert_cobucketed,
        write_bucketed,
    )
    from datapipelines_essentials_python_spark.tables import load_table

    nation = load_table(spark, sf_dir, "nation")
    write_bucketed(nation, "b_n4", "n_nationkey", 4)
    write_bucketed(nation, "b_n8", "n_nationkey", 8)
    try:
        with _pytest.raises(ValueError, match="bucket counts differ"):
            assert_cobucketed(spark, "b_n4", "b_n8")
        with _pytest.raises(ValueError, match="not bucketed"):
            nation.createOrReplaceTempView("plain_nation")
            assert_cobucketed(spark, "b_n4", "plain_nation")
    finally:
        spark.sql("DROP TABLE IF EXISTS b_n4")
        spark.sql("DROP TABLE IF EXISTS b_n8")


def test_partitioned_layout_prunes_at_scan(spark, tmp_path):
    """Hive-partitioned parquet + a partition-key filter must prune at
    planning time: the scan's PartitionFilters carries the predicate and
    only the matching directory is read — the property that turns a
    100 TB table into a 1-day read."""
    import io as _io
    import contextlib

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 3}", i * 1.0) for i in range(30)],
        "id long, day string, v double",
    )
    dest = str(tmp_path / "events_by_day")
    write_data(df, "parquet", dest, partition_by=["day"])

    back = spark.read.parquet(dest).where(F.col("day") == "2024-01-02")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "2024-01-02" in plan.split("PartitionFilters", 1)[1][:200]
    # pruned read returns exactly the partition's rows
    assert back.count() == 10
    # and the filter does NOT appear as a data filter (no post-scan work)
    assert back.select("id").distinct().count() == 10


def test_merge_schema_evolution_read(spark, tmp_path):
    """Schema evolution across parquet files: a later writer adds a
    column; mergeSchema reads union the schemas and old rows surface
    NULL for the new column — the lake-format reality load_table's
    normalization is built for."""
    dest = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, a string").write.mode(
        "overwrite"
    ).parquet(dest)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, a string, score double"
    ).write.mode("append").parquet(dest)

    merged = spark.read.option("mergeSchema", "true").parquet(dest)
    assert set(merged.columns) == {"id", "a", "score"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5
