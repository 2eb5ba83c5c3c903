"""Redshift COPY/UNLOAD adapter (SURVEY §2.1 S12) — option-merging parity
with the reference's vendored expectations
(tests/aws_test/test_mocked_redshift.py:52-71)."""

import pytest

from datapipelines_essentials_python_spark.io.redshift import (
    add_default_copy_options,
    combine_copy_options,
    copy_statement,
    unload_statement,
)


def test_add_default_copy_options_reference_parity():
    assert add_default_copy_options() == [
        "DATEFORMAT 'auto'",
        "COMPUPDATE ON",
        "TRUNCATECOLUMNS",
    ]
    assert add_default_copy_options(["DATEFORMAT 'other'", "NULL AS 'blah'"]) == [
        "DATEFORMAT 'other'",
        "NULL AS 'blah'",
        "COMPUPDATE ON",
        "TRUNCATECOLUMNS",
    ]


def test_combine_copy_options_reference_parity():
    assert combine_copy_options(add_default_copy_options()) == (
        "DATEFORMAT 'auto' COMPUPDATE ON TRUNCATECOLUMNS"
    )


def test_copy_statement_parquet_and_csv():
    stmt = copy_statement("ingest.t", "s3://b/stage/", iam_role="arn:aws:iam::1:role/r")
    assert stmt == (
        "COPY ingest.t FROM 's3://b/stage/' IAM_ROLE 'arn:aws:iam::1:role/r' "
        "FORMAT AS PARQUET"
    )
    csv_stmt = copy_statement(
        "ingest.t", "s3://b/stage/", iam_role="r", file_format="CSV"
    )
    assert "DATEFORMAT 'auto' COMPUPDATE ON TRUNCATECOLUMNS" in csv_stmt


def test_copy_statement_credential_validation():
    with pytest.raises(ValueError):
        copy_statement("t", "s3://b/")
    with pytest.raises(ValueError):
        copy_statement("t", "s3://b/", iam_role="r", access_key="a", secret_key="s")
    stmt = copy_statement("t", "s3://b/", access_key="a", secret_key="s")
    assert "aws_access_key_id=a" in stmt


def test_unload_statement_escapes_quotes():
    stmt = unload_statement("SELECT * FROM t WHERE x = 'y'", "s3://b/out/", "role")
    assert "('SELECT * FROM t WHERE x = ''y''')" in stmt
    assert stmt.endswith("PARALLEL ON")
    assert "PARALLEL OFF" in unload_statement("q", "s3://b/", "r", parallel=False)


def test_copy_unload_roundtrip_derby_warehouse(spark, tmp_path):
    """VERDICT r2 gap #2: execute the assembled COPY/UNLOAD paths
    end-to-end with embedded Derby standing in for the warehouse, the same
    mocked-warehouse contract the reference's vendored locopy suite
    exercises (test_mocked_redshift.py:52-71,440).

    COPY leg: Spark stages parquet → executor parses the statement's FROM
    stage → 'warehouse' ingests via JDBC. UNLOAD leg: executor runs the
    query against the warehouse and writes the stage → Spark reads it back.
    """
    import re

    from datapipelines_essentials_python_spark.io.readers import read_data
    from datapipelines_essentials_python_spark.io.redshift import (
        stage_and_copy,
        unload_and_read,
    )
    from datapipelines_essentials_python_spark.io.writers import write_data

    url = f"jdbc:derby:{tmp_path}/wh;create=true"
    opts = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    executed = []

    def warehouse_execute(stmt: str) -> None:
        """Derby stand-in: honor COPY (load stage → table) and UNLOAD
        (query table → stage) semantics of the assembled statement."""
        executed.append(stmt)
        if stmt.startswith("COPY "):
            m = re.match(r"COPY (\S+) FROM '([^']+)'", stmt)
            table, stage = m.group(1), m.group(2)
            staged = spark.read.parquet(stage)
            write_data(
                staged,
                "jdbc",
                options={**opts, "url": url, "dbtable": table, "numPartitions": 2},
            )
        elif stmt.startswith("UNLOAD "):
            m = re.match(r"UNLOAD \('(.+)'\) TO '([^']+)'", stmt, re.DOTALL)
            query, stage = m.group(1).replace("''", "'"), m.group(2)
            result = read_data(
                spark, "jdbc",
                options={**opts, "url": url, "query": query},
            )
            result.write.mode("overwrite").parquet(stage)
        else:  # pragma: no cover
            raise AssertionError(f"unexpected statement: {stmt}")

    src = spark.range(50).selectExpr("id", "id * 2 AS v")
    copy_stage = str(tmp_path / "copy_stage")
    stmt = stage_and_copy(
        src, "INGEST_T", copy_stage, warehouse_execute,
        iam_role="arn:aws:iam::1:role/r",
    )
    assert stmt.startswith("COPY INGEST_T FROM") and "FORMAT AS PARQUET" in stmt

    # warehouse now holds the 50 rows
    in_wh = read_data(spark, "jdbc", options={**opts, "url": url, "dbtable": "INGEST_T"})
    assert in_wh.count() == 50

    unload_stage = str(tmp_path / "unload_stage")
    back = unload_and_read(
        spark, 'SELECT "id", "v" FROM INGEST_T WHERE "v" >= 20', unload_stage,
        warehouse_execute, iam_role="arn:aws:iam::1:role/r",
    )
    got = sorted((r["id"], r["v"]) for r in back.collect())
    assert got == [(i, i * 2) for i in range(10, 50)]
    assert len(executed) == 2 and executed[1].startswith("UNLOAD (")
