"""Redshift COPY / UNLOAD adapter (SURVEY §2.1 S12).

The reference ships this capability only as vendored locopy-library tests
(``tests/aws_test/test_mocked_redshift.py:52-71``) — there is no Redshift
code of its own. The engine-side surface that actually matters is:

1. statement assembly — COPY/UNLOAD are *warehouse commands*, not Spark
   jobs; the option-merging semantics below match the reference's vendored
   expectations (defaults appended unless the option keyword is already
   present, then space-joined);
2. the staging flow — Spark writes the DataFrame to S3 (parquet/CSV via
   ``io.writers``), then the warehouse ingests it with COPY over a JDBC
   connection (``io.writers.write_data(df, "jdbc", options={...,
   "numPartitions": n})`` handles the pure-JDBC fallback when no S3 stage
   is available).

Scale note: COPY-from-S3 is the only sane path at 100 TB — the database
pulls the staged files in parallel; pushing rows through JDBC INSERTs is a
driver-shaped bottleneck kept only for small dimension syncs.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Callable

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

DEFAULT_COPY_OPTIONS = ("DATEFORMAT 'auto'", "COMPUPDATE ON", "TRUNCATECOLUMNS")

# A warehouse statement executor: receives the assembled COPY/UNLOAD SQL and
# runs it against the warehouse (psycopg2 cursor.execute in production; any
# callable in tests). Injected so the flow is end-to-end testable without a
# Redshift — mirroring how the reference exercises its vendored locopy COPY
# path against a mocked warehouse (test_mocked_redshift.py:52-71,440).
StatementExecutor = Callable[[str], Any]


def add_default_copy_options(copy_options: list[str] | None = None) -> list[str]:
    """User options first, then every default whose keyword (first token)
    isn't already present — reference-vendored semantics
    (``test_mocked_redshift.py:52-63``)."""
    opts = list(copy_options or [])
    present = {o.split(" ", 1)[0].upper() for o in opts}
    for d in DEFAULT_COPY_OPTIONS:
        if d.split(" ", 1)[0].upper() not in present:
            opts.append(d)
    return opts


def combine_copy_options(copy_options: list[str]) -> str:
    """Space-join (``test_mocked_redshift.py:66-70``)."""
    return " ".join(copy_options)


def copy_statement(
    table: str,
    s3_path: str,
    iam_role: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    file_format: str = "PARQUET",
    copy_options: list[str] | None = None,
) -> str:
    """COPY <table> FROM <s3_path> with merged options.

    Credentials: either an IAM role ARN or an access/secret pair —
    exactly one mechanism must be provided.
    """
    if iam_role and (access_key or secret_key):
        raise ValueError("pass iam_role OR access/secret keys, not both")
    if iam_role:
        cred = f"IAM_ROLE '{iam_role}'"
    elif access_key and secret_key:
        cred = (
            "CREDENTIALS 'aws_access_key_id={};aws_secret_access_key={}'".format(
                access_key, secret_key
            )
        )
    else:
        raise ValueError("credentials required: iam_role or access/secret keys")
    parts = [f"COPY {table}", f"FROM '{s3_path}'", cred, f"FORMAT AS {file_format}"]
    if file_format.upper() not in {"PARQUET", "ORC"}:
        # option merging only applies to text formats; columnar formats
        # reject COMPUPDATE/DATEFORMAT options
        parts.append(combine_copy_options(add_default_copy_options(copy_options)))
    elif copy_options:
        parts.append(combine_copy_options(list(copy_options)))
    return " ".join(parts)


def unload_statement(
    query: str,
    s3_path: str,
    iam_role: str,
    file_format: str = "PARQUET",
    parallel: bool = True,
    options: list[str] | None = None,
) -> str:
    """UNLOAD ('<query>') TO <s3_path> — the warehouse-side export that
    Spark then reads back as plain files."""
    escaped = query.replace("'", "''")
    parts = [
        f"UNLOAD ('{escaped}')",
        f"TO '{s3_path}'",
        f"IAM_ROLE '{iam_role}'",
        f"FORMAT AS {file_format}",
        "PARALLEL ON" if parallel else "PARALLEL OFF",
    ]
    if options:
        parts.append(" ".join(options))
    return " ".join(parts)


def stage_and_copy(
    df: "DataFrame",
    table: str,
    stage_path: str,
    execute: StatementExecutor,
    iam_role: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    file_format: str = "PARQUET",
    copy_options: list[str] | None = None,
    num_output_files: int | None = None,
) -> str:
    """End-to-end COPY ingest: Spark stages ``df`` to ``stage_path``
    (S3/local), then the warehouse pulls the staged files with COPY.

    Returns the executed statement. The write leg reuses the format
    dispatcher (``io.writers.write_data``); the COPY leg goes through the
    injected ``execute``. At 100 TB this is the only sane load path — the
    warehouse ingests the stage in parallel instead of the driver pushing
    rows through JDBC INSERTs.
    """
    from datapipelines_essentials_python_spark.io.writers import write_data

    write_data(
        df,
        file_format.lower(),
        stage_path,
        options={"header": "true"} if file_format.upper() == "CSV" else None,
        num_output_files=num_output_files,
    )
    stmt = copy_statement(
        table,
        stage_path,
        iam_role=iam_role,
        access_key=access_key,
        secret_key=secret_key,
        file_format=file_format,
        copy_options=copy_options,
    )
    execute(stmt)
    return stmt


def unload_and_read(
    spark: "SparkSession",
    query: str,
    stage_path: str,
    execute: StatementExecutor,
    iam_role: str = "unused",
    file_format: str = "PARQUET",
    parallel: bool = True,
    options: list[str] | None = None,
) -> "DataFrame":
    """End-to-end UNLOAD export: the warehouse writes ``query``'s result to
    ``stage_path`` (via the injected ``execute``), then Spark reads the
    staged files back as a DataFrame."""
    stmt = unload_statement(
        query, stage_path, iam_role, file_format=file_format,
        parallel=parallel, options=options,
    )
    execute(stmt)
    reader = spark.read
    if file_format.upper() == "CSV":
        reader = reader.option("header", "true").option("inferSchema", "true")
    return reader.format(file_format.lower()).load(stage_path)
