"""Format-dispatched readers.

Capability parity: reference ``read_data_as_spark_dataframe``
(``utils/spark.py:56-102``, older twins ``utils/Utilities.py:270-297`` and
``imports/HdfsImport.py:26-56``) — dispatch by a filetype string over
``table | text | csv | xml | json | orc | parquet`` with an options
passthrough, raising on unknown types.

Spark-first differences:

- one dispatch table instead of three duplicated if/elif chains;
- ``avro`` / ``jdbc`` / ``binaryFile`` added (the reference reads zips via
  driver-side ``binaryFiles`` RDD helpers, ``Utilities.py:184-236`` — here
  the ``binaryFile`` data source keeps it distributed and lazy);
- XML uses Spark 4's built-in XML source (the donated spark-xml package the
  reference loads as an external jar, ``HdfsImport.py:42-46``) with the same
  option names (``rowTag``, ``attributePrefix``, ``valueTag``);
- explicit ``schema`` parameter — schema inference (``inferSchema=True``
  everywhere in the reference, ``HdfsImport.py:39``) triggers an extra full
  scan of the data; at 100 TB that is an extra 100 TB read, so production
  callers should always pass a schema.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from datapipelines_essentials_python_spark.errors import UnknownFileTypeError
from datapipelines_essentials_python_spark.functions.audit import source_file_name
from datapipelines_essentials_python_spark.functions.hashing import row_hash_md5

# filetype aliases accepted by the dispatcher (lowercase)
_FORMAT_ALIASES = {
    "tbl": "csv",  # reference meta.csv uses 'tbl' for delimited files
    "hive": "table",
    "binary": "binaryFile",
    "binaryfile": "binaryFile",
}

_SUPPORTED = {
    "parquet",
    "orc",
    "csv",
    "json",
    "xml",
    "text",
    "table",
    "jdbc",
    "avro",
    "binaryFile",
}


def read_data(
    spark: SparkSession,
    filetype: str,
    location: str | None = None,
    schema: StructType | str | None = None,
    options: dict[str, Any] | None = None,
) -> DataFrame:
    """Read ``location`` as ``filetype`` with ``options`` passthrough.

    ``table`` reads a catalog table named by ``location``; ``jdbc`` expects
    connection options (``url``, ``dbtable``/``query``) in ``options``;
    everything else is a path-based ``spark.read.format(...).load(path)``.

    Raises :class:`UnknownFileTypeError` for unsupported filetypes — same
    contract as the reference (``spark.py:99-102``).
    """
    fmt = _FORMAT_ALIASES.get(filetype.strip().lower(), filetype.strip().lower())
    if fmt not in _SUPPORTED:
        raise UnknownFileTypeError(
            f"unsupported filetype {filetype!r}; expected one of {sorted(_SUPPORTED)}"
        )

    opts = {str(k): str(v) for k, v in (options or {}).items()}
    reader = spark.read.options(**opts)
    if schema is not None:
        reader = reader.schema(schema)

    if fmt == "table":
        if not location:
            raise ValueError("filetype 'table' requires a table name in `location`")
        return reader.table(location)
    if fmt == "jdbc":
        return reader.format("jdbc").load()
    if not location:
        raise ValueError(f"filetype {fmt!r} requires a path in `location`")
    if fmt == "text":
        # reference reads text as a single 'line' column (spark.py:84-87);
        # a caller-provided schema (one string column) is honored, not
        # silently dropped — the column is still normalized to 'line'.
        wholetext = opts.get("wholetext", "false").lower() == "true"
        treader = spark.read.options(**opts)
        if schema is not None:
            treader = treader.schema(schema)
        return treader.text(location, wholetext=wholetext).toDF("line")
    return reader.format(fmt).load(location)


def read_with_audit_columns(
    spark: SparkSession,
    filetype: str,
    location: str,
    schema: StructType | str | None = None,
    options: dict[str, Any] | None = None,
    hash_columns: list[str] | None = None,
) -> DataFrame:
    """Read + append the reference's audit columns at scan time.

    The reference rewrites raw XML text to inject ``<hashcode>`` and
    ``<xml_file_name>`` elements before upload
    (``change_data_capture.py:9-15``) — an O(data) driver-side rewrite. Here
    the same audit surface is computed as native expressions *during* the
    scan: ``file_name`` from ``input_file_name()`` and ``hashcode`` as
    ``functions.hashing.row_hash_md5`` of ``hash_columns`` (default: every
    scanned column), so nothing is rewritten and the plan stays fully
    distributed (SURVEY §2.1 S10, §2.8 F7/F8).
    """
    df = read_data(spark, filetype, location, schema=schema, options=options)
    return (
        df.withColumn("file_name", source_file_name())
        .withColumn("hashcode", row_hash_md5(df, hash_columns or df.columns))
        .withColumn("spark_timestamp", F.current_timestamp())
    )
