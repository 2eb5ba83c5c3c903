"""Column hygiene + schema/contract validation.

Capability parity (SURVEY.md §2.2 P4-P8):

- trim/lowercase/rename column standardization — ``utils/spark.py:150-177``,
  snake-case variant ``MetaModel.py:547-556``;
- alphabetical column ordering — ``MetaModel.py:559-568``;
- required/prohibited/StructField-subset contract checks —
  ``MetaModel.py:471-511``;
- column equality assertion — ``MetaModel.py:527-544`` (the reference
  collects both columns to the driver; here it is a distributed anti-filter
  count, P7's noted fix);
- DataFrame→Python bridges — ``MetaModel.py:514-524`` (kept, documented as
  driver-side-only utilities).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from datapipelines_essentials_python_spark.errors import (
    ColumnMismatchError,
    ProhibitedColumnsPresentError,
    RequiredColumnsMissingError,
    SchemaMismatchError,
)

_CAMEL_RE = re.compile(r"(?<=[a-z0-9])(?=[A-Z])")


def standardize_column_names(df: DataFrame) -> DataFrame:
    """trim + lowercase + space→underscore on every column name."""
    return df.toDF(*[c.strip().lower().replace(" ", "_") for c in df.columns])


def snake_case_column_names(df: DataFrame) -> DataFrame:
    """camelCase → snake_case (parity: MetaModel.py:547-556)."""
    return df.toDF(*[_CAMEL_RE.sub("_", c).lower() for c in df.columns])


def rename_columns(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    return df.withColumnsRenamed(mapping)


def sort_columns(df: DataFrame, order: str = "asc") -> DataFrame:
    cols = sorted(df.columns, reverse=(order.lower() == "desc"))
    return df.select(*cols)


def validate_required_columns(df: DataFrame, required: list[str]) -> None:
    missing = [c for c in required if c not in df.columns]
    if missing:
        raise RequiredColumnsMissingError(missing)


def validate_prohibited_columns(df: DataFrame, prohibited: list[str]) -> None:
    present = [c for c in prohibited if c in df.columns]
    if present:
        raise ProhibitedColumnsPresentError(present)


def validate_schema_subset(df: DataFrame, expected: StructType) -> None:
    """Every expected StructField must appear in df.schema (name+type)."""
    have = {(f.name.lower(), f.dataType.simpleString()) for f in df.schema.fields}
    missing = [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in expected.fields
        if (f.name.lower(), f.dataType.simpleString()) not in have
    ]
    if missing:
        raise SchemaMismatchError(f"missing fields: {missing}")


def assert_columns_equal(df: DataFrame, col_a: str, col_b: str) -> None:
    """Distributed equality assertion — no ``collect()`` (SURVEY P7 fix):
    any row where the columns differ (null-safely) raises."""
    diff = df.filter(~F.col(col_a).eqNullSafe(F.col(col_b))).limit(1).count()
    if diff:
        raise ColumnMismatchError(f"columns {col_a!r} and {col_b!r} differ")


# --- driver-side bridges (small results only; parity MetaModel.py:514-524) ---


def column_to_list(df: DataFrame, column: str) -> list:
    return [r[0] for r in df.select(column).collect()]


def two_columns_to_dict(df: DataFrame, key_col: str, value_col: str) -> dict:
    return {r[0]: r[1] for r in df.select(key_col, value_col).collect()}
