"""Function registry — the engine's UDF surface, as native Column builders.

Capability parity (SURVEY.md §2.12): the reference's ``registerAllUDF``
(``ETL.py:13-19``) registers row UDFs (``datetimetogmt``, ``zonedatetimetogmt``,
``isnullorempty``, ``udfnvl``, ``udflookup``) by name so metadata rows can
call them in generated SQL (``CColumn.py:32-52``; ``udfarguments`` split on
``|`` at ``MetaModel.py:46-49``).

Here the registry maps the same names to **native Column factories** — the
metadata compiler calls them directly, so nothing ever crosses the
Python-worker boundary and whole-stage codegen stays intact.

Each factory takes ``(col: Column, *args: str)`` and returns a ``Column``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from datapipelines_essentials_python_spark.functions.datetime_fns import to_gmt
from datapipelines_essentials_python_spark.functions.durations import (
    add_iso_durations,
    iso_duration_to_seconds,
)
from datapipelines_essentials_python_spark.functions.nulls import is_null_or_blank, nvl

ColumnFactory = Callable[..., Column]


def _udf_nvl(col: Column, *args: str) -> Column:
    return nvl(col, args[0] if args else "-")


def _udf_lookup(col: Column, *args: str) -> Column:
    # metadata form: alternating key|value pairs in udfarguments
    if len(args) % 2 != 0:
        raise ValueError("udflookup expects key|value argument pairs")
    mapping = {args[i]: args[i + 1] for i in range(0, len(args), 2)}
    from datapipelines_essentials_python_spark.functions.lookup import lookup_codes

    return lookup_codes(col, mapping)


def _udf_to_gmt(col: Column, *args: str) -> Column:
    fmt = args[0] if len(args) > 0 and args[0] else None
    zone = args[1] if len(args) > 1 else "America/Los_Angeles"
    return to_gmt(col, fmt=fmt, zone=zone)


FUNCTION_REGISTRY: dict[str, ColumnFactory] = {
    # reference UDF names (ETL.py:13-19)
    "nvl": _udf_nvl,
    "udfnvl": _udf_nvl,
    "udflookup": _udf_lookup,
    "datetimetogmt": _udf_to_gmt,
    "zonedatetimetogmt": _udf_to_gmt,
    "isnullorempty": lambda col, *a: is_null_or_blank(col),
    # engine extensions
    "trim": lambda col, *a: F.trim(col),
    "lower": lambda col, *a: F.lower(col),
    "upper": lambda col, *a: F.upper(col),
    "iso_duration_seconds": lambda col, *a: iso_duration_to_seconds(col),
    "add_iso_durations": lambda col, *a: add_iso_durations(col, *a),
}


def resolve_function(name: str) -> ColumnFactory:
    key = name.strip().lower()
    if key not in FUNCTION_REGISTRY:
        raise KeyError(
            f"unknown function {name!r}; registered: {sorted(FUNCTION_REGISTRY)}"
        )
    return FUNCTION_REGISTRY[key]

