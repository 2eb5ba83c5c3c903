"""String Column helpers.

The reference *documents* these as DataFrame/Column extensions
(``docs/APIDOC.MD:60-230``: single_space, remove_all_whitespace, anti_trim,
remove_non_word_characters, multi_equals, ...) but never implements them
in ``src/``. Implemented here as real native expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def single_space(col: Column | str) -> Column:
    """Collapse whitespace runs to one space and trim."""
    return F.trim(F.regexp_replace(_as_col(col), r"\s+", " "))


def remove_all_whitespace(col: Column | str) -> Column:
    return F.regexp_replace(_as_col(col), r"\s+", "")


def anti_trim(col: Column | str) -> Column:
    """Remove everything EXCEPT leading/trailing whitespace."""
    return F.regexp_replace(_as_col(col), r"\b.*\b", "")


def remove_non_word_characters(col: Column | str) -> Column:
    return F.regexp_replace(_as_col(col), r"[^\w\s]+", "")


def multi_equals(value: object, *cols: Column | str) -> Column:
    """True when every column equals ``value``."""
    pred: Column | None = None
    for c in cols:
        clause = _as_col(c) == F.lit(value)
        pred = clause if pred is None else (pred & clause)
    if pred is None:
        raise ValueError("multi_equals needs at least one column")
    return pred
