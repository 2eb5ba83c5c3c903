"""Native Column re-implementations of the reference's UDF surface.

Every function here replaces a row-at-a-time Python UDF or driver-side
helper from the reference with a JVM-side, codegen-friendly Column
expression (SURVEY.md §2.8 / §2.12) — the single biggest physical-execution
win over the reference (SURVEY.md §4, codegen row).
"""

from datapipelines_essentials_python_spark.functions.nulls import (
    is_null_or_blank,
    null_between,
    nvl,
)
from datapipelines_essentials_python_spark.functions.strings import (
    anti_trim,
    multi_equals,
    remove_all_whitespace,
    remove_non_word_characters,
    single_space,
)
from datapipelines_essentials_python_spark.functions.datetime_fns import (
    date_ranges,
    to_gmt,
    to_date_safe,
)
from datapipelines_essentials_python_spark.functions.durations import (
    difficulty,
    iso_duration_to_seconds,
    seconds_to_iso_duration,
)
from datapipelines_essentials_python_spark.functions.hashing import (
    row_hash_md5,
    salted_key,
)
from datapipelines_essentials_python_spark.functions.audit import source_file_name
from datapipelines_essentials_python_spark.functions.lookup import lookup_codes

__all__ = [
    "anti_trim",
    "date_ranges",
    "difficulty",
    "is_null_or_blank",
    "iso_duration_to_seconds",
    "lookup_codes",
    "multi_equals",
    "null_between",
    "nvl",
    "remove_all_whitespace",
    "remove_non_word_characters",
    "row_hash_md5",
    "salted_key",
    "seconds_to_iso_duration",
    "single_space",
    "source_file_name",
    "to_date_safe",
    "to_gmt",
]
