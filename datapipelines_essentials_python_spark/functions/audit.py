"""Audit columns appended at read time.

Capability parity (SURVEY.md §2.8 F7): the reference appends
``reverse(split(input_file_name(),'/'))[0] AS file_name`` and a driver-time
``CAST('<now>' AS TIMESTAMP) AS spark_timestamp`` via selectExpr strings
(``change_data_capture.py:33-42``; config
``clinical_trial.json.audit_columns_definition``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def source_file_name() -> Column:
    """Base name of the file the current row was scanned from, as it is
    named on disk.

    ``input_file_name()`` yields a percent-encoded URI; it is decoded so
    names with spaces or non-ASCII characters match the reference's raw
    file-name column. A literal ``+`` is re-encoded first, because
    ``url_decode`` (URLDecoder semantics) would otherwise turn it into a
    space.
    """
    decoded = F.url_decode(F.regexp_replace(F.input_file_name(), r"\+", "%2B"))
    return F.element_at(F.split(decoded, "/"), -1)
