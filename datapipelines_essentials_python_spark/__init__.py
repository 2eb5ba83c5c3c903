"""datapipelines_essentials_python_spark — a PySpark-native analytics/ETL engine.

A from-scratch, Catalyst-first re-derivation of the capabilities of the
reference repo ``vim89/datapipelines-essentials-python`` (see SURVEY.md):

- multi-format ingestion dispatch (``io.readers``) and sinks (``io.writers``)
- metadata-driven projection / cast / filter / join / aggregate pipeline
  compilation (``plans``) — typed configs compiled to ``Column`` expressions,
  never SQL strings, so Catalyst gets a fully analyzable plan
- a real tokenizer for the reference's filter mini-DSL (``expr.filter_dsl``)
- native Column re-implementations of every reference Python UDF
  (``functions``): nvl, lookups, timezone→UTC, ISO-8601 durations,
  difficulty bucketing, audit columns, row hashing, salting
- hash-diff change-data-capture and window snapshots (``operators.cdc``)
- recursive nested-schema flattening to relational child tables
  (``operators.flatten``)
- a single-pass data-quality rule engine (``dq``)
- LLM-training-data operators designed for 100 TB scale
  (``operators.dedup``, ``operators.similarity``, ``operators.text``,
  ``operators.multimodal``)

Design stance (SURVEY.md §7): DataFrame/SQL only; no monkey-patching; no
string-built SQL; Python UDFs only as Arrow-vectorized ``pandas_udf`` /
``mapInPandas`` where built-ins genuinely cannot express the semantics.
"""

__version__ = "0.1.0"

from datapipelines_essentials_python_spark.session import get_or_create_spark_session

__all__ = ["get_or_create_spark_session", "__version__"]
