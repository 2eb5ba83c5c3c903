"""Clinical-trial XML lifecycle: ingest → audit → CDC → flatten → relational.

Capability parity with the reference's flagship ETL
(``src/com/vitthalmirji/datapipelines/clinical_trial/clinical_trial_etl.py:128-246``):

- XML batches (``rowTag=clinical_study``) get audit columns — the reference
  rewrites the raw XML text to inject ``<hashcode>`` / ``<xml_file_name>``
  elements before upload (``change_data_capture.py:9-15``); here the same
  surface is computed as scan-time Column expressions, nothing is rewritten;
- hash-diff CDC between the incoming batch and staging on
  ``(id_info.nct_id, xml_file_name)`` with ``spark_timestamp`` ordering
  (``job_parameters/clinical_trial.json`` ``primary_keys``/``order_by_keys``);
- the active snapshot is flattened by ``operators.flatten.flatten_nested``
  into ``xmltable_*`` child tables with ``pk_nct_id``/``spark_ts`` cascaded
  to every leaf (reference ``ComplexDataMapper.createViews``,
  ``Mapper.py:26-197``);
- ``sponsors`` reproduces ``resources/data/clinical_trial/sql/
  transformations/sponsors.sql:1-23`` as a DataFrame plan over those tables.

Scale notes: audit and flattening are narrow projections; the only
shuffles are the CDC pk joins and the snapshot window — both keyed on the
same (nct_id, file) pk so AQE co-plans them. The sponsors parent join is
broadcast (the parent table is one row per study).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapipelines_essentials_python_spark.functions.audit import source_file_name
from datapipelines_essentials_python_spark.functions.hashing import row_hash_md5
from datapipelines_essentials_python_spark.operators.cdc import merge_cdc, snapshot
from datapipelines_essentials_python_spark.operators.flatten import (
    FlattenResult,
    flatten_nested,
)

# reference job_parameters/clinical_trial.json:31-34
CASCADE_KEYS = {"id_info.nct_id": "pk_nct_id", "spark_timestamp": "spark_ts"}
PK_COLS = ["pk_nct_id", "xml_file_name"]
ORDER_COLS = ["spark_timestamp"]


def with_study_audit(df: DataFrame, ts: str) -> DataFrame:
    """Audit columns for one XML batch: decoded source file name, md5
    hashcode over the payload (audit columns excluded — the reference
    hashes the raw XML before injecting audit elements), and the batch
    timestamp (the reference pins one ``CAST('{ts}' AS TIMESTAMP)`` per
    run, ``clinical_trial.json:17-19``)."""
    payload = [c for c in df.columns]
    return (
        df.withColumn("xml_file_name", source_file_name())
        .withColumn("hashcode", row_hash_md5(df, payload))
        .withColumn("spark_timestamp", F.lit(ts).cast("timestamp"))
        .withColumn("pk_nct_id", F.col("id_info.nct_id"))
    )


def study_cdc(
    staging: DataFrame | None, incoming: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(delta, active snapshot) of ``incoming`` vs ``staging`` — the
    reference's ``identify_new_records`` + ``add_row_number_to_dataframe``
    sequence (``clinical_trial_etl.py:180-212``). Each incoming row is
    compared with the latest staged row of its key (SURVEY §2.9 step 3)."""
    delta = merge_cdc(staging, incoming, PK_COLS, ORDER_COLS)
    full = (
        delta
        if staging is None
        else staging.unionByName(delta, allowMissingColumns=True)
    )
    return delta, snapshot(full, PK_COLS, ORDER_COLS)


def flatten_study(active: DataFrame) -> FlattenResult:
    """Snapshot → ``xmltable`` + ``xmltable_*`` child tables (reference
    ``createViews`` with the cascade aliases from the job parameters)."""
    return flatten_nested(
        active.drop("pk_nct_id"), root_name="xmltable", cascade_keys=CASCADE_KEYS
    )


def register_views(result: FlattenResult) -> None:
    """Register every flattened table as a temp view so the reference's
    shipped transformation SQL runs verbatim on top."""
    for name, df in result.tables.items():
        df.createOrReplaceTempView(name)


def sponsors(tables: dict[str, DataFrame]) -> DataFrame:
    """DataFrame twin of ``sponsors.sql``: one row per (study, sponsor)
    with lead/collaborator provenance.

    The reference SQL left-joins each child back to ``xmltable_sponsors``
    on (parent surrogate id, pk) — data-wise a no-op (every child row has
    a parent) kept here for plan parity; the parent side is broadcast.
    """
    parent = F.broadcast(
        tables["xmltable_sponsors"].select(
            F.col("surrogate_id_xmltable_sponsors").alias("p_sid"),
            F.col("pk_nct_id").alias("p_pk"),
        )
    )

    def leg(child: DataFrame, label: str) -> DataFrame:
        joined = child.join(
            parent,
            (child["surrogate_id_xmltable_sponsors"] == parent["p_sid"])
            & (child["pk_nct_id"] == parent["p_pk"]),
            "left",
        )
        return joined.select(
            child["pk_nct_id"].alias("nct_id"),
            child["agency_class"].alias("agency_class"),
            F.lit(label).alias("lead_or_collaborator"),
            child["agency"].alias("name"),
            child["spark_ts"].cast("timestamp").alias("last_update_timestamp"),
        )

    return leg(tables["xmltable_sponsors_lead_sponsor"], "lead").unionByName(
        leg(tables["xmltable_sponsors_collaborator"], "collaborator")
    )


def ingest_from_urls(
    spark,
    urls: list[str],
    landing_dir: str,
    ts: str,
    opener=None,
):
    """Full reference ingest lifecycle in one call
    (``clinical_trial_etl.py:107-170``: validate URLs → parallel
    download/unzip → land one big XML per archive → read into a studies
    DataFrame with audit columns): executor-side fetch of every zip
    (:func:`io.zip_ingest.fetch_and_land_zips`), then the landed XML read
    back through the Spark XML source with the audit surface of
    :func:`with_study_audit`.

    Returns ``(studies_df, fetch_audit_df)`` — the audit DataFrame is the
    per-URL (ok, error, members, md5) record the reference only printed;
    anti-join it to retry failures without re-fetching successes.
    """
    from datapipelines_essentials_python_spark.io.zip_ingest import (
        fetch_and_land_zips,
    )

    import os

    audit = fetch_and_land_zips(
        spark, urls, landing_dir, member_suffix=".xml", opener=opener
    )
    # Materialize the side-effecting fetch EXACTLY ONCE: the audit DF is
    # RDD-backed, so any later action on a lazy handle would re-run the
    # whole download/land job. localCheckpoint(eager) both triggers it
    # and pins the results, so the returned audit is re-action-safe.
    audit = audit.localCheckpoint(eager=True)
    # Success check and the read path are both count-independent of the
    # URL list: one scalar aggregate, then a glob over the landing dir
    # (each archive lands at landing_dir/<stem>/<stem>.xml) — a 10M-URL
    # backfill never materializes a Python path list on the driver.
    n_ok = audit.filter(F.col("ok")).limit(1).count()
    if n_ok == 0:
        raise ValueError("no archive landed successfully; see audit output")
    studies = (
        spark.read.format("xml")
        .option("rowTag", "clinical_study")
        .load(os.path.join(landing_dir, "*", "*.xml"))
    )
    return with_study_audit(studies, ts), audit
