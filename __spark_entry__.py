"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pricing-summary pipeline on sf0.001;
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (+ the LLM-data-pipeline operators); ``oracle_sql()`` gives the
DuckDB-equivalent ANSI SQL for each.

Determinism rules used throughout so Spark and DuckDB hash-match:

- monetary/double aggregations cast to DECIMAL(18,4) *before* SUM (exact,
  order-independent addition), then CAST to DOUBLE on the way out;
- averages computed as double_sum / double_count (identical float ops);
- every ranking has a total order (explicit id tie-breakers);
- all text/sketch operators (MinHash, SimHash, fingerprints, LSH) use
  md5-derived hashing + portable arithmetic, so the oracle runs the SAME
  algorithm, not a look-alike.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipelines_essentials_python_spark.expr.filter_dsl import compile_filters
from datapipelines_essentials_python_spark.operators import cdc as cdc_ops
from datapipelines_essentials_python_spark.operators import chunking as chunk_ops
from datapipelines_essentials_python_spark.operators import dedup as dedup_ops
from datapipelines_essentials_python_spark.operators import flatten as flatten_ops
from datapipelines_essentials_python_spark.operators import incremental as inc_ops
from datapipelines_essentials_python_spark.operators import multimodal as mm_ops
from datapipelines_essentials_python_spark.operators import relational as rel_ops
from datapipelines_essentials_python_spark.operators import similarity as sim_ops
from datapipelines_essentials_python_spark.operators import sketches as sk_ops
from datapipelines_essentials_python_spark.operators import text as text_ops
from datapipelines_essentials_python_spark.operators.text import LANG_PROFILES
from datapipelines_essentials_python_spark.functions.durations import (
    difficulty,
    seconds_to_iso_duration,
)
from datapipelines_essentials_python_spark.functions.lookup import lookup_codes
from datapipelines_essentials_python_spark.plans.datamodel import DataModel
from datapipelines_essentials_python_spark.plans.join_planner import execute_joins, plan_joins
from datapipelines_essentials_python_spark.tables import load_table

from oracle_sql_defs import LSH_MAX_BUCKET


def _dec(c: str | Column) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("decimal(18,4)")


# ===========================================================================
# Spark queries
# ===========================================================================


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped scan→filter→groupBy→agg (SURVEY §2.4 A1/A2 spine).

    Plan check: filter + column pruning reach the parquet scan; one shuffle
    (partial agg map-side); no Python.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            # scale-8 sums overflow a double's 53-bit mantissa at big SF;
            # quantize to 4 dp in exact decimal space first so BOTH engines
            # make ONE correctly-rounded decimal→double conversion
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("decimal(38,4)")
            .cast("double")
            .alias("sum_disc_price"),
            (
                F.sum(_dec("l_quantity")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_qty"),
            (
                F.sum(_dec("l_discount")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_disc"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped 3-table join + agg + deterministic top-10."""
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
    )
    return (
        joined.groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("decimal(38,4)")
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop pk/fk join via the metadata join planner (SURVEY §2.3 J1/J2)
    with broadcast dims, grouped by nation within one region."""
    model = DataModel()
    model.add_table("lineitem", ["l_orderkey", "l_linenumber"])
    model.add_table("orders", ["o_orderkey"])
    model.add_table("customer", ["c_custkey"])
    model.add_table("nation", ["n_nationkey"])
    model.add_table("region", ["r_regionkey"])
    model.add_fk("lineitem", "orders", ["l_orderkey"], ["o_orderkey"], "inner")
    model.add_fk("orders", "customer", ["o_custkey"], ["c_custkey"], "inner")
    model.add_fk("customer", "nation", ["c_nationkey"], ["n_nationkey"], "inner")
    model.add_fk("nation", "region", ["n_regionkey"], ["r_regionkey"], "inner")
    dfs = {t: load_table(spark, sf_dir, t) for t in model.tables}
    steps = plan_joins(model, "lineitem")
    joined = execute_joins(dfs, "lineitem", steps, broadcast_tables={"nation", "region"})
    return (
        joined.where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("decimal(38,4)")
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        )
    )


def filter_dsl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter mini-DSL compiled to pushed-down predicates (SURVEY §2.2 P2)."""
    li = load_table(spark, sf_dir, "lineitem")
    pred = compile_filters(
        [
            ("l_returnflag", "eq('R')"),
            ("l_quantity", "gte(30)"),
            ("l_linestatus", "in('F','O')"),
            ("l_discount", "between(0.02, 0.08)"),
        ]
    )
    return li.where(pred).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag"
    )


def projection_cast_nvl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-style projection+cast+nvl (SURVEY §2.2 P1/P3, §2.8 F2)."""
    cust = load_table(spark, sf_dir, "customer")
    from datapipelines_essentials_python_spark.functions.nulls import nvl

    return cust.select(
        F.col("c_custkey").cast("long").alias("custkey"),
        nvl("c_mktsegment", "UNKNOWN").alias("mktsegment"),
        F.col("c_acctbal").cast("decimal(18,2)").cast("double").alias("acctbal"),
        F.when(F.col("c_acctbal") < 0, F.lit("overdrawn"))
        .otherwise(F.lit("ok"))
        .alias("acct_status"),
    )


def agg_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-function dispatch surface (SURVEY §2.4 A2) incl. count_distinct."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.min(_dec("l_quantity")).cast("double").alias("min_qty"),
        F.max(_dec("l_quantity")).cast("double").alias("max_qty"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        (
            F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avg_qty"),
        F.count_distinct(F.col("l_partkey")).cast("long").alias("n_parts"),
    )


def window_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot pattern: row_number()=1 per key (SURVEY §2.5 W1)."""
    orders = load_table(spark, sf_dir, "orders")
    snap = cdc_ops.snapshot(
        orders, ["o_custkey"], ["o_orderdate", "o_orderkey"]
    )
    return snap.select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")


def top_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized top-k per group (SURVEY §2.6 O2)."""
    orders = load_table(spark, sf_dir, "orders")
    return rel_ops.top_k_per_group(
        orders,
        ["o_orderpriority"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
        keep_rank=True,
    ).select("o_orderpriority", "o_orderkey", "o_totalprice", "rank")


def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT surface (SURVEY §2.7 gap note)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    with_orders = orders.select(F.col("o_custkey").alias("custkey")).distinct()
    rich = cust.where(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey")
    )
    inter = with_orders.intersect(rich).withColumn("setop", F.lit("both"))
    only_rich = rich.exceptAll(with_orders).withColumn("setop", F.lit("rich_only"))
    return inter.unionByName(only_rich)


def cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-diff CDC merge: inserts + updates (SURVEY §2.9, J3/J4/U1).

    Old/new snapshots are carved deterministically out of ``orders``; the
    hashcode is md5 over a canonical payload string (portable to the
    oracle).
    """
    orders = load_table(spark, sf_dir, "orders")
    payload_hash = F.md5(
        F.concat_ws(
            "|",
            F.col("o_orderstatus"),
            (F.col("o_totalprice").cast("decimal(18,4)") * 10000)
            .cast("long")
            .cast("string"),
        )
    )
    base = orders.select(
        "o_orderkey", "o_orderstatus", "o_totalprice", payload_hash.alias("hashcode")
    )
    old = base.where(F.col("o_orderkey") % 10 < 8)
    new = orders.where(F.col("o_orderkey") % 10 >= 4).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + 10)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    new = new.withColumn(
        "hashcode",
        F.md5(
            F.concat_ws(
                "|",
                F.col("o_orderstatus"),
                (F.col("o_totalprice").cast("decimal(18,4)") * 10000)
                .cast("long")
                .cast("string"),
            )
        ),
    )
    delta = cdc_ops.merge_cdc(old, new, ["o_orderkey"])
    return delta.select("o_orderkey", "o_orderstatus", "o_totalprice")


def word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count via split/explode/agg (SURVEY §2.4 A5)."""
    docs = load_table(spark, sf_dir, "documents")
    return rel_ops.word_count(docs, "text", pattern=" ").select(
        "word", F.col("cnt").cast("long").alias("cnt")
    )


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy: canonical doc id + multiplicity per
    distinct text (SURVEY §2.4 A4/A6 generalized)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").cast("long").alias("keeper_doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
    ).select("keeper_doc_id", "n_copies")


def array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array flattening: posexplode of token arrays (SURVEY §2.10 array leg)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    toks = text_ops.tokens(F.col("text"))
    return docs.select(
        "doc_id", F.posexplode(toks).alias("array_index", "token")
    )


def json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested flattening over from_json structs (SURVEY §2.10): the events
    ``props`` JSON column → child rows keyed by the cascaded natural key."""
    events = load_table(spark, sf_dir, "events")
    parsed = events.withColumn("props", F.from_json("props", "k int"))
    result = flatten_ops.flatten_nested(
        parsed, "events", cascade_keys={"event_id": "pk_event_id"}
    )
    child = result.tables["events_props"]
    return child.select(
        F.col("pk_event_id").cast("long").alias("event_id"),
        F.col("k").cast("int").alias("k"),
    )


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via lag window + cumulative sum — the
    batch analogue of streaming session windows."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.when(
        F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w) > 1800,
        1,
    ).otherwise(0)
    marked = events.withColumn("new_sess", F.coalesce(gap, F.lit(0)))
    sess = marked.withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id").agg(
        (F.max("session_id") + 1).cast("long").alias("n_sessions"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


def debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-edge debounce per (user, event_type) at a 300 s gap
    (``relational.debounce``): keeps the first event of every burst, the
    telemetry/alert-storm dedupe. Whole-second epoch comparison, id
    tie-break — fully deterministic, oracle replays the lag filter."""
    events = load_table(spark, sf_dir, "events")
    out = rel_ops.debounce(
        events, ["user_id", "event_type"], "ts", 300, tie_cols=["event_id"]
    )
    return out.select("event_id", "user_id", "event_type", "ts")


def duration_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601 duration formatting + difficulty bucketing (SURVEY §2.8
    F5/F6) over events.value (interpreted as minutes → seconds)."""
    events = load_table(spark, sf_dir, "events")
    secs = (F.col("value").cast("decimal(18,4)") * 60).cast("double")
    return events.select(
        "event_id",
        F.round(secs, 4).alias("total_seconds"),
        seconds_to_iso_duration(secs).alias("iso_duration"),
        difficulty(secs).alias("difficulty"),
    )


def lookup_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code→value lookup as a map-literal transform (SURVEY §2.8 F3)."""
    events = load_table(spark, sf_dir, "events")
    mapping = {"click": "CLICK_EVENT", "view": "VIEW_EVENT", "purchase": "BUY_EVENT"}
    return events.select(
        "event_id",
        "event_type",
        lookup_codes("event_type", mapping).alias("mapped_type"),
    )


def events_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-trunc rollup over the event stream table."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
    )


def dq_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass DQ rule engine output (SURVEY §2.11)."""
    from datapipelines_essentials_python_spark.dq.engine import dq_summary_df, execute_rules
    from datapipelines_essentials_python_spark.dq.rules import DQConfig, Rule

    docs = load_table(spark, sf_dir, "documents")
    config = DQConfig(
        dq_id="documents_dq",
        rules=[
            Rule(rule_id="1001", name="doc_id_unique", rule_type="unique", columns=("doc_id",)),
            Rule(rule_id="1002", name="text_unique", rule_type="unique", columns=("text",)),
            Rule(rule_id="1003", name="text_not_null", rule_type="not null", columns=("text",)),
            Rule(rule_id="1004", name="lang_not_null", rule_type="not null", columns=("lang",)),
        ],
    )
    _, results = execute_rules(spark, docs, config)
    return dq_summary_df(spark, results).select(
        "rule_id", "passed", F.col("violation_count").cast("long").alias("violation_count"),
        F.col("total_count").cast("long").alias("total_count"),
    )


def dq_file_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference DQ rule 1013 — input-file completeness: expected file
    names anti-joined against the distinct ``input_file_name()`` values
    actually scanned (``recipe-task1-dq-rules.json`` rule 1013). One
    expected name is deliberately absent, so exactly it comes back as the
    violation row."""
    from datapipelines_essentials_python_spark.dq.engine import file_completeness

    li = load_table(spark, sf_dir, "lineitem")
    return file_completeness(
        li, ["lineitem.parquet", "lineitem-part2.parquet"]
    ).withColumn("present", F.lit(False))


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (driver-mandated text analysis)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text_ops.detect_language("text").alias("lang_pred"))


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring (portable subset of quality_metrics)."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    toks = text_ops.tokens(c)
    n_tokens = F.size(toks)
    stop_arr = F.array(*[F.lit(w) for w in LANG_PROFILES["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return docs.select(
        "doc_id",
        F.length(c).cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(
            F.length(F.regexp_replace(F.lower(c), " ", "")).cast("double")
            / F.greatest(n_tokens, F.lit(1)).cast("double"),
            6,
        ).alias("avg_token_len"),
        F.round(
            n_stop.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double"), 6
        ).alias("stopword_ratio"),
        F.round(
            F.size(F.array_distinct(toks)).cast("double")
            / F.greatest(n_tokens, F.lit(1)).cast("double"),
            6,
        ).alias("uniq_token_ratio"),
    )


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex (driver-mandated)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text_ops.token_count("text").cast("long").alias("n_ws_tokens"),
        text_ops.bpe_ish_token_count("text").cast("long").alias("n_bpe_tokens"),
    )


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents. The corpus text carries no planted
    PII, so a deterministic synthetic contact line is appended to every
    7th document first — the redactor must find and replace exactly
    those (plus anything incidental), counted per pattern pass."""
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-123-4567 at 10.0.0."),
                (F.col("doc_id") % 256).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return seeded.select("doc_id", text_ops.pii_redact("text").alias("red")).select(
        "doc_id",
        F.col("red.n_email").alias("n_email"),
        F.col("red.n_phone").alias("n_phone"),
        F.col("red.n_ip").alias("n_ip"),
        F.md5(F.col("red.text")).alias("scrubbed_md5"),
    )


def decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval n-gram decontamination: every 97th document stands in
    for the benchmark set; each document reports what fraction of its
    distinct 3-gram shingles collide with it (eval docs themselves come
    back with ratio 1.0)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    eval_docs = docs.where(F.col("doc_id") % 97 == 0)
    out = text_ops.contamination(docs, eval_docs, "doc_id", "text", n=3)
    return out.select(
        F.col("id").cast("long").alias("doc_id"),
        "n_shingles",
        "n_contaminated",
        "ratio",
    )


def decontamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination — the bounded-memory scale path of
    ``decontamination``. The broadcast side is the distinct set of lit
    bloom bit positions (k=2 md5 positions per eval shingle, 2^20 bits):
    capped at ``m_bits`` rows no matter how large the eval suite grows,
    where the exact check's broadcast shingle set grows without bound.
    One-sided error (bloom can only over-flag), and the md5 hashing is
    deterministic, so even the filter construction replays in the oracle."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    eval_docs = docs.where(F.col("doc_id") % 97 == 0)
    out = text_ops.bloom_contamination(docs, eval_docs, "doc_id", "text", n=3)
    return out.select(
        F.col("id").cast("long").alias("doc_id"),
        "n_shingles",
        "n_bloom_hits",
        "ratio",
    )


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embedding corpus: nearest
    deterministic centroid per vector (every 31st vector — the same seeds
    the IVF/k-means queries use), cosine pairs only within a cluster,
    higher id loses. Returns the kept corpus."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    kept = dedup_ops.semantic_dedup_keep(emb, "vec_id", "embedding", threshold=0.85)
    return kept.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("label").cast("int").alias("label"),
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-min shingle-hash document fingerprint (driver-mandated)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return docs.select(
        "doc_id", text_ops.fingerprint("text", ngram=3, keep=4).alias("fp")
    )


def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, blocked by language, computed
    through the INVERTED-INDEX operator: postings joined on the shingle
    value, intersection from the co-occurrence count, union from the two
    set sizes — result-identical to the brute-force block self-join (the
    operator-level equivalence test proves it) but never materializes a
    zero-overlap pair, so both the engine AND the DuckDB oracle survive
    the 10× stress tier that the O(block²) clique could not.
    (``ngram_jaccard_pairs`` remains as the verification baseline;
    ``minhash_lsh`` is the candidate-capped scale path.)
    """
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return dedup_ops.ngram_jaccard_pairs_indexed(
        docs, "doc_id", "text", n=3, threshold=0.5, block_col="lang"
    ).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "jaccard"
    )


def minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact verification (driver-mandated).

    Same deterministic md5 hash family as the oracle; the degenerate-bucket
    cap (``LSH_MAX_BUCKET``) is REAL and mirrored in the oracle's ``capped``
    CTE, so the quadratic guard holds at 100 TB without breaking parity.
    Pair generation is shared across the dedup family (``_lsh_pairs``).
    """
    return _lsh_pairs(spark, sf_dir)


def simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints (driver-mandated)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return docs.select(
        "doc_id", dedup_ops.simhash("text").cast("long").alias("simhash32")
    )


def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline (driver-mandated)."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    queries = emb.where(F.col("vec_id") < 8)
    return sim_ops.brute_force_topk(emb, queries, "vec_id", "embedding", k=5).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        F.col("rank").cast("int"),
        "cosine",
    )


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via SRP-LSH buckets.

    ``bucket_planes=4`` prefilters candidates to vectors sharing the sign
    pattern of 4 deterministic md5-derived hyperplanes — an equi-join on
    the bucket id instead of an all-pairs cartesian. (``bucket_planes=0``
    remains the operator's exact verification baseline.)
    """
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    return dedup_ops.embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.5, bucket_planes=4
    ).select(F.col("id_a").cast("long"), F.col("id_b").cast("long"), "cosine")


def ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the SRP-LSH ANN scale path against the exact brute-force
    top-k — the quality gauge you run before committing an index layout at
    100 TB. Both sides are deterministic (md5-derived hyperplanes), so even
    the recall measurement is hash-checkable."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    queries = emb.where(F.col("vec_id") < 8)
    exact = sim_ops.brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
    approx = sim_ops.lsh_topk(emb, queries, "vec_id", "embedding", k=5, planes=4)
    return sim_ops.recall_at_k(approx, exact).select(
        F.col("query_id").cast("long"), "n_exact", "n_hit", "recall"
    )


def ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF ANN path at nprobe=1 AND nprobe=2 against the
    exact cosine top-k, per query — the gauge that prices the multi-probe
    recall/cost knob before committing a 100 TB index layout (nprobe=2
    scans ~2x the cells; this query shows exactly what that buys).
    Completes the recall-gauge family: ``ann_recall_lsh`` (SRP buckets),
    ``ann_recall_pq`` (codebook quantization), this (cell pruning).
    Deterministic centroids (every 31st vector), so even the recall
    numbers hash-match the oracle's replay. Invariant (tested, and
    implied by cell-superset candidates): recall_p2 >= recall_p1."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    queries = emb.where(F.col("vec_id") < 8)
    centroids = emb.where(F.col("vec_id") % 31 == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    exact = sim_ops.brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
    p1 = sim_ops.ivf_topk(
        emb, queries, "vec_id", "embedding", k=5, centroids=centroids
    )
    p2 = sim_ops.ivf_topk(
        emb, queries, "vec_id", "embedding", k=5, centroids=centroids, nprobe=2
    )
    r1 = sim_ops.recall_at_k(p1, exact).select(
        F.col("query_id").cast("long").alias("query_id"),
        "n_exact",
        F.col("n_hit").alias("n_hit_p1"),
        F.col("recall").alias("recall_p1"),
    )
    r2 = sim_ops.recall_at_k(p2, exact).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("n_hit").alias("n_hit_p2"),
        F.col("recall").alias("recall_p2"),
    )
    return r1.join(r2, "query_id")


def quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k over int8-quantized embeddings — the memory-bound ANN
    variant (4-8x smaller index payload; per-vector scales cancel in the
    cosine, so no dequantization)."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    queries = emb.where(F.col("vec_id") < 8)
    return sim_ops.quantized_topk(emb, queries, "vec_id", "embedding", k=5).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        F.col("rank").cast("int"),
        "qcosine",
    )


def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` gap-based sessions (30-minute gap) — the
    same operator Structured Streaming uses for streaming sessionization,
    run in batch; ``sessionize`` is its hand-rolled gap-and-island twin.
    Session end = last event + gap (the engine's contract)."""
    events = load_table(spark, sf_dir, "events")
    win = F.session_window("ts", "30 minutes")
    return (
        events.groupBy(win.alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary media column → Arrow-batched
    mapInPandas feature extraction (stub decoder; driver-mandated)."""
    # parallelize (guide §2.5/§4): the single-row-group scan otherwise
    # feeds the Arrow/Python feature extraction on ONE task (measured:
    # a 1.76 s single-task stage = the whole query)
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    media = mm_ops.documents_as_media(docs)
    feats = mm_ops.extract_features(media, decoder=mm_ops.fake_features)
    return feats.select(
        F.col("media_id").cast("long"),
        F.col("n_bytes").cast("long"),
        "sha256",
        F.round(F.element_at("features", 1), 6).alias("feature_0"),
    )


def metadata_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core loop end-to-end through the engine's metadata
    compiler (SURVEY §3.2): typed column specs + pk/fk model → filter DSL →
    projection/udf/cast → join fold → groupBy agg — all compiled to one
    Catalyst plan.

    Aggregators restricted to count/min (exactly representable) so the
    oracle hash is float-order independent.
    """
    from datapipelines_essentials_python_spark.plans.compiler import PipelineCompiler
    from datapipelines_essentials_python_spark.plans.metadata import ColumnSpec, TableSpec

    tables = [
        TableSpec(
            name="lineitem",
            order=0,
            columns=[
                ColumnSpec("lineitem", "l_returnflag", "returnflag"),
                ColumnSpec(
                    "lineitem", "l_orderkey", "n_items", target_type="bigint",
                    aggregator="count",
                ),
            ],
        ),
        TableSpec(
            name="part",
            order=1,
            columns=[
                ColumnSpec("part", "p_brand", "brand", udf="nvl", udf_args=("-",)),
                ColumnSpec("part", "p_size", "p_size", target_type="int",
                           filter="gte(25)"),
                ColumnSpec("part", "p_retailprice", "min_price",
                           target_type="double", aggregator="min"),
            ],
        ),
    ]
    model = DataModel()
    model.add_table("lineitem", ["l_orderkey", "l_linenumber"])
    model.add_table("part", ["p_partkey"])
    model.add_fk("lineitem", "part", ["l_partkey"], ["p_partkey"], "left")
    compiler = PipelineCompiler(spark, tables, model=model, main_table="lineitem")
    overrides = {
        "lineitem": load_table(spark, sf_dir, "lineitem"),
        "part": load_table(spark, sf_dir, "part"),
    }
    return compiler.compile(overrides=overrides)


def window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window surface beyond the reference (SURVEY §2.5 gap note):
    lag/lead/ntile + a running-sum frame, all over one shuffle."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, 0)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.ntile(4).over(w).alias("quartile"),
        F.sum(_dec("o_totalprice")).over(frame).cast("double").alias("running_spend"),
    )


def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (beyond-reference per SURVEY §2.4 gap note)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )


def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot on line status (beyond-reference; conditional-agg oracle)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(_dec("l_quantity")).cast("double"))
    )
    return out.select(
        "l_returnflag",
        F.col("O").alias("qty_open"),
        F.col("F").alias("qty_filled"),
    )


def asof_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks the most recent order (by synthetic
    shared key) at-or-before its timestamp — the classic feature-lookup /
    quote-attach pattern, via the union+window composition."""
    from datapipelines_essentials_python_spark.operators.asof import as_of_join

    events = load_table(spark, sf_dir, "events").select(
        "event_id", (F.col("user_id") % 20).alias("k"), "ts"
    )
    quotes = (
        load_table(spark, sf_dir, "orders")
        .select((F.col("o_orderkey") % 20).alias("k"), "o_orderdate", "o_totalprice")
        .groupBy("k", "o_orderdate")
        .agg(F.max("o_totalprice").alias("price"))
    )
    out = as_of_join(
        events, quotes, ["k"], "ts", "o_orderdate", ["price"]
    )
    return out.select(
        "event_id",
        F.col("k").cast("long").alias("k"),
        "asof_ts",
        F.col("asof_price").alias("price"),
    )


def near_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-duplicate REMOVAL over documents: MinHash-LSH pairs
    (verified ≥ 0.5 Jaccard) → drop the higher doc_id of every pair, keep
    the rest. Keep-lowest-per-pair is the standard one-pass approximation
    of connected-component dedup (transitive chains may keep an extra doc;
    exact closure needs iteration)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    pairs = _lsh_pairs(spark, sf_dir)
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    kept = docs.join(losers, "doc_id", "left_anti")
    return kept.select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))


def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN scale path: SRP-bucketed top-k. The hyperplanes are
    md5-derived (no trained model, no RNG), so even this "approximate"
    operator is fully deterministic and oracle-checked — the approximation
    is structural (bucket pruning), not random. ``embedding_topk`` is the
    exact brute-force twin."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    queries = emb.where(F.col("vec_id") < 8)
    return sim_ops.lsh_topk(emb, queries, "vec_id", "embedding", k=5, planes=4).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        F.col("rank").cast("int"),
        "cosine",
    )


def range_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: classify event values into [lo, hi) tiers via the
    bucketed equi-join composition (no nested-loop join)."""
    from datapipelines_essentials_python_spark.operators.asof import range_join

    events = load_table(spark, sf_dir, "events")
    tiers = spark.createDataFrame(
        [(0.0, 50.0, "low"), (50.0, 150.0, "mid"), (150.0, 100000.0, "high")],
        "lo double, hi double, tier string",
    )
    out = range_join(events, tiers, "value", "lo", "hi", bucket_size=50.0)
    return out.select("event_id", "value", "tier")


def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped single-scan filter+sum: the pure pushdown showcase —
    every predicate reaches the parquet scan, no join, no window."""
    li = load_table(spark, sf_dir, "lineitem")
    filtered = li.where(
        (F.year("l_shipdate") == 1996)
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return filtered.agg(
        F.sum(_dec("l_extendedprice") * _dec("l_discount"))
        .cast("decimal(38,4)")
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


def q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped distribution: LEFT join + two-level aggregation
    (orders per customer → customers per order-count)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    ).select(F.col("c_count").cast("long").alias("c_count"), "custdist")


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped conditional aggregation over a fact⋈dim join —
    promo revenue share in one pass (no second scan for the denominator)."""
    li = load_table(spark, sf_dir, "lineitem").where(F.year("l_shipdate") == 1997)
    part = load_table(spark, sf_dir, "part")
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    j = li.join(part, li.l_partkey == part.p_partkey)
    return j.agg(
        (
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,4)"))).cast("decimal(38,4)").cast("double")
            / F.sum(rev).cast("decimal(38,4)").cast("double")
        ).alias("promo_pct"),
        F.sum(rev).cast("decimal(38,4)").cast("double").alias("total_revenue"),
    )


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped correlated-aggregate decorrelation: per-part avg
    quantity (exact DECIMAL-sum ÷ count) joined back to the fact, filter
    ``qty < 0.2 × avg``, single-row revenue. The per-part aggregate is
    broadcast — no second fact shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        (
            F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avg_qty")
    )
    j = li.join(F.broadcast(per_part), "l_partkey")
    return (
        j.where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped HAVING-on-join: orders whose line quantity total
    exceeds 300, rejoined to customer — group-filter then enrich."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice",
            "sum_qty",
        )
    )


def semi_join_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): orders with at least one returned line,
    counted per priority (TPC-H Q4 shape; SURVEY §2.3 gap note)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
    )


def anti_join_dormant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no orders since 2001,
    per market segment — the J6 completeness-check pattern."""
    cust = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dormant"))
    )


def having_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (SURVEY §2.4 A1's post-aggregation filter path)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        .where(F.col("sum_qty") > 15500)
    )


def tz_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone conversion (SURVEY §2.8 F4): native to_utc_timestamp /
    from_utc_timestamp replacing the reference's pytz row UDFs. DST-free
    zones keep the oracle exact."""
    from datapipelines_essentials_python_spark.functions.datetime_fns import to_gmt

    events = load_table(spark, sf_dir, "events").where(F.col("event_id") % 7 == 0)
    return events.select(
        "event_id",
        to_gmt(F.col("ts"), zone="Asia/Tokyo").alias("utc_from_tokyo"),
        F.from_utc_timestamp("ts", "Asia/Kolkata").alias("kolkata_wall"),
    )


def date_sequence_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed backfill-window generation (SURVEY §2.8 F13): weekly
    dates for 4 weeks from each order date, via F.sequence + explode —
    the reference's driver-side date_ranges loop, distributed."""
    from datapipelines_essentials_python_spark.functions.datetime_fns import date_sequence

    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 100)
    start = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.explode(
            date_sequence(start, F.date_add(start, 21), interval_days=7)
        ).alias("backfill_date"),
    )


def string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APIDOC string-helper surface (SURVEY §2.8 F12) as native
    expressions: single_space / remove_all_whitespace /
    remove_non_word_characters."""
    from datapipelines_essentials_python_spark.functions.strings import (
        remove_all_whitespace,
        remove_non_word_characters,
        single_space,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    padded = F.concat(F.lit("  "), F.col("text"), F.lit("   "))
    tagged = F.concat(F.col("lang"), F.lit("-"), F.col("source"), F.lit("!"))
    return docs.select(
        "doc_id",
        single_space(padded).alias("squeezed"),
        remove_all_whitespace(F.substring("text", 1, 40)).alias("no_ws"),
        remove_non_word_characters(tagged).alias("words_only"),
    )


def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling (training-corpus
    rebalancing): downsample English 30%, keep the rest — reproducible
    across engines/retries, unlike rand()."""
    from datapipelines_essentials_python_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    fractions = {"en": 0.3, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0}
    return stratified_sample(docs, "lang", fractions, "doc_id").select(
        "doc_id", "lang"
    )


def fixed_size_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-20-per-language deterministic quota sample
    (``sampling.fixed_size_sample``): smallest-md5-hash-rank rows per
    group, selected with the two-phase shape — broadcast group counts set
    a hash pre-filter admitting ~4n survivors per group, then the ranking
    window runs on survivors only, so no partition ever holds a
    group-sized row set. The oracle replays threshold, hash, and ranking
    verbatim."""
    from datapipelines_essentials_python_spark.operators.sampling import (
        fixed_size_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = fixed_size_sample(docs, ["lang"], "doc_id", 20)
    return out.select(
        "lang",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("h").cast("long").alias("h"),
        F.col("rank").cast("int").alias("rank"),
    )


def train_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic disjoint train/holdout split, reported as per-split
    per-language counts (provably stable across reruns and engines)."""
    from datapipelines_essentials_python_spark.operators.sampling import split_train_holdout

    docs = load_table(spark, sf_dir, "documents")
    train, holdout = split_train_holdout(docs, "doc_id", holdout_fraction=0.2)
    t = train.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n")).withColumn(
        "split", F.lit("train")
    )
    h = holdout.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n")).withColumn(
        "split", F.lit("holdout")
    )
    return t.unionByName(h)


def unigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram-LM fluency scoring: per-doc mean log2 token
    probability (DECIMAL-exact sum ⇒ order-independent)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = text_ops.unigram_logprob_score(docs, "doc_id", "text")
    return scored.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("avg_logprob", 6).alias("avg_logprob"),
    )


_LSH_PAIRS_CACHE: dict[tuple[str, str], DataFrame] = {}
_LSH_LABELS_CACHE: dict[tuple[str, str], DataFrame] = {}


def _evict_lsh_caches(key: tuple[str, str]) -> None:
    """Unpersist-and-evict every shared-stage cache entry for a DIFFERENT
    key than the one being inserted (VERDICT r05 item 3): the parity
    sweeps visit scale tiers sequentially, so the moment one sf_dir's
    pair/label stage is built, the previous tier's persisted tables are
    dead weight — without eviction a three-tier sweep pins six tables it
    will never read again. Entries from other applications (a stopped
    session's leftovers) are evicted without unpersist — their blocks died
    with the app."""
    app = key[0]
    for cache in (_LSH_PAIRS_CACHE, _LSH_LABELS_CACHE):
        for k in [k for k in cache if k != key]:
            df = cache.pop(k)
            if k[0] == app:
                try:
                    df.unpersist()
                except Exception:
                    pass


def _lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared MinHash-LSH verified-pairs stage (id_a, id_b, jaccard)
    over documents — persisted once per (session, sf_dir) and consumed by
    ``minhash_lsh``, ``near_dedup_keep``, ``dedup_components_star``, and
    the component-label stage below. The MinHash signing intermediate is
    released as soon as the verified pairs are pinned."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _LSH_PAIRS_CACHE.get(key)
    if cached is not None:
        return cached
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    raw = dedup_ops.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=16, bands=8,
        threshold=0.5, max_bucket=LSH_MAX_BUCKET,
    )
    pairs = raw.select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "jaccard"
    ).persist()
    pairs.count()  # materialize now so the signing-side persist can go
    dedup_ops.release(raw)
    _evict_lsh_caches(key)
    _LSH_PAIRS_CACHE[key] = pairs
    return pairs


def _lsh_component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared LSH→exact-components stage: every document labeled with
    its near-dup component's minimum doc id, as a PERSISTED (doc_id,
    component) table, computed once per (session, sf_dir) and fed to every
    consumer (``dedup_components``, ``dedup_keep_best``,
    ``dup_cluster_histogram``). The three registry queries are separate
    DAGs by contract, but they run in one session — recomputing the
    identical pair-generation + label-propagation stage per query tripled
    the most expensive stage in the suite (VERDICT r04 item 3).
    Steady-state cache cost is one small 2-column table per sf_dir (the
    pairs table is pinned separately by ``_lsh_pairs``)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _LSH_LABELS_CACHE.get(key)
    if cached is not None:
        return cached
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    pairs = _lsh_pairs(spark, sf_dir)
    comp = dedup_ops.connected_components(
        pairs, "id_a", "id_b", nodes=docs, node_col="doc_id"
    )
    labels = comp.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    ).persist()
    labels.count()
    _evict_lsh_caches(key)
    _LSH_LABELS_CACHE[key] = labels
    return labels


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact connected-component dedup clustering: MinHash-LSH verified
    pairs as edges → iterative min-label propagation → every document
    labeled with its component's canonical (minimum) doc id. The exact
    transitive closure that ``near_dedup_keep`` approximates in one pass.
    The pair/label stage itself is shared via ``_lsh_component_labels``."""
    return _lsh_component_labels(spark, sf_dir)


def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance sampling: each document survives with
    probability equal to its unique-token ratio — deterministic (md5
    hash-threshold, not rand()), so the sampled corpus is identical on
    every run and engine."""
    from datapipelines_essentials_python_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    toks = text_ops.tokens(F.col("text"))
    w = F.size(F.array_distinct(toks)).cast("double") / F.greatest(
        F.size(toks), F.lit(1)
    ).cast("double")
    out = weighted_sample(docs.withColumn("w", w), "doc_id", F.col("w"))
    return out.select("doc_id", "lang", F.round("w", 6).alias("weight"))


def gap_fill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily gap-fill + forward-fill over the event stream: days where
    day-of-month % 5 = 0 are deterministically dropped first (the driver
    calendar has no natural gaps), then the operator regenerates the full
    calendar per event type and forward-fills the missing days, flagging
    synthesized rows."""
    events = load_table(spark, sf_dir, "events")
    gappy = events.where(F.dayofmonth(F.to_date("ts")) % 5 != 0)
    out = rel_ops.gap_fill_daily(gappy, "event_type", "ts", "value")
    return out.select(
        F.col("key").alias("event_type"),
        "day",
        F.round("value", 6).alias("value"),
        "filled",
    )


def quantile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile profiling per event type (p50/p90/p99, linear
    interpolation) — the exact twin of the approx_percentile scale path
    (`operators.relational.approx_quantiles_profile`): identical contract,
    so callers can swap exact↔approximate by budget."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as ``dedup_components`` — every document labeled with
    its component's minimum doc id — computed by the large-star/small-star
    pointer-jumping algorithm (O(log n) rounds instead of O(diameter)).
    Shares ``dedup_components``'s oracle: the two algorithms must agree
    exactly, and the driver gate proves it. Shares the verified-pairs
    stage (``_lsh_pairs``) but NOT the label stage — running a second
    closure algorithm over the same edges is the point."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    pairs = _lsh_pairs(spark, sf_dir)
    comp = dedup_ops.connected_components_star(
        pairs, "id_a", "id_b", nodes=docs, node_col="doc_id"
    )
    return comp.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


def ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (nprobe=1): deterministic centroid subset (every 31st
    vector), nearest-centroid cell assignment, per-cell exact top-k.
    Fully oracle-checkable — the approximation is structural (cell
    pruning), not random."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    queries = emb.where(F.col("vec_id") < 8)
    centroids = emb.where(F.col("vec_id") % 31 == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    out = sim_ops.ivf_topk(
        emb, queries, "vec_id", "embedding", k=5, centroids=centroids
    )
    return out.select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        F.col("rank").cast("int"),
        "cosine",
    )


def ivf_ann_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the multi-probe recall knob: each query searches its 2
    nearest cells (nprobe=2), candidates deduped across probes. Recall vs
    the exact ``embedding_topk`` baseline strictly improves over nprobe=1
    whenever a true neighbor lives in the query's second-closest cell."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    queries = emb.where(F.col("vec_id") < 8)
    centroids = emb.where(F.col("vec_id") % 31 == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    out = sim_ops.ivf_topk(
        emb, queries, "vec_id", "embedding", k=5, centroids=centroids, nprobe=2
    )
    return out.select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        F.col("rank").cast("int"),
        "cosine",
    )


def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance ≤ 3 via the pigeonhole
    block trick (4 blocks of 8 bits → equi-join per block, no all-pairs
    scan) — the sub-quadratic SimHash counterpart of MinHash-LSH."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    out = dedup_ops.simhash_pairs(docs, "doc_id", "text", max_hamming=3)
    return out.select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.col("hamming").cast("int").alias("hamming"),
    )


def histogram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram profiling of a numeric column (per event
    type): integer bucket arithmetic — exact, single shuffle, the standard
    data-profiling pass before training-set filtering."""
    events = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 25.0).cast("long")
    return (
        events.groupBy("event_type", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            "event_type",
            "bucket",
            (F.col("bucket") * 25.0).alias("lo"),
            "n",
        )
    )


def corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group from DECIMAL-exact moment sums — the
    one-pass sufficient-statistics pattern (n, Σx, Σy, Σxy, Σx², Σy²)
    whose final arithmetic is a fixed double-precision expression, so it is
    reproducible across engines and row orders (the built-in ``corr``'s
    running accumulation is not)."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = _dec("l_quantity"), _dec("l_extendedprice")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.round(corr, 6).alias("qty_price_corr"),
    )


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram repetition detection (Gopher-style): share of all bigrams
    taken by the most frequent one — flags templated/looping documents."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    out = text_ops.ngram_repetition(docs, "doc_id", "text", n=2)
    return out.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("n_ngrams").cast("long").alias("n_bigrams"),
        F.col("top_cnt").cast("long").alias("top_cnt"),
        "top_frac",
    )


def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite C4-style quality gate: token count, token-length band,
    vocabulary diversity, and language-ID rules combined into keep/drop
    with the first failing rule named — the standard pre-training corpus
    filter, one narrow pass + the lang-ID projection."""
    docs = load_table(spark, sf_dir, "documents")
    toks = text_ops.tokens(F.col("text"))
    n_tokens = F.size(toks)
    avg_len = F.length(F.regexp_replace(F.lower(F.col("text")), " ", "")).cast(
        "double"
    ) / F.greatest(n_tokens, F.lit(1)).cast("double")
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / F.greatest(
        n_tokens, F.lit(1)
    ).cast("double")
    lang = text_ops.detect_language("text")
    fail = (
        F.when(n_tokens < 5, F.lit("too_short"))
        .when(avg_len < 2.0, F.lit("tokens_too_short"))
        .when(avg_len > 14.0, F.lit("tokens_too_long"))
        .when(uniq_ratio < 0.3, F.lit("repetitive"))
        .when(lang == "und", F.lit("unknown_language"))
        .otherwise(F.lit(None).cast("string"))
    )
    return docs.select(
        "doc_id",
        fail.isNull().alias("keep"),
        fail.alias("fail_reason"),
    )


def q2_cheapest_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-flavored argmin join-back: per-type minimum retail price,
    joined back to recover the achieving parts (broadcast of the tiny
    per-group aggregate — no re-shuffle of the dim)."""
    part = load_table(spark, sf_dir, "part")
    mins = part.groupBy("p_type").agg(F.min("p_retailprice").alias("min_price"))
    return (
        part.join(F.broadcast(mins), "p_type")
        .where(F.col("p_retailprice") == F.col("min_price"))
        .select("p_type", "p_partkey", "p_brand", "p_retailprice")
    )


def q15_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped: 1996 revenue per supplier, keep the maximum
    earners via an all-rows window max (ties kept, like the original)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").where(F.year("l_shipdate") == 1996)
    sup = load_table(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("decimal(38,4)")
            .cast("double")
            .alias("total_revenue")
        )
    )
    top = rev.withColumn(
        "max_rev", F.max("total_revenue").over(Window.partitionBy())
    ).where(F.col("total_revenue") == F.col("max_rev"))
    return top.join(sup, top.l_suppkey == sup.s_suppkey).select(
        "s_suppkey", "s_name", "total_revenue"
    )


def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive bracket predicates over a fact⋈dim
    join — the OR-of-ANDs shape that exercises CNF conversion and partial
    pushdown in the optimizer."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    bracket1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    )
    bracket2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 20)
    )
    bracket3 = (F.col("p_type") == "PROMO") & (F.col("l_quantity") >= 20)
    return j.where(bracket1 | bracket2 | bracket3).agg(
        F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
        .cast("decimal(38,4)")
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


def q22_dormant_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: scalar-subquery average (DECIMAL-exact) + NOT
    EXISTS — above-average-balance customers with no orders since 2000,
    summarized per market segment."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        (
            F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avg_bal")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).where(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    recent = orders.where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    dormant = rich.join(
        recent, rich.c_custkey == recent.o_custkey, "left_anti"
    )
    return dormant.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped min-cost supplier (lineitem as the part↔supplier
    bridge — the driver data has no partsupp table): per STANDARD part of
    size < 10, the ASIA supplier with the lowest observed unit price.
    The correlated MIN is decorrelated into a row_number window; the dim
    chain (supplier→nation→region) broadcasts onto the offer aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    from pyspark.sql import Window

    asia_sup = F.broadcast(
        sup.join(nation, sup.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .where(F.col("r_name") == "ASIA")
        .select("s_suppkey", "s_name", "n_name")
    )
    sel_parts = F.broadcast(
        part.where((F.col("p_size") < 10) & (F.col("p_type") == "STANDARD")).select(
            "p_partkey", "p_name"
        )
    )
    offers = (
        li.join(sel_parts, li.l_partkey == F.col("p_partkey"))
        .join(asia_sup, li.l_suppkey == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "n_name")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"))
    )
    win = Window.partitionBy("p_partkey").orderBy(
        F.asc("unit_price"), F.asc("s_suppkey")
    )
    return (
        offers.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") == 1)
        .select(
            "p_partkey",
            "p_name",
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            "n_name",
            F.round("unit_price", 6).alias("unit_price"),
        )
    )


def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped order-priority check: orders with EXISTS a lineitem
    shipped > 90 days after the order date (the driver data has no
    commit/receipt dates), counted per priority. The EXISTS is a left-semi
    join on the order key with the lateness predicate inside the join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    late = li.select(
        F.col("l_orderkey").alias("lk"), F.to_date("l_shipdate").alias("sd")
    )
    waited = orders.join(
        late,
        (orders.o_orderkey == late.lk)
        & (late.sd > F.date_add(F.to_date(orders.o_orderdate), 90)),
        "left_semi",
    )
    return waited.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("order_count")
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped product-type profit by nation and year. With no
    partsupp supply cost in the driver data, cost is proxied as
    0.6 × p_retailprice × l_quantity; the proxy's true value has ≤ 4
    decimals (0.6 × 2-decimal price × integer qty), so rounding the
    double term to 4 dp and summing as DECIMAL is exact and
    order-independent on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    gears = F.broadcast(
        part.where(F.col("p_name").like("%gear%")).select("p_partkey", "p_retailprice")
    )
    s_nat = F.broadcast(
        sup.join(nation, sup.s_nationkey == nation.n_nationkey).select(
            "s_suppkey", "n_name"
        )
    )
    profit = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")) - F.round(
        F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity"), 4
    ).cast("decimal(18,4)")
    return (
        li.join(gears, li.l_partkey == F.col("p_partkey"))
        .join(s_nat, li.l_suppkey == F.col("s_suppkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit).cast("decimal(38,4)").cast("double").alias("sum_profit"))
    )


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped important stock: parts whose revenue exceeds
    1.5× the per-part average — the HAVING > fraction-of-global-aggregate
    pattern via a broadcast 1-row scalar aggregate (no second scan of the
    grouped side). The average is total(decimal-exact)/distinct-part-count
    so the threshold is order-independent, and a ratio (not a fixed
    fraction) so the query stays non-trivial at every sf."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    per_part = li.groupBy("l_partkey").agg(
        F.sum(rev).cast("decimal(38,4)").cast("double").alias("value")
    )
    total = li.agg(
        F.sum(rev).cast("decimal(38,4)").cast("double").alias("total"),
        F.countDistinct("l_partkey").cast("double").alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("value") > F.col("total") / F.col("n_parts") * 1.5)
        .select("l_partkey", "value")
    )


def q12_shipping_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped shipping-delay classes (no l_shipmode in the
    driver data — the class IS the delay bucket): lines bucketed by
    ship-after-order delay, with urgent/non-urgent conditional counts per
    bucket in one aggregation pass."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    delay = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    bucket = (
        F.when(delay > 90, F.lit("late"))
        .when(delay > 30, F.lit("slow"))
        .otherwise(F.lit("fast"))
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy(bucket.alias("delay_class")).agg(
        F.sum(F.when(urgent, 1).otherwise(0)).cast("long").alias("high_line_count"),
        F.sum(F.when(urgent, 0).otherwise(1)).cast("long").alias("low_line_count"),
    )


def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped supplier counts per part attribute (lineitem as
    the part↔supplier bridge): distinct suppliers per (brand, type, size)
    for selected sizes, excluding one brand and suppliers whose name ends
    in '7' (the NOT IN → broadcast anti-join)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    sel_parts = F.broadcast(
        part.where(
            (F.col("p_brand") != "Brand#1")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)
        ).select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad_sup = F.broadcast(
        sup.where(F.col("s_name").like("%7")).select(F.col("s_suppkey").alias("bad_key"))
    )
    pairs = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .join(bad_sup, F.col("l_suppkey") == F.col("bad_key"), "left_anti")
    )
    return (
        pairs.join(sel_parts, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", F.col("p_size").cast("int").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped excess-share shippers: NATION_3 suppliers that
    shipped > 2× their fair share of some red part's volume — nested
    aggregate (per pair vs per part) + ratio threshold + semi-join up to
    the supplier dim. A fair-share ratio (not a fixed fraction) keeps the
    result non-trivial as supplier counts grow with sf."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    red = F.broadcast(
        part.where(F.col("p_name").like("red%")).select("p_partkey")
    )
    shipped = li.join(red, li.l_partkey == F.col("p_partkey")).select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    pair_qty = shipped.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("pair_qty")
    )
    part_qty = shipped.groupBy("l_partkey").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("part_qty"),
        F.countDistinct("l_suppkey").cast("double").alias("n_sup"),
    )
    heavy = (
        pair_qty.join(part_qty, "l_partkey")
        .where(F.col("pair_qty") > F.col("part_qty") * 2.0 / F.col("n_sup"))
        .select("l_suppkey")
    )
    return (
        sup.join(nation, sup.s_nationkey == nation.n_nationkey)
        .where(F.col("n_name") == "NATION_3")
        .join(heavy, sup.s_suppkey == heavy.l_suppkey, "left_semi")
        .select(F.col("s_suppkey").cast("long").alias("s_suppkey"), "s_name")
    )


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped suppliers-who-kept-orders-waiting: for finished
    orders, NATION_5 suppliers whose line shipped > 60 days after the
    order date, where another supplier participated in the order (EXISTS →
    left-semi) but no other supplier was also late (NOT EXISTS →
    left-anti). Counts are per offending line, as in Q21."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    fin = orders.where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", F.to_date("o_orderdate").alias("od")
    )
    lines = li.join(fin, li.l_orderkey == fin.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        "l_linenumber",
        (F.to_date("l_shipdate") > F.date_add(F.col("od"), 60)).alias("is_late"),
    )
    late1 = lines.where(F.col("is_late"))
    others = lines.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    ).distinct()
    late_others = late1.select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    ).distinct()
    waiting = (
        late1.join(
            others,
            (F.col("l_orderkey") == F.col("ok2"))
            & (F.col("l_suppkey") != F.col("sk2")),
            "left_semi",
        ).join(
            late_others,
            (F.col("l_orderkey") == F.col("ok3"))
            & (F.col("l_suppkey") != F.col("sk3")),
            "left_anti",
        )
    )
    nat5 = F.broadcast(
        sup.join(nation, sup.s_nationkey == nation.n_nationkey)
        .where(F.col("n_name") == "NATION_5")
        .select("s_suppkey", "s_name")
    )
    return (
        waiting.join(nat5, waiting.l_suppkey == nat5.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


def snake_case_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column standardization surface (SURVEY §2.2 P4/P5): camelCase
    aliases → snake_case + alphabetical column ordering, value-checked
    through the oracle."""
    from datapipelines_essentials_python_spark.utils.columns import (
        snake_case_column_names,
        sort_columns,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custKey"),
        F.col("c_mktsegment").alias("marketSegment"),
        F.col("c_acctbal").alias("accountBalance"),
    )
    return sort_columns(snake_case_column_names(cust))


def date_parse_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern date parsing with null-on-failure (SURVEY §2.8 F14): format
    order dates to 'M/d/yyyy' strings, corrupt a deterministic subset, and
    parse back — invalid strings become NULL, matching the reference's
    strptime-wrapper semantics."""
    from datapipelines_essentials_python_spark.functions.datetime_fns import to_date_safe

    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    raw = F.when(F.col("o_orderkey") % 5 == 0, F.lit("not-a-date")).otherwise(
        F.date_format("o_orderdate", "M/d/yyyy")
    )
    return orders.select(
        "o_orderkey",
        raw.alias("raw_date"),
        to_date_safe(raw).alias("parsed_date"),
    )


def media_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media chunking plumbing: fixed 256-char windows over document
    payloads via Arrow-batched mapInPandas, per-chunk sizes + sha256 —
    the audio/video segmentation pattern, oracle-checked end-to-end."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    out = mm_ops.chunk_text_media(
        docs.select(F.col("doc_id").alias("media_id"), "text"),
        chunk_chars=256,
    )
    return out.select(
        "media_id",
        "chunk_index",
        "n_chars",
        "n_bytes",
        "sha256",
    )


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: documents assigned to
    2048-token context packs by cumulative position, sharded by language
    (packing is embarrassingly parallel across shards). Per-pack summary."""
    docs = load_table(spark, sf_dir, "documents")
    packed = text_ops.pack_documents(
        docs, "doc_id", "text", budget_tokens=2048, shard_col="lang"
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("doc_id").cast("long").alias("first_doc_id"),
    )


def pack_chunk_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing WITH document splitting (the GPT-style
    pretraining layout): documents laid end-to-end per language and cut
    into 512-token context windows; a document crossing a cut contributes
    a span to each window it overlaps. Per-chunk accounting: documents
    touching the chunk, tokens in the chunk (== 512 except the last chunk
    per shard), and carried-in continuation spans. Two-level running
    offsets — no per-shard single-partition window (see
    ``text.pack_chunk_spans``)."""
    docs = load_table(spark, sf_dir, "documents")
    spans = text_ops.pack_chunk_spans(
        docs, "doc_id", "text", budget_tokens=512, shard_col="lang"
    )
    return spans.groupBy("lang", "chunk_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("chunk_tokens").cast("long").alias("chunk_tokens"),
        F.sum(F.col("carried_in").cast("long")).cast("long").alias("n_carryover"),
    )


def hopping_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time hopping windows (1h length, 30min slide) over the event
    stream — Structured Streaming's windowed-aggregation semantics run in
    batch: each event contributes to length/slide = 2 windows."""
    events = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "30 minutes")
    return (
        events.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def salted_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated salted join: events joined to an event-type dimension
    through a deterministic hash salt — byte-identical results to the plain
    join (the oracle IS the plain join), with hot keys spread over
    salt_factor partitions."""
    events = load_table(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [
            ("click", 1.0), ("view", 0.5), ("purchase", 10.0),
            ("signup", 5.0), ("error", 0.0),
        ],
        "event_type string, weight double",
    )
    joined = rel_ops.salted_join(
        events, dim, ["event_type"], salt_factor=8, salt_cols=["event_id"]
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(_dec("value") * _dec("weight")).cast("decimal(38,4)").cast("double").alias("weighted_value"),
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped bidirectional nation-pair trade volume: two dim
    chains (supplier→nation, orders→customer→nation) hanging off the fact,
    both nation dims broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    s_nat = F.broadcast(nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    ))
    c_nat = F.broadcast(nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    ))
    j = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(s_nat, F.col("s_nationkey") == F.col("s_nkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(c_nat, F.col("c_nationkey") == F.col("c_nkey"))
    )
    pair = ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        j.where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("decimal(38,4)")
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: one nation's share of revenue sold to
    a region's customers, per order year — conditional/total exact sums in
    one aggregation pass."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    s_nat = F.broadcast(nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    ))
    c_geo = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .where(F.col("r_name") == "ASIA")
        .select(F.col("n_nationkey").alias("c_nkey"))
    )
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    j = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(s_nat, F.col("s_nationkey") == F.col("s_nkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(c_geo, F.col("c_nationkey") == F.col("c_nkey"))
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_7", rev)
                    .otherwise(F.lit(0).cast("decimal(18,4)"))
                ).cast("decimal(38,4)").cast("double")
                / F.sum(rev).cast("decimal(38,4)").cast("double")
            ).alias("mkt_share"),
            F.sum(rev).cast("decimal(38,4)").cast("double").alias("total_revenue"),
        )
    )


def q10_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: top-20 customers by revenue lost to returns in
    1996 — join, conditional filter, agg, deterministic global top-k."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").where(F.year("o_orderdate") == 1996)
    cust = load_table(spark, sf_dir, "customer")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("decimal(38,4)")
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase): per-user first
    view, first click strictly after it, first purchase strictly after
    that — the standard product-analytics sequence query, as three keyed
    aggregations (no per-user Python, no collect)."""
    events = load_table(spark, sf_dir, "events")
    views = (
        events.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .join(views, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        events.agg(F.count_distinct("user_id").cast("long").alias("n_users"))
        .crossJoin(views.agg(F.count(F.lit(1)).cast("long").alias("n_viewed")))
        .crossJoin(clicks.agg(F.count(F.lit(1)).cast("long").alias("n_clicked")))
        .crossJoin(purchases.agg(F.count(F.lit(1)).cast("long").alias("n_purchased")))
    )


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, distinct active
    users per (cohort day, day offset ≤ 7) — two keyed aggregations plus a
    broadcast-back of the tiny cohort table."""
    events = load_table(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    acts = events.join(F.broadcast(first_seen), "user_id").select(
        "user_id",
        "cohort_day",
        F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day")).alias(
            "day_offset"
        ),
    )
    return (
        acts.where(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").cast("long").alias("active_users"))
    )


def bloom_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered selective join: orders shed non-matching rows at
    scan time (k deterministic hash-bit semi-joins against a broadcast bit
    table) before the real join — result provably identical to the plain
    join, which is the oracle."""
    orders = load_table(spark, sf_dir, "orders")
    vips = load_table(spark, sf_dir, "customer").where(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 9000)
    )
    pruned = rel_ops.bloom_prefilter(
        orders, vips, "o_custkey", "c_custkey", num_bits=1 << 16, num_hashes=3
    )
    j = pruned.join(vips, pruned.o_custkey == vips.c_custkey)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
    )


def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout keys over two dimensions of the event
    stream — the space-filling-curve clustering used before partitioned
    writes so file-level min/max pruning serves predicates on either
    dimension. Pure bit arithmetic, exactly portable."""
    from datapipelines_essentials_python_spark.functions.hashing import zorder_key

    events = load_table(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    x = F.pmod(F.col("user_id"), F.lit(1024))
    y = F.greatest(F.least(F.floor(F.col("value")).cast("long"), F.lit(1023)), F.lit(0))
    return events.select(
        "event_id",
        x.cast("long").alias("x"),
        y.alias("y"),
        zorder_key(x, y, bits=10).alias("zkey"),
    )


def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 combinations) — completes the grouping-set
    surface next to ROLLUP (SURVEY §2.4 gap note)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )


def flatten_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep nested flattening end-to-end through the flattener operator:
    build order documents (struct header + sorted array-of-struct line
    items) and explode the array leg back to relational child rows with
    cascaded natural keys (SURVEY §2.10's signature recursion, here under
    the value-hash gate, not just unit tests)."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 500)
    li = load_table(spark, sf_dir, "lineitem")
    docs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.first("o_orderstatus").alias("status"),
            F.array_sort(
                F.collect_list(F.struct("l_linenumber", "l_quantity"))
            ).alias("items"),
        )
        .select(
            "o_orderkey",
            F.struct("status").alias("header"),
            "items",
        )
    )
    result = flatten_ops.flatten_nested(
        docs, "orderdoc", cascade_keys={"o_orderkey": "pk_orderkey"}
    )
    child = result.tables["orderdoc_items"]
    return child.select(
        F.col("pk_orderkey").cast("long").alias("o_orderkey"),
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        F.col("l_quantity").cast("double").alias("l_quantity"),
    )


def training_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end training-data pipeline: quality gate →
    MinHash-LSH near-dedup (keep lowest doc per verified pair) →
    deterministic stratified rebalancing → per-language corpus summary.
    Every stage is the oracle-checked operator from its own query; the
    composition is itself hash-checked."""
    from datapipelines_essentials_python_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents", parallelize=True)

    toks = text_ops.tokens(F.col("text"))
    n_tokens = F.size(toks)
    avg_len = F.length(F.regexp_replace(F.lower(F.col("text")), " ", "")).cast(
        "double"
    ) / F.greatest(n_tokens, F.lit(1)).cast("double")
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / F.greatest(
        n_tokens, F.lit(1)
    ).cast("double")
    keep = (
        (n_tokens >= 5)
        & (avg_len >= 2.0)
        & (avg_len <= 14.0)
        & (uniq_ratio >= 0.3)
        & (text_ops.detect_language("text") != "und")
    )
    # Round-9 optimization (guide §2.2/§5): the gated corpus feeds TWO
    # consumers — the LSH signature build and the keep side of the
    # anti-join — and each re-ran the full scan + tokenize +
    # language-detect gate. Persist the narrow (id, lang, text)
    # projection once; released via _sg_persisted with the LSH
    # signature cache (which previously leaked past the query).
    clean = docs.where(keep).select("doc_id", "lang", "text").persist()

    pairs = dedup_ops.minhash_lsh_pairs(
        clean, "doc_id", "text", n=3, num_hashes=16, bands=8,
        threshold=0.5, max_bucket=LSH_MAX_BUCKET,
    )
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    deduped = clean.join(losers, "doc_id", "left_anti")

    sampled = stratified_sample(
        deduped, "lang",
        {"en": 0.5, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0},
        "doc_id",
    )
    out = sampled.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(text_ops.tokens(F.col("text")))).cast("long").alias("n_tokens"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
    )
    out._sg_persisted = [clean, *getattr(pairs, "_sg_persisted", ())]  # noqa: SLF001
    return out


def training_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-2 flagship: quality gate → benchmark DECONTAMINATION
    (broadcast eval shingle set, inline ratio filter — no extra shuffle)
    → MinHash-LSH near-dedup → stratified rebalance → per-language
    summary. Same contract as ``training_pipeline_e2e`` with the
    decontamination stage integrated mid-pipeline."""
    from datapipelines_essentials_python_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents", parallelize=True)

    toks = text_ops.tokens(F.col("text"))
    n_tokens = F.size(toks)
    avg_len = F.length(F.regexp_replace(F.lower(F.col("text")), " ", "")).cast(
        "double"
    ) / F.greatest(n_tokens, F.lit(1)).cast("double")
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / F.greatest(
        n_tokens, F.lit(1)
    ).cast("double")
    keep = (
        (n_tokens >= 5)
        & (avg_len >= 2.0)
        & (avg_len <= 14.0)
        & (uniq_ratio >= 0.3)
        & (text_ops.detect_language("text") != "und")
    )
    clean = docs.where(keep)

    # decontamination against the every-97th-doc benchmark stand-in:
    # one broadcast row holding the eval shingle set, one array_intersect
    # per doc — rides the same scan, no shuffle added
    ev_set = (
        docs.where(F.col("doc_id") % 97 == 0)
        .select(F.explode(dedup_ops.shingles("text", 3)).alias("s"))
        .agg(F.array_distinct(F.collect_list("s")).alias("ev"))
    )
    sh = dedup_ops.shingles("text", 3)
    ratio = F.round(
        F.size(F.array_intersect(sh, F.col("ev"))).cast("double")
        / F.greatest(F.size(sh), F.lit(1)).cast("double"),
        6,
    )
    # Round-9 optimization (guide §2.2/§5), same as training_pipeline_e2e:
    # the gate + broadcast-decontamination chain feeds both the LSH
    # signature build and the anti-join keep side — persist the narrow
    # projection once instead of re-running scan + tokenize + language
    # detect + shingle intersect per consumer. Released via
    # _sg_persisted with the LSH signature cache.
    decon = (
        clean.crossJoin(F.broadcast(ev_set))
        .where(ratio < 0.8)
        .select("doc_id", "lang", "text")
        .persist()
    )

    pairs = dedup_ops.minhash_lsh_pairs(
        decon, "doc_id", "text", n=3, num_hashes=16, bands=8,
        threshold=0.5, max_bucket=LSH_MAX_BUCKET,
    )
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    deduped = decon.join(losers, "doc_id", "left_anti")

    sampled = stratified_sample(
        deduped, "lang",
        {"en": 0.5, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0},
        "doc_id",
    )
    out = sampled.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(text_ops.tokens(F.col("text")))).cast("long").alias("n_tokens"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
    )
    out._sg_persisted = [decon, *getattr(pairs, "_sg_persisted", ())]  # noqa: SLF001
    return out


def ols_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple linear regression (price ~ quantity) in closed form
    from DECIMAL-exact sufficient statistics — one-pass distributed model
    fitting with bit-reproducible coefficients (n, Σx, Σy, Σxy, Σx² per
    group, then a fixed double-precision formula)."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = _dec("l_quantity"), _dec("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


def audit_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-time audit columns (SURVEY §2.8 F7/F8): file name from
    input_file_name() and a canonical-JSON row hash — computed during the
    scan, replacing the reference's O(data) driver-side XML rewrite. The
    derived file name and integer-key hash are deterministic, so even this
    file-metadata surface is value-hash gated."""
    from datapipelines_essentials_python_spark.io.readers import read_with_audit_columns

    df = read_with_audit_columns(
        spark,
        "parquet",
        f"{sf_dir.rstrip('/')}/lineitem.parquet",
        hash_columns=["l_orderkey", "l_linenumber"],
    )
    return df.where(F.col("l_orderkey") < 1000).select(
        "l_orderkey", "l_linenumber", "file_name", "hashcode"
    )


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time text normalization: control chars, casing, and
    whitespace runs are seeded deterministically (doc_id-keyed) into the
    clean fixture text, then ``normalize_text`` canonicalizes — the
    round-trip proves the pass restores the canonical form. Normalizing
    BEFORE hashing is what makes every fingerprint edit-stable."""
    docs = load_table(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("  \t"),
        F.when(F.col("doc_id") % 3 == 0, F.upper("text")).otherwise(F.col("text")),
        F.lit("\x07  trailing\x1f junk\n\n"),
    )
    norm = text_ops.normalize_text(messy)
    return docs.select(
        "doc_id",
        F.length(messy).cast("long").alias("n_chars_raw"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        F.md5(norm).alias("norm_md5"),
    )


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary sizing: top-50 corpus vocabulary with rank and
    cumulative-coverage share (what fraction of all token occurrences a
    k-entry vocab covers)."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = text_ops.build_vocab(docs, "text", top_k=50)
    return vocab.select(
        "token",
        "cnt",
        F.col("rank").cast("int").alias("rank"),
        "cum_cnt",
        F.round(F.col("cum_cnt").cast("double") / F.col("total_cnt").cast("double"), 6)
        .alias("coverage"),
    )


def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords (smoothed idf; integer outputs,
    float score used only for ordering so the result hash-matches)."""
    docs = load_table(spark, sf_dir, "documents")
    out = text_ops.tfidf_top_terms(docs, "doc_id", "text", k=3)
    return out.select(
        F.col("id").cast("long").alias("doc_id"), "term", "tf", "df",
        F.col("rank").cast("int").alias("rank"),
    )


def incremental_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus update: even doc_ids play the existing corpus,
    odd doc_ids the incoming batch; admit only incoming docs whose
    fingerprint is new to the corpus AND first within the batch. The
    steady-state dedup shape at 100 TB — per-batch cost only."""
    from datapipelines_essentials_python_spark.operators.text import fingerprint

    docs = load_table(spark, sf_dir, "documents", parallelize=True).withColumn(
        "fp", fingerprint("text")
    )
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    incoming = docs.where(F.col("doc_id") % 2 == 1)
    out = dedup_ops.incremental_dedup(incoming, corpus, "doc_id", "text")
    return out.select("doc_id", "lang", "fp")


def curriculum_bins_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum labeling: every document binned 1..4 by exact quartile
    boundaries of its unique-token-ratio quality score — broadcast
    boundary table + narrow compare, no global sort."""
    from datapipelines_essentials_python_spark.operators.sampling import curriculum_bins

    docs = load_table(spark, sf_dir, "documents")
    toks = text_ops.tokens(F.col("text"))
    score = F.round(
        F.size(F.array_distinct(toks)).cast("double")
        / F.greatest(F.size(toks), F.lit(1)).cast("double"),
        6,
    )
    out = curriculum_bins(docs, score, "doc_id", num_bins=4)
    return out.select("doc_id", F.col("score"), F.col("bin"))


def domain_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-domain flattening: cap every source domain at 12 documents,
    chosen by deterministic md5 order (a reproducible uniform draw, not
    scan order)."""
    from datapipelines_essentials_python_spark.operators.sampling import balance_domains

    docs = load_table(spark, sf_dir, "documents")
    out = balance_domains(docs, "source", "doc_id", cap=12, salt="bal")
    return out.select("doc_id", "source")


def global_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible epoch ordering: every document assigned a (shard, pos)
    coordinate — md5-bucket shard + md5-rank position. Same permutation on
    every run/engine/cluster size; at scale this is repartition +
    sortWithinPartitions, never a global sort."""
    from datapipelines_essentials_python_spark.operators.sampling import (
        deterministic_shuffle,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = deterministic_shuffle(docs, "doc_id", num_shards=8, salt="epoch0")
    return out.select("doc_id", F.col("shard"), F.col("pos"))


def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation audit: two deterministic variants of the
    orders table (old drops keys %7=0; new drops %11=0 and bumps the
    price of %5=0) reconciled with one full-outer join — every key
    classified added / removed / changed / unchanged. The audit twin of
    cdc_merge."""
    orders = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    old = orders.where(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", F.md5(price.cast("string")).alias("hashcode")
    )
    new_price = F.when(
        F.col("o_orderkey") % 5 == 0, price + F.lit(1).cast("decimal(18,2)")
    ).otherwise(price)
    new = orders.where(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey", F.md5(new_price.cast("string")).alias("hashcode")
    )
    return cdc_ops.snapshot_diff(old, new, ["o_orderkey"])


def rolling_events_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day moving average of event value per type — daily
    pre-aggregate then a RANGE window over the day offset (gap-correct),
    decimal-exact sums under the rolling mean."""
    events = load_table(spark, sf_dir, "events")
    return rel_ops.rolling_daily_mean(events, "event_type", "ts", "value")


def iqr_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier profile per event type: exact quartile fences
    (rounded 6 dp) + outlier counts; swap percentile→approx_percentile at
    scale for one-pass sketching."""
    events = load_table(spark, sf_dir, "events")
    return rel_ops.iqr_outliers(events, "event_type", "value")


def kmeans_step_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd iteration over the embedding corpus: assign every
    vector to its nearest deterministic seed centroid (every 31st vector),
    then recompute per-cluster per-dimension means with DECIMAL-exact
    sums. The training-side twin of the IVF index the ANN queries read."""
    from datapipelines_essentials_python_spark.operators.clustering import kmeans_step

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    centroids = emb.where(F.col("vec_id") % 31 == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    return kmeans_step(emb, centroids).select(
        F.col("cluster").cast("long").alias("cluster"), "dim", "centroid", "n"
    )


def kmeans_two_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO chained Lloyd iterations, oracle-checked end to end: the
    iteration-2 centroid table is rebuilt from iteration 1's ROUNDED
    per-dimension means, so the whole iterative run stays deterministic
    and engine-portable — the oracle replays both rounds in SQL."""
    from datapipelines_essentials_python_spark.operators.clustering import (
        centroids_of,
        kmeans_step,
    )

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    seeds = emb.where(F.col("vec_id") % 31 == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    round1 = kmeans_step(emb, seeds)
    round2 = kmeans_step(emb, centroids_of(round1))
    return round2.select(
        F.col("cluster").cast("long").alias("cluster"), "dim", "centroid", "n"
    )


def sql_api_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door: the same engine via ``spark.sql`` over temp
    views — proving the surface isn't DataFrame-only. Catalyst compiles
    this to the identical plan as the DataFrame twin (broadcast dims,
    partial aggs)."""
    for t in ("orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"v_{t}")
    return spark.sql(
        """
        SELECT n.n_name AS nation,
               year(o.o_orderdate) AS order_year,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                   AS total_price,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM v_orders o
        JOIN v_customer c ON o.o_custkey = c.c_custkey
        JOIN v_nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, year(o.o_orderdate)
        """
    )


def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (RAG/pretraining context windows).

    Pure explode + higher-order array projection riding the documents scan
    — no Python workers, bounded blow-up (~n_tokens/stride rows per doc).
    """
    docs = load_table(spark, sf_dir, "documents")
    return chunk_ops.chunk_documents(docs, chunk_size=16, stride=12)


def span_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span dedup: drop repeated 4-token blocks corpus-wide
    (first occurrence wins), reassemble surviving blocks per doc."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_ops.span_dedup(docs, block_size=4)


def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 adjacent bigrams; one partial-agg shuffle and a
    k-row result with a total order."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_ops.heavy_hitters_bigrams(docs, k=20)


def substring_dup_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 8-token-window substring-duplication profile at stride 3 —
    the overlapping-span repetition signal (Lee et al.-style) used to drop
    or trim boilerplate-heavy documents. One window-keyed agg (md5 keys)
    + one doc-keyed agg; no corpus-wide windows."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_ops.substring_dup_profile(docs, window=8, stride=3)


def feature_hash_tf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick TF vectorizer: md5-bucketed term frequencies in
    sparse long format — per-doc state bounded by num_buckets."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_ops.feature_hash_tf(docs, num_buckets=64)


def _scd2_staging(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Deterministic SCD2 staging from orders: the dimension is the full
    order set; the snapshot drops ``k % 13 == 0`` (deletes), bumps price by
    an exact decimal 1.1× on ``k % 7 == 0`` (changes), and adds shifted
    keys from ``k % 11 == 0`` (inserts)."""
    k = F.col("k")
    price = _dec("o_totalprice").cast("double")
    bumped = (
        F.col("o_totalprice").cast("decimal(18,4)")
        * F.lit("1.1").cast("decimal(2,1)")
    ).cast("double")
    ords = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        price.alias("price"),
        bumped.alias("bumped"),
    )
    dim = ords.select(
        "k",
        "status",
        "price",
        F.lit("1992-01-01").cast("date").alias("effective_from"),
        F.lit("9999-12-31").cast("date").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    snap = (
        ords.where(k % 13 != 0)
        .select(
            "k",
            "status",
            F.when(k % 7 == 0, F.col("bumped")).otherwise(F.col("price")).alias(
                "price"
            ),
        )
        .unionByName(
            ords.where(k % 11 == 0).select(
                (k + 100_000_000).alias("k"),
                F.lit("N").alias("status"),
                F.col("price"),
            )
        )
    )
    return dim, snap


def scd2_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension merge (§2.9 upgraded to queryable
    history): unchanged keys keep their current row, changed keys get a
    closed row + a new open row, snapshot-only keys insert, missing keys
    soft-delete. One full-outer pk shuffle; history rides through."""
    dim, snap = _scd2_staging(spark, sf_dir)
    return cdc_ops.scd2_merge(
        dim, snap, ["k"], ["status", "price"], load_date="1998-08-01"
    )


def incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: per-customer order aggregate kept
    fresh by merging an already-aggregated delta batch into the stored
    state — O(delta) work, never re-reading the base. The oracle is the
    full recompute over all rows: the merge must be EXACTLY equal (decimal
    sums make the addition order-independent)."""
    ords = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.sum(_dec("o_totalprice")).alias("sum_price_dec"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )

    base = agg(ords.where(F.col("o_orderdate") < cutoff))
    delta = agg(ords.where(F.col("o_orderdate") >= cutoff))
    merged = inc_ops.merge_agg_state(
        base, delta, ["o_custkey"], ["sum_price_dec"], count_col="n_orders"
    )
    return merged.select(
        "o_custkey",
        F.col("sum_price_dec").cast("double").alias("sum_price"),
        "n_orders",
        (
            F.col("sum_price_dec").cast("double")
            / F.col("n_orders").cast("double")
        ).alias("avg_price"),
    )


def data_skipping_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping: per-split min/max/count over l_shipdate for
    2048-order-key logical splits, plus the prune verdict for a
    ship-date-range predicate — the math behind parquet row-group pruning
    and lakehouse file skipping. Stats are one partial-agg shuffle and the
    result is split-count sized (broadcastable)."""
    li = load_table(spark, sf_dir, "lineitem")
    split = F.floor(F.col("l_orderkey") / F.lit(2048)).cast("long")
    zm = inc_ops.zone_map(li, split, ["l_shipdate"])
    return inc_ops.prune_plan(
        zm,
        "l_shipdate",
        F.lit("1995-01-01").cast("timestamp"),
        F.lit("1995-12-31").cast("timestamp"),
    )


def group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles (p25/p50/p75 of n_chars per lang) via
    the native ``percentile`` aggregate — linear interpolation on quarter
    fractions over integer inputs is exact in binary, so the DuckDB
    ``quantile_cont`` oracle matches bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    q = F.percentile(
        F.col("n_chars"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    agged = docs.groupBy("lang").agg(
        q.alias("q"), F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return agged.select(
        "lang",
        F.element_at("q", 1).alias("p25"),
        F.element_at("q", 2).alias("p50"),
        F.element_at("q", 3).alias("p75"),
        "n_docs",
    )


def cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation: build a 4×64 md5-hashed CMS
    over all document tokens, then estimate the exact top-20 tokens'
    counts from the sketch. Sketch state is ≤256 counters regardless of
    corpus size (partial agg does the work map-side); estimates are the
    classic min-over-rows upper bound. Deterministic md5 hashing → the
    oracle replays the identical sketch."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    tok = docs.select(F.explode(text_ops.tokens("text")).alias("token"))
    top = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), F.col("token"))
        .limit(20)
    )
    sketch = sk_ops.cms_build(tok, "token", depth=4, width=64)
    est = sk_ops.cms_estimate(sketch, top, "token", depth=4, width=64)
    return top.join(est, "token").select("token", "true_cnt", "cms_est")


def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user counts per event type (p=8, 256
    registers, md5-prefix hash, integer-exact harmonic sums, linear-
    counting small-range branch) next to the exact distinct — register
    state is 256 rows per group no matter how many events flow through.
    Deterministic construction → the SQL oracle computes the IDENTICAL
    estimate, making the approximate path exactly testable."""
    ev = load_table(spark, sf_dir, "events")
    regs = sk_ops.hll_registers(ev, "user_id", ["event_type"])
    est = sk_ops.hll_estimate(regs, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    return exact.join(est, "event_type").select("event_type", "n_exact", "hll_est")


def histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state quantile sketch: per-event-type p50/p90/p99 of
    `value` via a 256-bin fixed-range histogram (sketches.value_histogram
    — shuffled state is bins x groups rows, independent of input size;
    linear, so per-batch histograms merge by counter addition), gauged
    against the exact interpolated quantile in the same row. The scalable
    companion of ``quantile_profile``, whose exact `percentile` agg
    buffers every group value — the thing you cannot do to a 100 TB
    column. All binning arithmetic is replayed verbatim by the oracle, so
    even the estimates hash-match."""
    ev = load_table(spark, sf_dir, "events")
    bins = sk_ops.value_histogram(
        ev, ["event_type"], "value", n_bins=256, lo=0.0, hi=640.0
    )
    est = sk_ops.histogram_quantile(
        bins, ["event_type"], [0.5, 0.9, 0.99], n_bins=256, lo=0.0, hi=640.0
    )
    exact = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("e50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("e90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("e99"),
    )
    exact_long = exact.select(
        "event_type",
        F.explode(
            F.map_from_arrays(
                F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
                F.array("e50", "e90", "e99"),
            )
        ).alias("q", "exact_q"),
    )
    return est.join(exact_long, ["event_type", "q"]).select(
        "event_type",
        "q",
        "n",
        "est",
        "exact_q",
        F.round(F.abs(F.col("est") - F.col("exact_q")), 6).alias("err"),
    )


def grouped_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-proof train/val/test assignment: the split is a hash of the
    SOURCE (not the row), so near-duplicates clustered within a source can
    never straddle train and eval. Pure narrow projection; the per-source
    integrity is visible in the output (one split per source)."""
    from datapipelines_essentials_python_spark.operators.sampling import grouped_split

    docs = load_table(spark, sf_dir, "documents")
    assigned = grouped_split(
        docs, "source", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return assigned.groupBy("source", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


def winsorize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorization of event values at p01/p99 (exact
    percentiles, 6-dp-rounded bounds for engine portability): one quantile
    pass → tiny bounds table broadcast back → clamp projection. The
    robust-stats companion of ``iqr_outlier_events``."""
    ev = load_table(spark, sf_dir, "events")
    out = rel_ops.winsorize(ev, "event_type", "value", 0.01, 0.99)
    return out.select("event_id", "event_type", "value", "value_wins")


def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile (§2.11 companion): per-column null +
    distinct counts for orders in a SINGLE aggregation over one scan,
    pivoted long-format via stack — the first look a DQ engineer takes at
    an unknown table before writing rules."""
    from datapipelines_essentials_python_spark.dq.engine import profile_columns

    ords = load_table(spark, sf_dir, "orders")
    return profile_columns(
        ords,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"],
    )


def compaction_plan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planner: zone-map splits bin-packed into
    ~50k-row output files by a running-sum window over the STATS table
    (KBs) — planner cost independent of table size, consecutive splits
    kept together so existing sort-correlation (and zone-map pruning)
    survives compaction."""
    li = load_table(spark, sf_dir, "lineitem")
    split = F.floor(F.col("l_orderkey") / F.lit(2048)).cast("long")
    zm = inc_ops.zone_map(li, split, ["l_shipdate"]).select("split_id", "n_rows")
    return inc_ops.compaction_plan(zm, target_rows=50_000)


def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fluency scoring under the corpus's own add-one-smoothed bigram LM
    (penalizes unlikely token transitions, not just rare words). Decimal-
    quantized per-bigram logprobs summed to integer micro-units — the
    output carries no float, so it hash-matches at ANY corpus scale."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    out = text_ops.bigram_logprob_score(docs, "doc_id")
    return out.select(
        F.col("id").cast("long").alias("doc_id"), "n_bigrams", "sum_logprob_micro"
    )


def pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: 64-dim vectors compress to 4 codebook
    codes (4 bytes); scoring is asymmetric distance (exact query subvector
    vs reconstructed corpus subvector) in a narrow projection over the
    corpus scan — the memory-bound ANN path alongside IVF
    (compute-bound) and SRP-LSH (bucket-bound). Decimal-quantized partial
    distances make the estimate exactly oracle-checkable.

    Query sample bounded by construction (vec_id % 97 == 0 AND < 97000:
    at most 1000 queries at ANY corpus size), so the gauge stays
    O(corpus) — a linear %-only sample would make it quadratic overall.
    """
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    queries = emb.where((F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 97000))
    return sim_ops.pq_topk(emb, queries, k=5)


def pq_ann_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN with a k-means-refined codebook (VERDICT r04 item 5): one
    per-subspace Lloyd iteration moves each seed centroid to the DECIMAL-
    exact rounded mean of its assigned subvectors before encoding —
    tighter quantization cells, better recall, still bit-exact against
    the SQL oracle (which replays the iteration). The refinement pass is
    one broadcast over the corpus plus a (sub, code, dim)-keyed agg whose
    shuffle is corpus-size-independent.

    Query sample bounded by construction (vec_id % 97 == 0 AND < 97000:
    at most 1000 queries at ANY corpus size), so the gauge stays
    O(corpus) — a linear %-only sample would make it quadratic overall.
    """
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    queries = emb.where((F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 97000))
    return sim_ops.pq_topk(emb, queries, k=5, refine_iters=1)


def ann_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the refined-codebook PQ path against the EXACT
    squared-L2 top-k (PQ estimates L2, so the baseline must be L2 — the
    cosine gauge would measure metric mismatch, not quantization error).
    Fully deterministic end to end, so even the recall numbers are
    hash-checked against the oracle's replay of both sides.

    Note the synthetic embeddings are isotropic random vectors — PQ's
    worst case, so the ABSOLUTE recall here is low by construction (the
    refinement's real effect is the monotone distortion drop asserted in
    tests, 529→381 on this table after one iteration); this query is the
    measurement harness a real corpus would run, oracle-pinned.

    Query sample bounded by construction (vec_id % 97 == 0 AND < 97000:
    at most 1000 queries at ANY corpus size), so the gauge stays
    O(corpus) — a linear %-only sample would make it quadratic overall.
    """
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    queries = emb.where((F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 97000))
    exact = sim_ops.brute_force_l2_topk(emb, queries, "vec_id", "embedding", k=5)
    approx = sim_ops.pq_topk(emb, queries, k=5, refine_iters=1)
    return sim_ops.recall_at_k(approx, exact).select(
        F.col("query_id").cast("long"), "n_exact", "n_hit", "recall"
    )


def hll_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch mergeability, correctness-gated: HLL registers built
    separately over two event-time halves, merged (per-register max), and
    estimated — the oracle computes the estimate over the FULL corpus
    directly, so the gate proves ``estimate(merge(A, B)) ==
    estimate(A ∪ B)`` exactly. This is the pattern that keeps 100 TB
    distinct-count profiles fresh: sketch per day/batch, merge at query
    time, never rescan history."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16").cast("timestamp")
    regs_a = sk_ops.hll_registers(
        ev.where(F.col("ts") < cutoff), "user_id", ["event_type"]
    )
    regs_b = sk_ops.hll_registers(
        ev.where(F.col("ts") >= cutoff), "user_id", ["event_type"]
    )
    merged = sk_ops.hll_merge(regs_a, regs_b, ["event_type"])
    return sk_ops.hll_estimate(merged, ["event_type"]).select(
        "event_type", "hll_est"
    )


def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 lexical retrieval: doc 0's distinct tokens as the query,
    top-10 documents by BM25 score (k1=1.2, b=0.75) over the full-corpus
    statistics. Per-term contributions are 6-dp-rounded and summed in
    decimal micro-units (``operators/text.py bm25_scores``), so the
    ranking integer is order-independent and the oracle replays the libm
    ``ln`` identically. Complements ``rag_retrieval`` (hashed-TF cosine
    over chunks) with the classic sparse scoring function."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    qterms = (
        docs.where(F.col("doc_id") == 0)
        .select(F.explode(text_ops.tokens("text")).alias("term"))
        .distinct()
    )
    scores = text_ops.bm25_scores(docs, "doc_id", qterms)
    return (
        scores.where(F.col("id") != 0)
        .orderBy(F.col("score_micro").desc(), F.col("id"))
        .limit(10)
        .select(
            F.col("id").cast("long").alias("doc_id"),
            "n_terms",
            "dl",
            "score_micro",
        )
    )


def rag_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG indexing/retrieval over the round-3 ops: documents →
    overlapping token-window chunks → hashing-trick TF vectors (64
    buckets) → cosine top-10 chunks for a query document (doc 0, its own
    chunks excluded). Dot products and norms are INTEGER sums (md5
    bucketing, tf counts), so the only float is the final normalized
    division — the whole retrieval stack replays exactly in SQL.

    Scale shape: chunking and hashing ride the scan; the query vector is a
    broadcast row-set; scoring is one keyed aggregation per chunk."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    chunks = chunk_ops.chunk_documents(docs, chunk_size=16, stride=12).where(
        F.col("doc_id") != 0
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("long") % 64
    )
    ctf = (
        chunks.select(
            "doc_id", "chunk_id", F.explode(text_ops.tokens("chunk_text")).alias("t")
        )
        .select("doc_id", "chunk_id", bucket.alias("bucket"))
        .groupBy("doc_id", "chunk_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    cnorm = ctf.groupBy("doc_id", "chunk_id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf")).cast("double")).alias("norm_c")
    )
    qtf = (
        docs.where(F.col("doc_id") == 0)
        .select(F.explode(text_ops.tokens("text")).alias("t"))
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("qtf"))
    )
    qnorm = qtf.agg(
        F.sqrt(F.sum(F.col("qtf") * F.col("qtf")).cast("double")).alias("norm_q")
    )
    dot = (
        ctf.join(F.broadcast(qtf), "bucket")
        .groupBy("doc_id", "chunk_id")
        .agg(F.sum(F.col("tf") * F.col("qtf")).cast("long").alias("dot"))
    )
    scored = (
        dot.join(cnorm, ["doc_id", "chunk_id"])
        .crossJoin(F.broadcast(qnorm))
        .select(
            "doc_id",
            "chunk_id",
            F.round(
                F.col("dot").cast("double") / (F.col("norm_c") * F.col("norm_q")), 6
            ).alias("cosine"),
        )
    )
    return scored.orderBy(
        F.col("cosine").desc(), "doc_id", "chunk_id"
    ).limit(10)


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how many
    distinct 3-token shingles they share — the provenance diagnostic run
    before mixing corpora (a high-overlap pair means one source scraped
    the other). One shingle-keyed shuffle; per-shingle fanout is bounded
    by the source count (tiny), so no quadratic blow-up."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    sh = docs.select(
        "source", F.explode(dedup_ops.shingles("text", 3)).alias("g")
    ).distinct()
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


_LOGIT_WEIGHTS = {
    "avg_token_len": -0.1,
    "n_tokens": 0.01,
    "stopword_ratio": 2.0,
    "uniq_token_ratio": 1.5,
}


def logistic_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-weight quality-classifier inference (the deploy path of a
    fastText/logreg quality filter): per-doc linear score over the text
    features, squashed rationally so the score is engine-portable.
    Narrow projection — no shuffle, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    score = F.round(
        text_ops.logit_quality_score("text", _LOGIT_WEIGHTS, bias=-1.0), 6
    )
    return docs.select(
        "doc_id",
        score.alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )


def strip_markup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate removal: the corpus is clean text, so every 5th doc
    is first wrapped in deterministic scraped-page markup (tags, a script
    block, entities); the stripper must recover exactly the text (modulo
    collapsed whitespace). Narrow regexp passes — no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit('<html><body><p class="c">'),
                F.col("text"),
                F.lit("</p><script>var a=1;</script>&amp; &lt;tail&gt;</body></html>"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("raw"),
    )
    stripped = text_ops.strip_markup(F.col("raw"))
    return seeded.select(
        "doc_id",
        stripped.alias("clean_text"),
        F.length(stripped).cast("long").alias("clean_len"),
    )


_MIXTURE_TARGETS = {"src0": 0.3, "src1": 0.2, "src2": 0.2, "src3": 0.3}


def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture planner: waterfilling sampling rates that reshape the
    corpus toward target domain proportions without up-sampling (DoReMi-
    style mixing weights from actual counts)."""
    docs = load_table(spark, sf_dir, "documents")
    from datapipelines_essentials_python_spark.operators import sampling as samp_ops

    return samp_ops.mixture_rates(docs, "source", _MIXTURE_TARGETS)


def temperature_mixture_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=0.5) mixture weights per source — the
    multilingual alpha-sampling scheme; sqrt-only arithmetic keeps it
    bit-identical across engines."""
    docs = load_table(spark, sf_dir, "documents")
    from datapipelines_essentials_python_spark.operators import sampling as samp_ops

    return samp_ops.temperature_mixture(docs, "source", sqrt_passes=1)


_DRIFT_EDGES = [150.0, 200.0, 250.0, 300.0, 350.0]


def drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection: chi-square divergence of the doc-length
    distribution between the even-id (reference) and odd-id (current)
    corpus halves, localized per bucket. One conditional-count agg."""
    docs = load_table(spark, sf_dir, "documents")
    return rel_ops.chi2_drift(
        docs, "n_chars", F.col("doc_id") % 2 == 0, _DRIFT_EDGES
    ).orderBy("bucket")


def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining: for each sampled query vector, the 5 most
    cosine-similar vectors with a DIFFERENT label — the hard negatives a
    contrastive loss learns most from. Broadcast query side, narrow
    map-side cosine, one top-k window.

    Query sample bounded by construction (vec_id % 25 == 0 AND < 25000:
    at most 1000 queries at ANY corpus size), so the brute-force gauge
    stays O(corpus) — a linear %-only sample would make it quadratic.
    """
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    queries = emb.where((F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 25000))
    return sim_ops.labeled_topk(emb, queries, k=5, same_label=False)


def skew_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic over the event stream: per-key load vs a
    uniform 32-partition spread, hot-key flags, and the salt factor
    salted_join would need — the profile you run BEFORE a 100 TB join."""
    events = load_table(spark, sf_dir, "events")
    return rel_ops.skew_profile(
        events, ["event_type"], partitions=32, hot_threshold=2.0
    )


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup resolution: LSH-verified pairs → exact
    connected components → each cluster keeps its HIGHEST-quality member
    (unique-token ratio, ties to smallest doc id) instead of an arbitrary
    one — the curation-grade version of near_dedup_keep. The keeper pick
    is a single struct-max aggregation, no per-cluster window; the
    LSH→components label stage is shared (``_lsh_component_labels``)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    comp = _lsh_component_labels(spark, sf_dir).select(
        F.col("doc_id").alias("id"), F.col("component")
    )
    toks = text_ops.tokens(F.col("text"))
    score = F.round(
        F.size(F.array_distinct(toks)).cast("double")
        / F.greatest(F.size(toks), F.lit(1)).cast("double"),
        6,
    )
    scored = docs.select(F.col("doc_id").alias("sid"), score.alias("score"))
    labeled = comp.join(scored, comp.id == F.col("sid")).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
        "score",
    )
    return dedup_ops.keep_best_per_cluster(
        labeled, "component", "doc_id", "score"
    ).select(
        F.col("cluster").alias("component"),
        F.col("keeper_id").alias("keeper_doc_id"),
        F.col("keeper_score"),
        F.col("n_members"),
    )


def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality gauge: 5-NN majority-vote label agreement per true
    label over a deterministic query sample — the label-noise/cluster-
    entanglement triage signal for labeled embedding datasets.

    Query sample bounded by construction (vec_id % 25 == 0 AND < 25000:
    at most 1000 queries at ANY corpus size), so the brute-force gauge
    stays O(corpus) — a linear %-only sample would make it quadratic.
    """
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    queries = emb.where((F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 25000))
    return sim_ops.knn_label_agreement(emb, queries, k=5)


def training_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third-generation curation pipeline composing the round-3 operators:
    scraped-page markup stripping → frozen-weight logistic quality gate →
    waterfilling mixture rebalance applied via deterministic hash
    sampling. Per-source audit: raw counts, gate survivors, planned rate,
    final kept rows.

    Scale shape: strip+score+gate ride ONE narrow scan projection
    (persisted once because both the mixture-planning agg and the final
    sampled pass consume it); the rate table is domain-cardinality and
    broadcast; the hash-sample filter is narrow. Two tiny aggs + one
    broadcast join — no corpus-sized shuffle anywhere."""
    from datapipelines_essentials_python_spark.operators import sampling as samp_ops

    docs = load_table(spark, sf_dir, "documents")
    raw = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.lit('<html><body><p class="c">'),
            F.col("text"),
            F.lit("</p><script>var a=1;</script>&amp; &lt;tail&gt;</body></html>"),
        ),
    ).otherwise(F.col("text"))
    clean = text_ops.strip_markup(raw)
    score = F.round(
        text_ops.logit_quality_score(clean, _LOGIT_WEIGHTS, bias=-1.0), 6
    )
    scored = docs.select("doc_id", "source", score.alias("quality_score"))
    kept = scored.where(F.col("quality_score") >= 0.45).persist()

    rates = samp_ops.mixture_rates(kept, "source", _MIXTURE_TARGETS)
    final = kept.join(
        F.broadcast(rates.select(F.col("domain"), F.col("rate"))),
        kept.source == F.col("domain"),
    ).where(samp_ops.hash_fraction("doc_id", salt="mix") < F.col("rate"))

    raw_counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_raw")
    )
    kept_counts = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept")
    )
    final_counts = final.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_final")
    )
    out = (
        raw_counts.join(kept_counts, "source", "left")
        .join(F.broadcast(rates.select(F.col("domain").alias("source"), "rate")), "source", "left")
        .join(final_counts, "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("rate"), F.lit(0.0)).alias("rate"),
            F.coalesce(F.col("n_final"), F.lit(0)).cast("long").alias("n_final"),
        )
    )
    out._sg_persisted = [kept]  # noqa: SLF001 — released by bench/caller
    return out


def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload extraction: pull a typed field out of the
    events JSON props column at scan time (no UDF — `get_json_object` is
    codegen'd) and aggregate it per event type with decimal-exact sums."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )


def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS surface (beyond rollup/cube): per-returnflag totals,
    per-linestatus totals, and the grand total in one pass, with
    grouping_id disambiguating the stratum."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
               CAST(count(1) AS BIGINT) AS cnt
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


def window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window navigation surface: first/last/nth order per customer with
    an explicit unbounded frame (last_value needs it to see the whole
    partition) — one shuffle, no self-joins."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first_value("o_orderkey").over(full).alias("first_orderkey"),
        F.last_value("o_orderkey").over(full).alias("last_orderkey"),
        F.nth_value("o_orderkey", 2).over(full).alias("second_orderkey"),
        F.count(F.lit(1)).over(full).cast("long").alias("n_orders"),
    )


def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>`): every 7th customer's nation key is
    nulled (simulating unknown provenance) and the join must still pair
    those rows with the dim's NULL bucket — the semantics regular `=`
    silently drops. Broadcast dim, one shuffle for the count agg."""
    cust = load_table(spark, sf_dir, "customer")
    nk = F.when(F.col("c_custkey") % 7 == 0, F.lit(None)).otherwise(
        F.col("c_nationkey")
    )
    left = cust.select("c_custkey", nk.alias("nk"))
    nation = load_table(spark, sf_dir, "nation")
    dim = nation.select(F.col("n_nationkey").alias("dk"), "n_name").unionByName(
        spark.sql("SELECT CAST(NULL AS BIGINT) AS dk, 'UNKNOWN' AS n_name")
    )
    return (
        left.join(F.broadcast(dim), left.nk.eqNullSafe(F.col("dk")))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


def fuzzy_match_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: deterministic typo'd probe names (char
    dropped at position 4) resolved back to suppliers by edit distance ≤ 2
    — the classic record-linkage shape. Probes broadcast; per-row
    levenshtein is codegen'd JVM, no Python."""
    sup = load_table(spark, sf_dir, "supplier")
    probes = (
        sup.where(F.col("s_suppkey") % 200 == 3)
        .select(
            F.col("s_suppkey").alias("probe_id"),
            F.concat(
                F.substring(F.col("s_name"), 1, 3), F.substring(F.col("s_name"), 5, 100)
            ).alias("probe_name"),
        )
    )
    pairs = sup.crossJoin(F.broadcast(probes)).select(
        "probe_id",
        "probe_name",
        "s_suppkey",
        "s_name",
        F.levenshtein(F.col("s_name"), F.col("probe_name")).cast("long").alias("dist"),
    )
    return pairs.where(F.col("dist") <= 2)


def vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row embedding diagnostics: norm, mean, extrema, positive-
    component count — narrow array folds at scan speed, the sanity panel
    run before any ANN indexing."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    v = F.col("embedding")
    total = F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )
    return emb.select(
        "vec_id",
        F.round(sim_ops.norm(v), 6).alias("l2_norm"),
        F.round(total / F.size(v).cast("double"), 6).alias("mean_val"),
        F.round(F.array_min(v).cast("double"), 6).alias("min_val"),
        F.round(F.array_max(v).cast("double"), 6).alias("max_val"),
        F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("n_positive"),
    )


def cdc_changed_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level CDC audit: which tracked order columns changed between
    two deterministic snapshots (price bump on %3, status flip on %4,
    priority rewrite on %5) — the drill-down that answers 'what kind of
    update was this' after cdc_merge flags the row."""
    orders = load_table(spark, sf_dir, "orders")
    old = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
        "o_orderpriority",
    )
    new = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 4 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.col("o_totalprice").cast("decimal(18,2)")
            + F.lit(10).cast("decimal(18,2)"),
        )
        .otherwise(F.col("o_totalprice").cast("decimal(18,2)"))
        .alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("0-URGENT"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )
    return cdc_ops.changed_columns(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice", "o_orderpriority"]
    )


def interval_join_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join without a cartesian product: each
    user's first-arrival window (30 min from first event) bucket-exploded
    and equi-joined to find co-arriving user pairs, exact overlap filter +
    first-shared-bucket dedup. The theta-join shape Spark has no native
    operator for, kept at O(rows × windows/bucket) shuffle volume."""
    from datapipelines_essentials_python_spark.operators.asof import (
        interval_overlap_join,
    )

    events = load_table(spark, sf_dir, "events")
    first = events.groupBy("user_id").agg(
        F.min(F.unix_timestamp("ts")).cast("long").alias("lo")
    )
    win = first.withColumn("hi", F.col("lo") + F.lit(1800))
    a = win.select(
        F.col("user_id").alias("user_a"),
        F.col("lo").cast("double").alias("lo_a"),
        F.col("hi").cast("double").alias("hi_a"),
    )
    b = win.select(
        F.col("user_id").alias("user_b"),
        F.col("lo").cast("double").alias("lo_b"),
        F.col("hi").cast("double").alias("hi_b"),
    )
    joined = interval_overlap_join(
        a, b, "lo_a", "hi_a", "lo_b", "hi_b", bucket_size=1800.0
    ).where(F.col("user_a") < F.col("user_b"))
    return joined.select(
        "user_a",
        "user_b",
        (
            F.least(F.col("hi_a"), F.col("hi_b"))
            - F.greatest(F.col("lo_a"), F.col("lo_b"))
        )
        .cast("long")
        .alias("overlap_secs"),
    )


def percent_rank_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-normalization surface: percent_rank + cume_dist of document
    length within each language — the distribution-free score calibration
    used before mixing quality signals across corpora."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.round(F.percent_rank().over(w), 6).alias("len_pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("len_cume_dist"),
    )


def quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative quality filter: keep each source's TOP 60% of documents
    by classifier score (percent_rank within source) — the gate used when
    absolute thresholds drift across heterogeneous sources. One narrow
    scoring projection + one per-source ranking window."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    score = F.round(
        text_ops.logit_quality_score("text", _LOGIT_WEIGHTS, bias=-1.0), 6
    )
    scored = docs.select("doc_id", "source", score.alias("quality_score"))
    w = Window.partitionBy("source").orderBy("quality_score", "doc_id")
    ranked = scored.withColumn("pr", F.round(F.percent_rank().over(w), 6))
    return ranked.where(F.col("pr") >= 0.4).select(
        "doc_id", "source", "quality_score", F.col("pr").alias("quality_pct_rank")
    )


def geo_nearby_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial nearby-pairs join: customers placed on a deterministic
    10°×10° grid (md5-derived coordinates), all pairs within 0.25°
    found via 3×3 grid-cell blocking + exact distance check — the
    spatial-join shape (geohash/H3 bucketing) with a brute-force oracle
    proving the blocking loses nothing."""
    from datapipelines_essentials_python_spark.operators.sampling import hash_fraction

    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("pid"),
        F.round(hash_fraction("c_custkey", salt="lat") * 10, 6).alias("x"),
        F.round(hash_fraction("c_custkey", salt="lon") * 10, 6).alias("y"),
    )
    return rel_ops.grid_nearby_join(pts, "pid", "x", "y", radius=0.25)


def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping (UNPIVOT/melt): the per-source dataset-card
    panel melted into (source, metric, value) rows — the shape metric
    stores and plotting layers want. Spark 4's native `unpivot`, no
    explode-of-structs emulation."""
    panel = dataset_card(spark, sf_dir).select(
        "source",
        F.col("n_docs").cast("double").alias("n_docs"),
        F.col("n_tokens").cast("double").alias("n_tokens"),
        "mean_quality",
        "en_share",
        "mean_chars",
    )
    return panel.unpivot(
        ids=["source"],
        values=["n_docs", "n_tokens", "mean_quality", "en_share", "mean_chars"],
        variableColumnName="metric",
        valueColumnName="value",
    )


def event_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence over (user, day) baskets: for every
    event-type pair, joint support and lift = P(a,b)/(P(a)·P(b)) — the
    association signal behind recommendation triggers. Basket count is
    bounded by the type vocabulary, so the pair self-join is tiny however
    many raw events flow in (distinct-first, then join)."""
    events = load_table(spark, sf_dir, "events")
    baskets = events.select(
        "user_id", F.date_trunc("day", "ts").alias("day"), "event_type"
    ).distinct()
    totals = (
        baskets.select("user_id", "day")
        .distinct()
        .agg(F.count(F.lit(1)).cast("double").alias("n_baskets"))
    )
    singles = baskets.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_joint"))
    )
    sa = singles.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = singles.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    total = F.col("n_baskets")
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "type_a",
            "type_b",
            "n_joint",
            "n_a",
            "n_b",
            F.round(F.col("n_joint").cast("double") / total, 6).alias("support"),
            F.round(
                (F.col("n_joint").cast("double") * total)
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                6,
            ).alias("lift"),
        )
    )


def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each event picks the EARLIEST order quote at-or-
    after its timestamp (the 'next scheduled revision' lookup) — same
    one-shuffle union+window composition, mirrored frame."""
    from datapipelines_essentials_python_spark.operators.asof import as_of_join

    events = load_table(spark, sf_dir, "events").select(
        "event_id", (F.col("user_id") % 20).alias("k"), "ts"
    )
    quotes = (
        load_table(spark, sf_dir, "orders")
        .select((F.col("o_orderkey") % 20).alias("k"), "o_orderdate", "o_totalprice")
        .groupBy("k", "o_orderdate")
        .agg(F.max("o_totalprice").alias("price"))
    )
    out = as_of_join(
        events, quotes, ["k"], "ts", "o_orderdate", ["price"], direction="forward"
    )
    return out.select(
        "event_id",
        F.col("k").cast("long").alias("k"),
        "asof_ts",
        F.col("asof_price").alias("price"),
    )


def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join with a 30-day staleness tolerance: matches
    older than the tolerance are nulled (row kept) — the freshness
    guard every feature-store lookup needs."""
    from datapipelines_essentials_python_spark.operators.asof import as_of_join

    events = load_table(spark, sf_dir, "events").select(
        "event_id", (F.col("user_id") % 20).alias("k"), "ts"
    )
    quotes = (
        load_table(spark, sf_dir, "orders")
        .select((F.col("o_orderkey") % 20).alias("k"), "o_orderdate", "o_totalprice")
        .groupBy("k", "o_orderdate")
        .agg(F.max("o_totalprice").alias("price"))
    )
    out = as_of_join(
        events,
        quotes,
        ["k"],
        "ts",
        "o_orderdate",
        ["price"],
        tolerance_seconds=30 * 24 * 3600,
    )
    return out.select(
        "event_id",
        F.col("k").cast("long").alias("k"),
        "asof_ts",
        F.col("asof_price").alias("price"),
    )


def asof_join_tiebreak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join over a right side with DUPLICATE (key, ts) rows,
    resolved inside the operator by ``tie_break='price'`` (one struct-max
    aggregation per (k, date) — the round-5 determinism guard on
    ``operators/asof.py``) instead of a caller-side pre-aggregation.
    Result is identical to :func:`asof_join_query`'s pre-aggregated form,
    which is exactly what the oracle replays — proving the in-operator
    tie-break matches the documented keep-greatest contract."""
    from datapipelines_essentials_python_spark.operators.asof import as_of_join

    events = load_table(spark, sf_dir, "events").select(
        "event_id", (F.col("user_id") % 20).alias("k"), "ts"
    )
    quotes = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 20).alias("k"),
        "o_orderdate",
        F.col("o_totalprice").alias("price"),
    )
    out = as_of_join(
        events, quotes, ["k"], "ts", "o_orderdate", ["price"], tie_break="price"
    )
    return out.select(
        "event_id",
        F.col("k").cast("long").alias("k"),
        "asof_ts",
        F.col("asof_price").alias("price"),
    )


def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (leakage-safe) dimension lookup: every order probes
    the SCD2 dimension AS OF its own order date — the feature-store join
    that guarantees training rows only see attribute versions that
    existed at event time. Equi-join on the key + validity-interval
    filter (versions per key are few, so the interval check is a narrow
    post-filter, not a range-join blowup)."""
    dim, snap = _scd2_staging(spark, sf_dir)
    dim2 = cdc_ops.scd2_merge(
        dim, snap, ["k"], ["status", "price"], load_date="1998-08-01"
    )
    probes = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").cast("date").alias("probe_date"),
    )
    j = probes.join(dim2, "k").where(
        (F.col("effective_from") <= F.col("probe_date"))
        & (F.col("probe_date") < F.col("effective_to"))
    )
    return j.select("k", "probe_date", "status", "price", "is_current")


def dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily + trailing-7-day active users. Exact rolling DISTINCT is not
    window-expressible, so each (user, active-day) pair is exploded to
    the ≤7 future days it keeps the user 'weekly-active' for, then one
    count_distinct per day — the standard linear-shuffle trick (shuffle
    is O(active-pairs × 7), never user × day cross)."""
    events = load_table(spark, sf_dir, "events")
    user_days = events.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    dau = user_days.groupBy("day").agg(
        F.count_distinct("user_id").cast("long").alias("dau")
    )
    covered = user_days.select(
        "user_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(6))
        ).alias("off"),
        F.col("day"),
    ).select(
        "user_id", F.expr("day + make_interval(0, 0, 0, off)").alias("wday")
    )
    wau = (
        covered.groupBy("wday")
        .agg(F.count_distinct("user_id").cast("long").alias("wau"))
        .withColumnRenamed("wday", "day")
    )
    # report only days with actual activity (the WAU tail past the last
    # active day is synthetic coverage, not a calendar read-out)
    return dau.join(wau, "day").select("day", "dau", "wau")


def first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each user's purchases credited to the
    user's FIRST-ever event type (the acquisition channel proxy) — one
    per-user window for the first touch, one conditional agg."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first = events.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    ).select("user_id", F.col("event_type").alias("first_touch"))
    purchases = events.where(F.col("event_type") == "purchase").groupBy(
        "user_id"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.sum(_dec("value")).cast("double").alias("purchase_value"),
    )
    return (
        first.join(purchases, "user_id", "left")
        .groupBy("first_touch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(F.coalesce(F.col("n_purchases"), F.lit(0)))
            .cast("long")
            .alias("n_purchases"),
            F.round(
                F.sum(
                    F.coalesce(F.col("purchase_value"), F.lit(0.0)).cast(
                        "decimal(18,4)"
                    )
                ).cast("double"),
                4,
            ).alias("attributed_value"),
        )
    )


def session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level conversion: gap-sessionize (30-min), then per user
    the share of sessions containing a purchase — composing the window
    sessionizer with a two-level conditional agg (the product-analytics
    KPI computed without any self-join)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.when(
        F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w) > 1800,
        1,
    ).otherwise(0)
    sess = events.withColumn("new_sess", F.coalesce(gap, F.lit(0))).withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        )
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("converted").cast("long").alias("n_converting"),
        F.round(
            F.sum("converted").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("conversion_rate"),
    )


def top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary signature: top-3 tokens by frequency (ties to
    the lexicographically smaller term) — explode → keyed count
    (map-side combined) → per-source ranking window."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(text_ops.tokens(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("term"))
    return (
        tf.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("source", "term", "cnt", F.col("rank").cast("long").alias("rank"))
    )


def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier profile per event type — the
    heavy-tail-safe alternative to z-scores: median, MAD, and the count
    beyond median ± 3·MAD·1.4826. Exact percentiles per key (one keyed
    agg), bounds rejoined broadcast, one narrow count pass."""
    events = load_table(spark, sf_dir, "events")
    med = F.expr("percentile(value, 0.5)")
    stats = events.groupBy("event_type").agg(med.alias("med"))
    dev = events.join(F.broadcast(stats), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.first("med").alias("med"),
        F.expr("percentile(adev, 0.5)").alias("mad"),
    )
    bounds = mad.select(
        "event_type",
        F.round("med", 6).alias("median_value"),
        F.round("mad", 6).alias("mad"),
        F.round(F.col("med") - F.col("mad") * F.lit(3.0) * F.lit(1.4826), 6).alias(
            "lo"
        ),
        F.round(F.col("med") + F.col("mad") * F.lit(3.0) * F.lit(1.4826), 6).alias(
            "hi"
        ),
    )
    flagged = events.join(F.broadcast(bounds), "event_type").groupBy(
        "event_type", "median_value", "mad"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_outliers"),
    )
    return flagged


def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card summary panel: per source — doc count, token volume,
    mean quality-classifier score, English share, mean doc length. ONE
    scan and ONE keyed agg (every signal is a narrow projection computed
    in the same pass) — the corpus overview that heads a dataset card."""
    docs = load_table(spark, sf_dir, "documents")
    score = F.round(
        text_ops.logit_quality_score("text", _LOGIT_WEIGHTS, bias=-1.0), 6
    )
    n_toks = text_ops.token_count("text")
    return (
        docs.select(
            "source",
            score.alias("q"),
            n_toks.alias("nt"),
            (F.col("lang") == "en").cast("int").alias("is_en"),
            F.col("n_chars"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("q").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_quality"),
            F.round(
                F.sum("is_en").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("en_share"),
            F.round(
                F.sum(F.col("n_chars").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_chars"),
        )
    )


def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus URL hygiene: synthetic crawl URLs (deterministic per
    doc: scheme/host-case noise, tracking params, fragments) are
    canonicalized — lowercase scheme+host, strip utm_*/fragment/trailing
    slash — then deduped per host. The canonical key is what crawl dedup
    actually joins on. Pure regexp projection + one host-keyed agg."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://")).otherwise(
            F.lit("http://")
        ),
        F.when(F.col("doc_id") % 3 == 0, F.lit("WWW.")).otherwise(F.lit("www.")),
        F.lit("Site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".Example.COM/page/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("/?utm_source=feed&utm_b=2")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    canon = F.regexp_replace(url, r"#.*$", "")
    canon = F.regexp_replace(canon, r"\?utm_[^#]*$", "")
    canon = F.regexp_replace(canon, r"/$", "")
    scheme = F.lower(F.regexp_extract(canon, r"^([A-Za-z]+)://", 1))
    rest = F.regexp_replace(canon, r"^[A-Za-z]+://", "")
    host = F.lower(F.regexp_extract(rest, r"^([^/]+)", 1))
    path = F.regexp_replace(rest, r"^[^/]+", "")
    canonical = F.concat(scheme, F.lit("://"), host, path)
    per_url = (
        docs.select("doc_id", canonical.alias("canonical_url"), host.alias("host"))
        .groupBy("host", "canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
        )
    )
    return per_url


def dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup report: distribution of near-dup cluster sizes (how much of
    the corpus is duplicated, and how deep the clusters go) — the summary
    stat quoted in every dataset card. Reuses the LSH→components labels;
    two tiny keyed aggs on top."""
    labeled = dedup_components(spark, sf_dir)
    sizes = labeled.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size")).cast("long").alias("n_docs"),
    )


def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/holdout leakage audit: 3-token shingles appearing on BOTH
    sides of the hash-based doc split — the check that catches near-dup
    leakage a grouped split would have prevented. One shingle-keyed
    distinct + conditional-count agg."""
    from datapipelines_essentials_python_spark.operators.sampling import hash_fraction

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    split = F.when(hash_fraction("doc_id", salt="split") >= 0.2, "train").otherwise(
        "holdout"
    )
    sh = docs.select(
        split.alias("split"), F.explode(dedup_ops.shingles("text", 3)).alias("g")
    ).distinct()
    per_gram = sh.groupBy("g").agg(
        F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias("in_train"),
        F.max(F.when(F.col("split") == "holdout", 1).otherwise(0)).alias("in_holdout"),
    )
    return per_gram.agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(F.col("in_train") * F.col("in_holdout")).cast("long").alias("n_leaked"),
        F.round(
            F.sum(F.col("in_train") * F.col("in_holdout")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("leak_ratio"),
    )


def fuzzy_join_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path fuzzy join: the same typo'd probes as fuzzy_match_names
    resolved through trigram BLOCKING (equi-join on shared 3-grams +
    first-shared-gram dedup + levenshtein verify) instead of a cross
    join — result-identical (names are long enough that distance-2 pairs
    always share a trigram), shuffle O(rows × name_len) not O(N×M).
    The oracle is the cross-join definition, proving losslessness."""
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    probes = (
        sup.where(F.col("s_suppkey") % 200 == 3)
        .select(
            F.col("s_suppkey").alias("probe_id"),
            F.concat(
                F.substring(F.col("s_name"), 1, 3), F.substring(F.col("s_name"), 5, 100)
            ).alias("probe_name"),
        )
    )
    return rel_ops.fuzzy_join_blocked(
        probes, sup, "probe_name", "s_name", max_distance=2
    ).select("probe_id", "probe_name", "s_suppkey", "s_name", "dist")


def dense_rank_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-preserving top-k: dense_rank keeps ALL orders sharing the two
    highest prices per priority class (row_number would arbitrarily cut
    ties) — the §2.5 gap-note ranking surface exercised with an oracle."""
    orders = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    ranked = rel_ops.top_k_per_group(
        orders.select("o_orderkey", "o_orderpriority", price.alias("price")),
        ["o_orderpriority"],
        [F.desc("price")],
        k=2,
        method="dense_rank",
        keep_rank=True,
    )
    return ranked.select(
        "o_orderpriority",
        "o_orderkey",
        F.col("price").cast("double").alias("price"),
        F.col("rank").cast("long").alias("rank"),
    )


def time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-hierarchy rollup: event value totals at day, month, year,
    and grand-total grain in ONE pass (ROLLUP grouping sets over derived
    calendar columns) — the warehouse time-dimension pattern."""
    events = load_table(spark, sf_dir, "events")
    cal = events.select(
        F.year("ts").cast("long").alias("yy"),
        F.month("ts").cast("long").alias("mm"),
        F.dayofmonth("ts").cast("long").alias("dd"),
        "value",
    )
    return cal.rollup("yy", "mm", "dd").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(_dec("value")).cast("double").alias("total_value"),
    )


def sliding_count_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-hour activity: for every event, how many events
    the same user fired in the preceding 3600 s (inclusive) — a RANGE
    window over epoch seconds, the rate-limiter / burst-detection shape.
    One user-keyed shuffle; the frame is resolved inside the sort."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts").cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("epoch"))
        .rangeBetween(-3599, 0)
    )
    return events.select(
        "event_id", "user_id", epoch.alias("epoch")
    ).select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_last_hour"),
    )


def funnel_within_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained funnel: per user, earliest 'view' and whether a
    'purchase' followed within one hour; conversion delay in seconds.
    Two user-keyed aggs (first-view, then conditional-min over the join
    back) — no per-user explode, no cross join."""
    events = load_table(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts").cast("long")
    typed = events.select("user_id", "event_type", epoch.alias("ep"))
    first_view = typed.where(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ep").alias("view_ep")
    )
    joined = typed.where(F.col("event_type") == "purchase").join(
        first_view, "user_id"
    )
    conv = joined.where(
        (F.col("ep") >= F.col("view_ep")) & (F.col("ep") < F.col("view_ep") + 3600)
    ).groupBy("user_id", "view_ep").agg(F.min("ep").alias("purchase_ep"))
    return (
        first_view.join(conv.select("user_id", "purchase_ep"), "user_id", "left")
        .select(
            "user_id",
            "view_ep",
            (F.col("purchase_ep").isNotNull()).alias("converted"),
            (F.col("purchase_ep") - F.col("view_ep")).cast("long").alias("delay_secs"),
        )
    )


def _roundtrip_dir(fmt: str, sf_dir: str) -> str:
    """Scratch sink for the S1/S4-S6 round-trip parity queries: a
    gitignored per-(format, sf) directory inside the repo (the driver's
    sandbox forbids writes elsewhere)."""
    from pathlib import Path

    tag = Path(sf_dir.rstrip("/")).name or "sf"
    return str(Path(__file__).resolve().parent / ".tmp" / f"roundtrip_{fmt}_{tag}")


def csv_roundtrip_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S5 dispatch inside the oracle loop (VERDICT r05 item 7): the
    supplier table round-trips through ``write_data(csv)`` →
    ``read_data(csv, declared schema)`` and aggregates per nation; the
    oracle runs the same aggregate on the parquet source, so a green row
    proves the CSV writer/reader pair is LOSSLESS (quoting, header skip,
    double shortest-repr round-trip), not just runnable.

    Schema is declared, never inferred — inference costs a second full
    scan (at 100 TB, a second 100 TB read; see ``io/readers.py``)."""
    from datapipelines_essentials_python_spark.io.readers import read_data
    from datapipelines_essentials_python_spark.io.writers import write_data

    # Pin the written CSV to exactly the four declared-read columns
    # (ADVICE r06): CSV read-back matches POSITIONALLY, so if the source
    # table ever gains columns (full TPC-H supplier has 7) an unpinned
    # write would silently misalign nationkey under address.
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    path = _roundtrip_dir("csv", sf_dir)
    write_data(
        sup, "csv", path, mode="overwrite",
        options={"header": "true"}, num_output_files=4,
    )
    back = read_data(
        spark, "csv", path,
        schema="s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
        options={"header": "true"},
    )
    return back.groupBy(
        F.col("s_nationkey").cast("long").alias("nationkey")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum(_dec("s_acctbal")).cast("double").alias("total_acctbal"),
        F.min("s_name").alias("first_name"),
    )


def json_roundtrip_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S6 dispatch inside the oracle loop: finished orders round-trip
    through ``write_data(json)`` → ``read_data(json, declared schema)``
    (exercising the ISO-8601 timestamp write/parse path) and aggregate per
    (order year, priority); the oracle aggregates the parquet source —
    hash-match proves the JSON sink/source pair is lossless end-to-end."""
    from datapipelines_essentials_python_spark.io.readers import read_data
    from datapipelines_essentials_python_spark.io.writers import write_data

    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    path = _roundtrip_dir("json", sf_dir)
    write_data(orders, "json", path, mode="overwrite", num_output_files=4)
    back = read_data(
        spark, "json", path,
        schema=(
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
        ),
    )
    return back.groupBy(
        F.year("o_orderdate").cast("int").alias("order_year"),
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
    )


# ===========================================================================
# Driver contract
# ===========================================================================


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences
    (``relational.transition_counts``): for consecutive events of each
    user, count (from_type → to_type) pairs and normalize each row —
    the next-event distribution behind journey analysis and predictive
    prefetch. One keyed window + a vocabulary-bounded matrix agg."""
    events = load_table(spark, sf_dir, "events")
    return rel_ops.transition_counts(
        events, "user_id", ["ts", "event_id"], "event_type"
    )


def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-weighted mean of ``value`` per event type
    (``relational.time_weighted_mean``): each observation holds until the
    user's next event (LOCF weighting, Timescale's ``time_weight``), so
    irregular sampling doesn't over-weight chatty periods. Decimal-exact
    accumulation, one IEEE division, round 6."""
    events = load_table(spark, sf_dir, "events")
    return rel_ops.time_weighted_mean(
        events, "user_id", "ts", "value", "event_type", tie_cols=["event_id"]
    )


def interpolate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily LINEAR interpolation per event type
    (``relational.interpolate_linear``): the same deterministic day-of-
    month%5 gap injection as ``gap_fill_events``, but missing days take
    the straight line between surrounding observations instead of the
    last value — the other half of the Timescale gap-fill pair."""
    events = load_table(spark, sf_dir, "events")
    gappy = events.where(F.dayofmonth(F.to_date("ts")) % 5 != 0)
    out = rel_ops.interpolate_linear(gappy, "event_type", "ts", "value")
    return out.select(
        F.col("key").alias("event_type"), "day", "value", "filled"
    )


def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier of parts — cheapest price for every size level
    that no other part dominates (``relational.pareto_frontier_2d``, the
    O(n log n) two-level prefix-max sweep; the oracle replays the
    NOT-EXISTS dominance definition over the per-cost maxima)."""
    part = load_table(spark, sf_dir, "part")
    return rel_ops.pareto_frontier_2d(
        part.select("p_partkey", "p_retailprice", "p_size"),
        "p_retailprice",
        "p_size",
    )


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocations: PMI lift for every adjacent token bigram with
    joint count ≥ 5 (``text.bigram_pmi``) — multi-word-expression and
    tokenizer-merge discovery. Exact counts; the lift ratio is a fixed
    shape of IEEE divisions, no transcendental functions."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.bigram_pmi(docs, "text", min_count=5)


def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer RFM quartile segmentation over orders
    (``relational.rfm_segments``): recency/frequency/monetary scored 1–4
    against exact broadcast quartile boundaries — no global ranking
    window anywhere in the plan."""
    orders = load_table(spark, sf_dir, "orders")
    return rel_ops.rfm_segments(
        orders, "o_custkey", "o_orderdate", "o_totalprice"
    )


def autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each event type's daily value series
    (``relational.autocorr_lag1``) — the seasonality/momentum probe run
    before forecasting. Keyed daily agg → keyed lag → Pearson corr."""
    events = load_table(spark, sf_dir, "events")
    return rel_ops.autocorr_lag1(events, "event_type", "ts", "value")


def benford_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs Benford's
    law (``relational.benford_profile``) — fraud / synthetic-data smell
    test. Digits extracted lexically; expectations are shared literals,
    so no transcendental is evaluated by either engine."""
    orders = load_table(spark, sf_dir, "orders")
    return rel_ops.benford_profile(
        orders.select(F.col("o_totalprice").cast("decimal(18,2)").alias("amt")),
        "amt",
    )


def event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 sequential patterns over per-user event journeys
    (``relational.ngram_paths``): the funnel-discovery generalization of
    the transition matrix — every (s1→s2→s3) path seen ≥ 5 times."""
    events = load_table(spark, sf_dir, "events")
    return rel_ops.ngram_paths(
        events, "user_id", ["ts", "event_id"], "event_type", n=3, min_count=5
    )


def ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated EWMA (α=0.5, k=7) of each event type's daily value series
    (``relational.ewma_smooth``) — bounded-state trend smoothing whose
    weights are exact binary doubles, so the engine and oracle agree
    bit-for-bit before the final round."""
    events = load_table(spark, sf_dir, "events")
    return rel_ops.ewma_smooth(events, "event_type", "ts", "value")


def pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the symmetric part↔supplier bipartite graph from
    lineitem (``operators.graph.pagerank``, 2 power iterations, d=0.85,
    dangling-mass redistribution): within-graph importance scoring —
    which parts/suppliers sit at the center of the supply network. The
    oracle replays both iterations including the decimal-exact
    contribution quantization."""
    from datapipelines_essentials_python_spark.operators import graph as graph_ops

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("p"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
    ).distinct()
    edges = base.select(
        F.col("p").alias("src"), F.col("s").alias("dst")
    ).unionByName(base.select(F.col("s").alias("src"), F.col("p").alias("dst")))
    return graph_ops.pagerank(edges, iterations=2)


def pagerank_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED PageRank over the user↔event-type interaction graph
    (``operators.graph.pagerank(weight_col=...)``, 2 iterations): edge
    weight = interaction count, so mass flows proportionally to observed
    engagement — the importance signal behind seed-user selection and
    surface ranking. The oracle replays both iterations including the
    decimal-exact weighted shares."""
    from datapipelines_essentials_python_spark.operators import graph as graph_ops

    ev = load_table(spark, sf_dir, "events")
    base = ev.groupBy(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("u"),
        F.concat(F.lit("t"), F.col("event_type")).alias("t"),
    ).agg(F.count(F.lit(1)).cast("long").alias("w"))
    edges = base.select(
        F.col("u").alias("src"), F.col("t").alias("dst"), "w"
    ).unionByName(base.select(F.col("t").alias("src"), F.col("u").alias("dst"), "w"))
    return graph_ops.pagerank(edges, iterations=2, weight_col="w")


def hits_supply_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the DIRECTED supplier→part supply
    graph from lineitem (``operators.graph.hits``, 2 iterations):
    a hub is a supplier stocking many well-sourced parts, an authority a
    part carried by many strong suppliers — the companion ranking to
    ``pagerank_parts`` (which walks the symmetrized graph). Each
    half-step is one keyed shuffle + a broadcast 1-row L2 norm; the
    oracle replays the unrolled alternating updates, including the
    4-dp-quantized norm squares, bit-for-bit."""
    from datapipelines_essentials_python_spark.operators import graph as graph_ops

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
    ).distinct()
    return graph_ops.hits(edges, iterations=2)


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup pairs by n-gram set CONTAINMENT
    (``dedup.ngram_containment_pairs``): |A∩B| / min(|A|,|B|) ≥ 0.6 —
    catches a short document quoted inside a long one, which the
    symmetric Jaccard queries structurally miss. Same inverted-index
    plan AND the same language blocking as ``ngram_jaccard``: the
    blocked posting join is what bounds hot-shingle fan-out — the
    unblocked variant OOMed at the 10× stress tier."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return dedup_ops.ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.6, block_col="lang"
    ).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "containment"
    )


def script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Unicode-script profile (``text.script_profile``):
    range-exact character counts per script, dominant letter script, and
    Latin ratio — the scan-speed language-routing / mixed-script-spam
    gate that runs before any per-language processing. Counting is the
    length-difference trick over plain Unicode RANGES, so Spark's Java
    regex and the oracle's RE2 agree character-for-character."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.script_profile(docs, "doc_id", "text").select(
        F.col("id").cast("long").alias("doc_id"),
        "n_chars", "latin", "cyrillic", "greek", "arabic", "cjk", "hangul",
        "digit", "dominant_script", "latin_ratio",
    )


def _affinity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-affinity edge list: parts co-ordered in one order within the
    1995-1997 shipping window (see ``triangle_count`` for why the graph
    is time-scoped). Per-order fan-out is bounded by C(lines, 2); the
    edge list grows linearly with orders.

    Shape (round 9): ONE orderkey-keyed ``collect_set`` (the distinct
    rides inside the set agg) + an array-local pair explode over the
    sorted basket — a basket is ≤ 13 parts so the explode is bounded
    arithmetic. The previous distinct + basket self-join spent three
    exchanges (distinct on (k, part), then both join legs re-hashed on
    k) to produce the same pair multiset; this is one exchange, and the
    sorted array emits each pair already in ``src < dst`` order, so the
    multiset is IDENTICAL (same pair once per containing order)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    # Round-9 (guide §2.5): AQE coalesces the post-agg stage by the
    # AGGREGATED basket bytes (a few MB ⇒ 2-3 tasks at sf0.1), but the
    # pair explode below multiplies CPU ~C(13,2)/13× — measured 2.6 s
    # on 2 tasks while 30 cores idled. Round-robin the small basket
    # table across the cluster's cores before exploding; the exchange
    # moves only the post-agg baskets (cheap), and cores = the CPU
    # budget at any scale, so the floor is scale-adaptive, not a
    # local[32] constant.
    baskets = baskets.repartition(spark.sparkContext.defaultParallelism)
    # all i < j index pairs over the sorted basket: flatten(transform(
    # slice-per-anchor)) — pure array arithmetic, no second shuffle
    pairs = F.flatten(
        F.transform(
            F.col("parts"),
            lambda p, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.size(F.col("parts"))),
                lambda q: F.struct(p.alias("src"), q.alias("dst")),
            ),
        )
    )
    return baskets.select(F.explode(pairs).alias("e")).select("e.src", "e.dst")


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient
    (``graph.triangle_counts``, degree-ordered orientation — O(m^1.5)
    total wedge work however skewed the degrees) over the PART-AFFINITY
    graph: parts are adjacent when one order contains both, so per-order
    edge fan-out is bounded by the order's line count (≤ C(13,2) here)
    and the edge list grows LINEARLY with orders — unlike the co-supply
    graph, which is complete at every tier. The clustering coefficient is
    the basket-coherence signal (do this part's neighbors co-occur with
    each other?). The graph is scoped to the 1995-1997 shipping window —
    standard market-basket practice (affinity decays; co-occurrence
    across a decade is noise) and the density knob: the full-range graph
    reaches mean degree ~116 and puts ~15x more wedge work on both
    engines for no analytic gain (windowed: mean degree ~23)."""
    from datapipelines_essentials_python_spark.operators import graph as graph_ops

    edges = _affinity_edges(spark, sf_dir)
    return graph_ops.triangle_counts(edges).select(
        F.col("node").cast("long").alias("node"),
        "degree",
        "triangles",
        "clustering",
    )


def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-50 and embedding-cosine dense
    top-50 for the same query (doc 0 / vec 0) fused by reciprocal-rank
    fusion (``similarity.rrf_fuse``) into one top-10 — the calibration-
    free sparse+dense combiner every RAG stack runs. Both input rankings
    reuse the exact engines behind ``bm25_retrieval`` and
    ``embedding_topk``; the fuse itself touches only the bounded
    candidate pool (≤100 rows), so its window is not a scale concern."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    qterms = (
        docs.where(F.col("doc_id") == 0)
        .select(F.explode(text_ops.tokens("text")).alias("term"))
        .distinct()
    )
    lex_w = Window.orderBy(F.desc("score_micro"), F.asc("id"))
    lex = (
        text_ops.bm25_scores(docs, "doc_id", qterms)
        .where(F.col("id") != 0)
        .withColumn("rank", F.row_number().over(lex_w))
        .where(F.col("rank") <= 50)
        .select(F.col("id").alias("doc_id"), "rank")
    )
    dense = sim_ops.brute_force_topk(
        emb, emb.where(F.col("vec_id") == 0), k=50
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return sim_ops.rrf_fuse(
        {"lex": lex, "dense": dense}, id_col="doc_id", k0=60, topk=10
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lex_rank",
        "dense_rank",
        "rrf_micro",
        "fused_rank",
    )


def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen-Shannon divergence from the corpus token
    distribution (``text.js_divergence_by_group``) — the bounded domain-
    shift gauge for mixture rebalancing, in integer micro-nats. The
    chi-squared twin is ``drift_chi2``; JSD stays finite on disjoint
    vocabularies, which is what makes it the right dashboard number."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.js_divergence_by_group(docs, "text", "source")


def rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day rolling MEDIAN of daily event value totals per
    event type (``relational.rolling_median``): pre-aggregate to one row
    per (type, day) — exact decimal sums — then an integer-keyed RANGE
    window, so each frame holds ≤7 values however many raw events a day
    has. The robust centerline for daily-volume anomaly panes; gaps
    shrink the frame rather than reaching further back."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.to_date(F.col("ts")).alias("day")
        )
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("daily_value")
        )
        .withColumn(
            "day_num", F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        )
    )
    return rel_ops.rolling_median(
        daily, "event_type", "day_num", "daily_value", preceding=6, out_col="med_7d"
    ).select("event_type", "day", "daily_value", "med_7d")


def embargo_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of the group-aware purged temporal split
    (``sampling.embargoed_group_split``): a deterministic md5 draw holds
    out 20% of users, the last 20% of the event timeline is the test
    period with a 3-day embargo gap before it, and every row that would
    leak across either boundary — held-out users' history, training
    users' test-period rows — is PURGED. Per-split event/user counts and
    time spans prove train and test share no user and no adjacent time,
    the two channels a pure hash split and a plain date cut each leave
    open."""
    from datapipelines_essentials_python_spark.operators.sampling import (
        embargoed_group_split,
    )

    ev = load_table(spark, sf_dir, "events")
    tagged = embargoed_group_split(
        ev, "user_id", "ts", group_frac=0.2, test_frac=0.2, embargo_days=3
    )
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def ppr_seed_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (``graph.personalized_pagerank``, 2
    iterations, d=0.85) over the same symmetric part↔supplier graph as
    ``pagerank_parts``, teleporting to a 20-part seed set (partkey < 20)
    — the "more like these" seed-expansion ranking: mass concentrates in
    the seeds' supply neighborhood instead of diffusing corpus-wide.
    Dangling mass teleports to the seeds too (mass conserved). The
    oracle replays both iterations with the same decimal quantization as
    the PageRank twins."""
    from datapipelines_essentials_python_spark.operators import graph as graph_ops

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("p"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
    ).distinct()
    edges = base.select(
        F.col("p").alias("src"), F.col("s").alias("dst")
    ).unionByName(base.select(F.col("s").alias("src"), F.col("p").alias("dst")))
    seeds = (
        li.where(F.col("l_partkey") < 20)
        .select(
            F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("node")
        )
        .distinct()
    )
    return graph_ops.personalized_pagerank(edges, seeds, iterations=2)


def butterfly_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier butterfly (bipartite 4-cycle) counts over the
    supplier↔part graph (``graph.butterfly_counts``) — the bipartite
    cohesion motif: two suppliers sharing two parts. Triangles cannot
    exist across a bipartition, so this is the structural companion to
    ``triangle_count`` (which needed the one-mode affinity projection).
    The pair expansion fans out per part by C(suppliers_per_part, 2) —
    structurally bounded here (~dozens per part), with the
    ``max_right_degree`` hot-key cap available for graphs where it
    is not."""
    from datapipelines_essentials_python_spark.operators import graph as graph_ops

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    bf = graph_ops.butterfly_counts(edges)
    out = bf.select(
        F.col("node").cast("long").alias("supplier"),
        "degree",
        "copartners",
        "butterflies",
    )
    out._sg_persisted = list(getattr(bf, "_sg_persisted", ()))  # noqa: SLF001
    return out


def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram (power-of-two buckets) + Pearson degree-degree
    assortativity (``graph.degree_assortativity``) of the part-affinity
    graph — the first-look audit before running anything iterative on a
    graph: the histogram tail says whether hub keys need salting or
    capping, the assortativity sign says whether hubs attach to hubs
    (r > 0) or to leaves (r < 0). Integer moment sums, one float shape
    at the end. Same 1995-1997 time-scoped affinity graph as
    ``triangle_count``."""
    from datapipelines_essentials_python_spark.operators import graph as graph_ops

    edges = _affinity_edges(spark, sf_dir)
    return graph_ops.degree_assortativity(edges).select(
        F.col("bucket_log2").cast("long"),
        "n_nodes",
        "assortativity",
    )


def kcore_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-core of the part-affinity graph (``graph.kcore``, max_rounds=5):
    iterative peeling — drop every part whose affinity degree falls below
    14, recompute degrees on the survivors, repeat — the standard dense-
    core/quality filter on co-occurrence graphs (Seidman 1983). k=14 sits
    just below the graph's median degree (~23), so peeling cascades for
    several rounds (fixpoint at 4-7 rounds across tiers) while a large
    core survives; the max_rounds=5 cap is part of the CONTRACT (result =
    graph after min(fixpoint, 5) peels — peel monotonicity makes the
    early exit a no-op), so the oracle unrolls exactly 5 rounds. One
    keyed degree shuffle + two left-anti joins per round on a shrinking,
    localCheckpoint-pinned edge list."""
    from datapipelines_essentials_python_spark.operators import graph as graph_ops

    edges = _affinity_edges(spark, sf_dir)
    return graph_ops.kcore(edges, k=14, max_rounds=5).select(
        F.col("node").cast("long").alias("node"),
        "core_degree",
    )


def lpa_communities_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (``graph.lpa_communities``, 4
    synchronous rounds, min-label tie-break) over the part-affinity
    graph — the dedup→components→community story for corpus curation:
    components say \"connected\", LPA says \"densely interconnected\".
    Fixed iterations (not convergence) is the contract so the oracle can
    unroll and replay the exact labels. Two keyed shuffles per round
    (message join + arg-max agg via max(struct(cnt, -label))), no
    window; node-sized label state pinned per round."""
    from datapipelines_essentials_python_spark.operators import graph as graph_ops

    edges = _affinity_edges(spark, sf_dir)
    return graph_ops.lpa_communities(edges, iterations=4).select(
        F.col("node").cast("long").alias("node"),
        F.col("community").cast("long").alias("community"),
    )


def exact_substring_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring dedup (``chunking.exact_substring_dedup``,
    8-token windows at stride 1): every window is fingerprinted corpus-
    wide, the first occurrence (ordered by doc, start) is kept, and every
    token covered by a later occurrence is removed from its document —
    Lee et al. 2022's ExactSubstr behavior at window granularity, the
    removal upgrade over ``substring_dup_profile`` (which only profiles)
    and ``span_dedup`` (whose fixed blocks miss boundary-straddling
    duplicates). md5 keys keep the stride-1 corpus shuffle payload flat;
    removal reassembly is an array-local higher-order filter, no range
    join."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return chunk_ops.exact_substring_dedup(docs, window_size=8)


def ktruss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the part-affinity graph (``graph.ktruss``,
    max_rounds=3): iteratively drop every edge in fewer than 2
    triangles, recount support on the survivors — the EDGE-level
    cohesion filter one notch stronger than ``kcore_nodes`` (a k-core
    can be triangle-free; a truss edge is certified by closed
    triangles). The affinity graph sheds ~half its edges in round one
    (median edge support is 2), so per-round O(m^1.5) wedge cost decays
    fast. The max_rounds=3 cap is the oracle-replay contract, exactly
    as in ``kcore_nodes``. Integer counts only."""
    from datapipelines_essentials_python_spark.operators import graph as graph_ops

    edges = _affinity_edges(spark, sf_dir)
    return graph_ops.ktruss(edges, k=4, max_rounds=3).select(
        F.col("u").cast("long").alias("u"),
        F.col("v").cast("long").alias("v"),
        "support",
    )


def link_prediction_aa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (``graph.adamic_adar``, top-50) over
    the part-affinity graph: the non-adjacent part pairs with the
    strongest common-neighbor evidence, hubs discounted by 1/ln(degree)
    — "parts that should co-occur but don't yet", the basket
    recommendation primitive. Wedges enumerate by center (one
    adjacency self-join, Σ C(deg, 2) rows — mean degree ~23 here; the
    ``max_degree`` hub cap exists for graphs that need it); per-center
    contributions are 6-dp-quantized decimals so the sum is
    order-independent and the oracle replays libm ln exactly (the BM25
    discipline). Total order (aa_micro DESC, u, v)."""
    from datapipelines_essentials_python_spark.operators import graph as graph_ops

    edges = _affinity_edges(spark, sf_dir)
    return graph_ops.adamic_adar(edges, top_n=50).select(
        F.col("u").cast("long").alias("u"),
        F.col("v").cast("long").alias("v"),
        "common_neighbors",
        "aa_micro",
    )


def ngram_novelty_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 8-gram novelty in admission (doc-id) order
    (``chunking.ngram_novelty``): the fraction of a doc's distinct
    stride-1 windows whose FIRST corpus occurrence is this doc — the
    dual of ``substring_dup_profile`` (repetition anywhere) and the
    dedup-aware corpus-growth signal (admit only docs above a novelty
    floor). First-occurrence is min(doc_id) per fingerprint — a
    combinable agg, deliberately not a row_number window, so
    boilerplate hot keys partial-aggregate map-side instead of sorting
    one partition."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return chunk_ops.ngram_novelty(docs, window=8, stride=1)


def bfs_reach_3hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances (``graph.bfs_distances``,
    max_hops=3) from the deterministic seed set ``node % 97 == 0`` over
    the part-affinity graph — the impact-radius primitive (how far does
    a recalled part propagate through co-order affinity?). Per hop: one
    frontier join + one combinable min(dist) fold, cost proportional to
    the FRONTIER's edges (not the visited set); the max_hops cap is the
    oracle-replay contract, as in kcore/ktruss."""
    from datapipelines_essentials_python_spark.operators import graph as graph_ops

    edges = _affinity_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.where(F.col("node") % 97 == 0)
    return graph_ops.bfs_distances(edges, seeds, max_hops=3).select(
        F.col("node").cast("long").alias("node"),
        F.col("dist").cast("int").alias("dist"),
    )


def boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document boilerplate removal
    (``chunking.boilerplate_segments``, block_size=3, min_docs=3): every
    3-token segment occurring in ≥ 3 DISTINCT documents is removed from
    ALL of them, first occurrence included — the rule ``span_dedup`` /
    ``exact_substring_dedup`` (first-occurrence-keep) structurally cannot
    express. One block-text-keyed count-distinct (map-side partials on
    the hot boilerplate keys) + one id-keyed reassembly; documents
    survive as rows even when fully boilerplate."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return chunk_ops.boilerplate_segments(
        docs, block_size=3, min_docs=3
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text_clean",
        "n_blocks_total",
        "n_blocks_removed",
    )


def source_minhash_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated shingle-Jaccard between every source pair from per-source
    MinHash signatures (``dedup.group_minhash_similarity``, 32 hashes) —
    the bounded-state scale twin of ``source_overlap_matrix``: the exact
    matrix shuffles every distinct shingle, this keeps 32 BIGINTs per
    source via MinHash mergeability (min over the union = min of the
    mins), so at 100 TB the compare state is sources × 32 rows."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return dedup_ops.group_minhash_similarity(
        docs, group_col="source", text_col="text", n=3, num_hashes=32
    )


def random_walk_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic 3-step random walk from every part of the
    part-affinity graph (``graph.random_walks``) — the DeepWalk positive-
    pair generator with keyed-hash draws (next hop = neighbor minimizing
    ``md5(seed|step|cur|nbr)``) so the oracle replays every hop. Per
    step: one frontier⋈adjacency join + one combinable min(struct) argmin
    — no ranking window, hot hubs partial-aggregate."""
    from datapipelines_essentials_python_spark.operators import graph as graph_ops

    edges = _affinity_edges(spark, sf_dir)
    return graph_ops.random_walks(edges, walk_len=3, seed="walk").select(
        F.col("start").cast("long").alias("start"),
        F.col("step").cast("int").alias("step"),
        F.col("node").cast("long").alias("node"),
    )


def token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budget for a 10^6-token training run
    (``sampling.token_budget``, α=0.5 temperature over TOKEN mass):
    alloc_tokens = floor(target·q) and epochs = alloc/n_tokens — the
    repeat-factor table every published data recipe reports (epochs > 1
    = the domain is upsampled/repeated). One domain-keyed agg (token
    counts ride the scan as ``size(split(text))``), then arithmetic over
    the domain-cardinality table with two broadcast scalars; the
    ``temperature_mixture`` numeric contract (sqrt-only α, DECIMAL(28,12)
    mass quantization) keeps it oracle-exact."""
    from datapipelines_essentials_python_spark.operators import sampling as samp_ops

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return samp_ops.token_budget(
        docs, domain_col="source", text_col="text",
        target_tokens=1_000_000, sqrt_passes=1,
    )


def link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard link prediction (``graph.neighbor_jaccard``, top 50) over
    the part-affinity graph — the set-size-normalized twin of
    ``link_prediction_aa``: AA discounts hub wedge CENTERS, Jaccard
    discounts hub ENDPOINTS, so the two rankings disagree exactly where
    degree skew distorts co-occurrence. Same wedge-by-center plan, same
    integer micro-score contract."""
    from datapipelines_essentials_python_spark.operators import graph as graph_ops

    edges = _affinity_edges(spark, sf_dir)
    return graph_ops.neighbor_jaccard(edges, top_n=50).select(
        F.col("u").cast("long").alias("u"),
        F.col("v").cast("long").alias("v"),
        "common_neighbors",
        "jac_micro",
    )


def training_pipeline_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth-generation curation pipeline composing THIS round's
    operators: C4 boilerplate-segment removal
    (``chunking.boilerplate_segments``) → minimum-signal gate (≥ 8 clean
    tokens survive) → temperature token budgeting
    (``sampling.token_budget``, 500k-token run) over the cleaned corpus.
    Per-source audit row: raw docs, gate survivors, clean token mass,
    temperatured share, allocated tokens, epochs.

    Scale shape: boilerplate removal is the only corpus-sized work (one
    block-text-keyed count-distinct + one id-keyed reassembly); the
    source re-join is id-keyed on the same exchange; everything after
    the gate is domain-cardinality arithmetic with two broadcast
    scalars — no second corpus shuffle."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    cleaned = chunk_ops.boilerplate_segments(
        docs, block_size=3, min_docs=3
    ).join(docs.select("doc_id", "source"), "doc_id")
    gated = cleaned.where(
        F.size(text_ops.tokens(F.col("text_clean"))) >= 8
    )
    from datapipelines_essentials_python_spark.operators import sampling as samp_ops

    budget = samp_ops.token_budget(
        gated, domain_col="source", text_col="text_clean",
        target_tokens=500_000, sqrt_passes=1,
    )
    raw_counts = docs.groupBy(F.col("source").alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("n_raw")
    )
    return raw_counts.join(budget, "domain", "left").select(
        "domain",
        "n_raw",
        F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias("n_gated"),
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(F.col("q_temp"), F.lit(0.0)).alias("q_temp"),
        F.coalesce(F.col("alloc_tokens"), F.lit(0)).cast("long").alias("alloc_tokens"),
        F.coalesce(F.col("epochs"), F.lit(0.0)).alias("epochs"),
    )


def harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-estimated harmonic centrality (``graph.landmark_harmonic``,
    max_hops=3) over the part-affinity graph: for each part, Σ 1/d to the
    deterministic ~1% landmark sample ``node % 97 == 0`` — the
    Eppstein-Wang sampled estimator, which is exactly how harmonic
    centrality is run on graphs too big for all-pairs BFS. Per hop one
    frontier⋈adjacency join + one (landmark, node)-keyed min fold;
    contributions are integer micro-units ``1_000_000 // d`` so the sum
    is exact on both engines; the max_hops cap is the oracle-replay
    contract (kcore/bfs discipline)."""
    from datapipelines_essentials_python_spark.operators import graph as graph_ops

    edges = _affinity_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    landmarks = nodes.where(F.col("node") % 97 == 0)
    return graph_ops.landmark_harmonic(edges, landmarks, max_hops=3).select(
        F.col("node").cast("long").alias("node"),
        "n_landmarks",
        "harmonic_micro",
    )


def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust revenue trend per nation
    (``relational.theil_sen_slope``): monthly order revenue (exact cents
    via DECIMAL sums) per nation, then the median of all pairwise
    monthly slopes in pure-BIGINT milli-units (truncating div; the
    two-middle-sum median — no float anywhere, tier-stable) — the outlier-immune trend a single blowout month
    cannot drag the way it drags ``ols_fit``. The corpus-sized work is
    one orders-keyed agg to ~80 (nation, month) rows; the C(80,2) pair
    expansion is bounded arithmetic, never corpus-sized."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - F.lit(1995)) * 12
                + F.month("o_orderdate")
                - F.lit(1)
            ).alias("t"),
        )
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("rev_cents")
        )
    )
    return rel_ops.theil_sen_slope(monthly, "n_name", "t", "rev_cents").select(
        F.col("key").alias("n_name"), "n_points", "sen_milli_x2"
    )


def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per event type
    (``relational.cusum_changepoint``): daily event value mass (exact
    cents) per type, then the day maximizing ``|n·S_t − t·S_n|`` — the
    cumulative-deviation changepoint estimator with the statistic
    multiplied through by n so the whole decision is exact BIGINT
    arithmetic (no float anywhere). One daily agg (corpus-sized work)
    + one window over ≤ days-per-key pre-aggregated rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("day")
    ).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("v_cents")
    )
    return rel_ops.cusum_changepoint(
        daily, "event_type", "day", "v_cents"
    ).select(
        F.col("key").alias("event_type"),
        "n_days",
        F.col("cp_day").cast("timestamp").alias("cp_day"),
        "cusum_stat",
    )


def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-criteria skyline (``skyline.skyline``) over one brand's parts:
    maximize lifetime revenue, maximize quantity sold, minimize retail
    price — the Pareto-optimal "best value" set no single ranking can
    express (ICDE'01 skyline semantics, generalizing the 2-D
    ``pareto_frontier`` sweep to arbitrary dimensions). Two-phase
    distributed plan: Arrow-batch local skylines, then one
    candidate-sized global sweep — exact and partitioning-invariant;
    per-part dims are exact cents/centi-units from DECIMAL sums."""
    from datapipelines_essentials_python_spark.operators.skyline import skyline

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_brand") == "Brand#7"
    )
    dims = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_retailprice")),
            li["l_partkey"] == part["p_partkey"],
        )
        .groupBy("p_partkey")
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("revenue_cents"),
            (F.sum(F.col("l_quantity").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("qty_x100"),
            (F.max(F.col("p_retailprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("price_cents"),
        )
    )
    return skyline(
        dims,
        [("revenue_cents", "max"), ("qty_x100", "max"), ("price_cents", "min")],
    ).select(
        F.col("p_partkey").cast("long").alias("p_partkey"),
        "revenue_cents",
        "qty_x100",
        "price_cents",
    )


def rolling_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median+MAD control chart per event type
    (``relational.rolling_mad_anomaly``, 7-day RANGE frame): a day is
    anomalous when ``|x − median| > 3·MAD`` of its trailing week — the
    robust chart a traffic spike cannot self-blind. The decision is
    pure BIGINT (×2/×4 scaled medians), zero float; frames hold ≤ 7
    pre-aggregated daily rows (the ``rolling_median`` scale
    contract)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("key"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "day_idx"
        ),
    ).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("v_cents")
    )
    return rel_ops.rolling_mad_anomaly(
        daily, "key", "day_idx", "v_cents", preceding=6, k_num=3
    ).select(
        F.col("key").alias("event_type"),
        F.col("day_idx").cast("int").alias("day_idx"),
        "v_cents",
        "med_x2",
        "mad_x4",
        "is_anomaly",
    )


def source_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's unigram distribution
    (``text.token_entropy_by_group``) — the lexical-diversity gauge a
    mixture curator reads next to token mass (templated spam is big but
    near-zero-entropy). Per-token ``p·log2 p`` terms rounded to 9 dp
    and summed as DECIMAL (order-independent, oracle-exact); one
    (source, token) keyed count + one source-keyed fold."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.token_entropy_by_group(docs, "source", "text").select(
        F.col("group").alias("source"),
        "n_tokens",
        "vocab_size",
        "entropy",
        "norm_entropy",
    )


def dow_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware daily outliers per event type
    (``relational.dow_seasonal_outliers``): each day is fenced against
    ITS OWN weekday's Tukey box (q1/q3 ± 1.5·IQR per (type, weekday)) —
    weekly seasonality stops tripping the global fence and a broken
    Tuesday stops hiding inside it. Exact: integer cents, dyadic
    percentile interpolation, one exact 1.5·IQR product — deterministic
    with no rounding."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("day")
    ).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("v_cents")
    )
    return rel_ops.dow_seasonal_outliers(
        daily, "event_type", "day", "v_cents", k_iqr=1.5
    ).select(
        F.col("key").alias("event_type"),
        F.col("day").cast("timestamp").alias("day"),
        "dow",
        F.col("v").alias("v_cents"),
        "q1",
        "med",
        "q3",
        "is_outlier",
    )


def hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout keys (``hashing.with_hilbert_key``, 10-bit) over
    the same two event dimensions as ``zorder_layout`` — the
    space-filling curve with strictly better clustering than Morton
    order (no long diagonal jumps at block boundaries → tighter file
    min/max ranges → more pruning; Moon et al. TKDE'01). The xy→d walk
    is UNROLLED into pure integer/CASE column arithmetic riding the
    scan — no UDF, no shuffle — and the SQL oracle replays it level by
    level."""
    from datapipelines_essentials_python_spark.functions.hashing import (
        with_hilbert_key,
    )

    events = load_table(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    x = F.pmod(F.col("user_id"), F.lit(1024))
    y = F.greatest(F.least(F.floor(F.col("value")).cast("long"), F.lit(1023)), F.lit(0))
    base = events.select(
        "event_id", x.cast("long").alias("x"), y.alias("y")
    )
    return with_hilbert_key(base, "x", "y", bits=10, out_col="hkey").select(
        "event_id", "x", "y", "hkey"
    )


def link_prediction_salton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salton cosine link prediction (``graph.salton_cosine``, top 50)
    over the part-affinity graph — the geometric-mean-normalized third
    member of the family: AA discounts hub wedge CENTERS, Jaccard
    discounts hub ENDPOINTS via the union, the cosine index penalizes
    DEGREE IMBALANCE via √(du·dv). Shares the wedge-by-center plan and
    integer micro-score contract with its siblings (one
    ``_nonadjacent_common_pairs`` pass feeds all three)."""
    from datapipelines_essentials_python_spark.operators import graph as graph_ops

    edges = _affinity_edges(spark, sf_dir)
    return graph_ops.salton_cosine(edges, top_n=50).select(
        F.col("u").cast("long").alias("u"),
        F.col("v").cast("long").alias("v"),
        "common_neighbors",
        "cos_micro",
    )


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold sensitivity report
    (``dedup.threshold_sensitivity``, thresholds 0.5/0.7/0.9, language-
    blocked): documents in pairs, exact connected-component clusters,
    and keep-one-per-cluster removals at each candidate threshold — the
    table a dedup rollout reads to pick its operating point. ONE
    inverted-index similarity pass at the loosest threshold; each
    tighter threshold is a filter + components over a shrinking edge
    set; the output is thresholds-cardinality."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return dedup_ops.threshold_sensitivity(
        docs, "doc_id", "text", thresholds=[0.5, 0.7, 0.9], block_col="lang"
    )


def cheapest_route_3hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source min-plus cheapest path costs (``graph.cheapest_paths``,
    max_hops=3) over the WEIGHTED part-affinity graph — edge micro-cost
    ``1_000_000 // co_count`` (strong affinity = cheap hop), seeds the
    ``node % 97 == 0`` landmark set: the weighted twin of
    ``bfs_reach_3hop`` (BFS minimizes hops, this minimizes summed cost —
    nearest-warehouse / cheapest-routing semantics). Integer weights →
    every candidate cost is an exact BIGINT sum; the hop cap is the
    oracle-replay contract (unrolled Bellman-Ford rounds)."""
    from datapipelines_essentials_python_spark.operators import graph as graph_ops

    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    # same single-exchange basket shape as _affinity_edges (round 9):
    # one orderkey-keyed collect_set (the distinct rides inside the set
    # agg) + an array-local index-pair explode; each co-ordered pair is
    # emitted once per containing order, so the per-pair count is the
    # co-order count the old distinct + basket self-join produced.
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("parts"),
            lambda p, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.size(F.col("parts"))),
                lambda q: F.struct(p.alias("src"), q.alias("dst")),
            ),
        )
    )
    weighted = (
        baskets.select(F.explode(pair_arr).alias("e"))
        .select("e.src", "e.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("co"))
        .select(
            "src",
            "dst",
            (F.lit(1_000_000).cast("long") / F.col("co"))
            .cast("long")
            .alias("w"),
        )
    )
    nodes = (
        weighted.select(F.col("src").alias("node"))
        .unionByName(weighted.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.where(F.col("node") % 97 == 0)
    return graph_ops.cheapest_paths(weighted, seeds, "w", max_hops=3).select(
        F.col("node").cast("long").alias("node"),
        F.col("cost").cast("long").alias("cost"),
    )


def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user
    (``relational.longest_streaks``) — the engagement metric behind
    "current streak" features, computed by the gaps-and-islands
    reduction (day − row_number is constant within an island): two
    keyed windows over pre-aggregated (user, day) rows + one agg, never
    a self-join. All exact integers; earliest streak wins ties."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        F.col("user_id"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "day_idx"
        ),
    ).distinct()
    return rel_ops.longest_streaks(daily, "user_id", "day_idx").select(
        F.col("key").cast("long").alias("user_id"),
        "n_active_days",
        "n_streaks",
        "longest_streak",
        "longest_streak_start",
    )


def fd_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency violation profile (``dq.engine.
    fd_violations``) over orders: does ``o_orderkey → o_custkey`` hold
    (it must — pk), how badly do ``o_custkey → o_orderpriority`` and
    ``o_orderpriority → o_orderstatus`` fail — the data-contract check
    behind "is this column a lookup of that one?". One keyed
    count-distinct per dependency folded into a dependency-cardinality
    summary."""
    from datapipelines_essentials_python_spark.dq.engine import fd_violations

    orders = load_table(spark, sf_dir, "orders")
    return fd_violations(
        orders,
        [
            ("o_orderkey", "o_custkey"),
            ("o_custkey", "o_orderpriority"),
            ("o_orderpriority", "o_orderstatus"),
        ],
    )


def spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (``relational.spearman_corr``) between
    quantity and extended price per return flag — the tie-correct
    monotone-association twin of ``corr_stats``' Pearson over the same
    columns (quantity is 50 discrete values, so ties dominate and the
    average-rank correction is the whole point). Doubled average ranks
    keep every moment an exact integer; one fixed double shape at the
    end."""
    li = load_table(spark, sf_dir, "lineitem")
    return rel_ops.spearman_corr(
        li, "l_returnflag", "l_quantity", "l_extendedprice"
    ).select(F.col("group").alias("l_returnflag"), "n", "spearman_rho")


def mann_kendall_nation_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test (``relational.mann_kendall``) on monthly
    order revenue per nation — the is-the-trend-real significance twin
    of ``theil_sen_trend`` over the IDENTICAL pre-aggregated
    (nation, month, cents) series: S, the tie-corrected var18, and the
    continuity-corrected z. The corpus-sized work is the one keyed
    monthly agg; C(months, 2) pair arithmetic is bounded."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - F.lit(1995)) * 12
                + F.month("o_orderdate")
                - F.lit(1)
            ).alias("t"),
        )
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("rev_cents")
        )
    )
    return rel_ops.mann_kendall(monthly, "n_name", "t", "rev_cents").select(
        F.col("key").alias("n_name"),
        "n_points",
        "s_stat",
        "var18",
        "mk_z",
        "trend",
    )


def welch_ttest_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t-test (``relational.welch_ttest``) on document length
    between every ordered pair of corpus sources — the dataset-card
    "are these sources the same kind of text?" comparison with the
    Satterthwaite df; integer n_chars keeps all moments exact, squares
    summed as DECIMAL(38,0)."""
    docs = load_table(spark, sf_dir, "documents")
    return rel_ops.welch_ttest(docs, "source", "n_chars").select(
        F.col("group_a").alias("source_a"),
        F.col("group_b").alias("source_b"),
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        "t_stat",
        "welch_df",
        "significant",
    )


def gini_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini revenue-concentration coefficient
    (``relational.gini_coefficient``) across customers within each
    nation — lifetime order revenue in exact cents per ordering
    customer, ranked ascending with (value, custkey) deterministic
    ties: the inequality audit behind domain-balance decisions. One
    customer-keyed agg + one nation-partitioned rank window + one
    keyed agg."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("rev_cents")
        )
        .join(cust, F.col("o_custkey") == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
    )
    return rel_ops.gini_coefficient(
        per_cust, "n_name", "rev_cents", "c_custkey"
    ).select(
        F.col("group").alias("n_name"), "n", "total_value", "gini"
    )


def contingency_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square contingency + Cramér's V
    (``relational.contingency_chi2``) between order priority and order
    status — the two-categorical association audit (is priority
    independent of fulfillment state?). Per-cell contributions are
    quantized to exact BIGINT micro-units BEFORE the total so the
    chi-square sum is partition-order-free; only V is one fixed double
    shape."""
    orders = load_table(spark, sf_dir, "orders")
    return rel_ops.contingency_chi2(
        orders, "o_orderpriority", "o_orderstatus"
    ).select(
        F.col("a").alias("o_orderpriority"),
        F.col("b").alias("o_orderstatus"),
        "observed",
        "contrib_micro",
        "chi2_micro",
        "cramers_v",
        "dof",
    )


def kfold_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold assignment (``sampling.kfold_assign``,
    md5 mod k — zero-shuffle scan-speed fold ids) rolled up to the
    fold × source balance table a cross-validation setup audits before
    training: every fold should hold ~1/k of each source's documents
    and characters."""
    from datapipelines_essentials_python_spark.operators import sampling as samp_ops

    docs = load_table(spark, sf_dir, "documents")
    folded = samp_ops.kfold_assign(docs, "doc_id", k=5)
    return folded.groupBy("fold", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).cast("long").alias("sum_chars"),
    )


def kendall_tau_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b (``relational.kendall_tau_binned``) between
    quantity (50 discrete values) and discount (11 values) per return
    flag — the third member of the rank-association family (Pearson
    `corr_stats`, Spearman `spearman_qty_price`): computed ENTIRELY
    from the 550-cell joint histogram, so the corpus is touched by one
    keyed count and the pair arithmetic is cells², never rows²."""
    li = load_table(spark, sf_dir, "lineitem")
    return rel_ops.kendall_tau_binned(
        li, "l_returnflag", "l_quantity", "l_discount"
    ).select(
        F.col("group").alias("l_returnflag"),
        "n",
        "concordant",
        "discordant",
        "tau_b",
    )


def interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival cadence per event type
    (``relational.interarrival_quantiles``): p50/p90/mean of the gaps
    between consecutive events of each (user, type) series — lower
    empirical quantiles at pure-integer indexes and a truncating-div
    mean, so nothing float enters the result. One keyed lag window +
    one group rank window."""
    ev = load_table(spark, sf_dir, "events")
    return rel_ops.interarrival_quantiles(
        ev,
        ["user_id", "event_type"],
        "event_type",
        "ts",
        "event_id",
    ).select(
        F.col("group").alias("event_type"),
        "n_gaps",
        "p50_gap_us",
        "p90_gap_us",
        "mean_gap_us",
    )


def trend_break_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Piecewise OLS at the CUSUM breakpoint
    (``relational.trend_break_ols``): per event type, the exact-BIGINT
    cusum argmax picks the bend day over the daily cents series, then
    one conditional moment pass fits closed-form slopes before/after —
    the composed "the trend bent, from X/day to Y/day" answer. Day
    index is integer days since epoch (the OLS x)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "day_idx"
        ),
    ).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("v_cents")
    )
    return rel_ops.trend_break_ols(
        daily, "event_type", "day_idx", "v_cents"
    ).select(
        F.col("key").alias("event_type"),
        "cp_day",
        "n_before",
        "n_after",
        "slope_before",
        "slope_after",
        "slope_delta",
    )


def simpson_diversity_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson lexical diversity per source (``text.simpson_diversity``):
    the order-2 Hill number (effective dominant types, N²/Σc²) and the
    micro-quantized unbiased repeat rate — the dominance-weighted
    companion `source_token_entropy` reads next to; a templated source
    collapses here first. Same vocabulary-bounded two-shuffle shape as
    the entropy operator."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return text_ops.simpson_diversity(docs, "source", "text").select(
        F.col("group").alias("source"),
        "n_tokens",
        "vocab_size",
        "repeat_micro",
        "hill2_types",
    )


def rich_club_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club profile (``graph.rich_club``) of the part-affinity
    graph at k ∈ {4, 8, 16, 32, 64} — do high-degree parts
    preferentially co-order with each other? The full hub-density
    profile next to ``graph_degree_stats``' one-number assortativity.
    Degrees once, then per-threshold conditional counts via broadcast
    non-equi joins; exact BIGINT until the final φ shape."""
    from datapipelines_essentials_python_spark.operators import graph as graph_ops

    edges = _affinity_edges(spark, sf_dir)
    return graph_ops.rich_club(edges, [4, 8, 16, 32, 64]).select(
        "k", "n_rich_nodes", "n_rich_edges", "phi"
    )


def range_partition_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth range-partition plan
    (``relational.range_partition_plan``): the 7 split keys dividing
    orders into 8 ~equal row ranges by customer key, with realized
    cumulative counts so skew is visible BEFORE the 100-TB shuffle —
    the exact audit of what repartitionByRange samples. Pure integer
    rank selection over the distinct-key histogram."""
    orders = load_table(spark, sf_dir, "orders")
    return rel_ops.range_partition_plan(orders, "o_custkey", 8).select(
        "bucket",
        "target_rows",
        F.col("boundary_key").cast("long").alias("boundary_key"),
        "rows_at_or_below",
    )


def peak_concurrency_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent active users per day
    (``relational.peak_concurrency``): each user's daily activity span
    (first..last event, integer microseconds) is an interval; the
    keyed sweep-line (+1 at start, −1 at end, running sum) finds the
    worst-moment concurrency and its earliest instant — the capacity
    number an interval self-join cannot produce without rows² work."""
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy(
        F.to_date("ts").alias("day"), F.col("user_id")
    ).agg(
        F.min(F.unix_micros(F.col("ts"))).alias("start_us"),
        F.max(F.unix_micros(F.col("ts"))).alias("end_us"),
    )
    return rel_ops.peak_concurrency(
        spans, "day", "start_us", "end_us"
    ).select(
        F.col("group").cast("date").alias("day"),
        "n_intervals",
        "peak_concurrent",
        "peak_at_us",
    )


def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag
    (``relational.weighted_median``): the price at which half the
    VOLUME trades — integer cumulative weights over the per-value
    aggregated table, lower-median pick by pure BIGINT comparison, no
    interpolation anywhere."""
    li = load_table(spark, sf_dir, "lineitem")
    return rel_ops.weighted_median(
        li, "l_returnflag", "l_extendedprice", "l_quantity"
    ).select(
        F.col("group").alias("l_returnflag"),
        "total_weight",
        F.col("weighted_median").cast("decimal(18,2)").alias("weighted_median"),
    )


def auc_en_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC per source (``relational.auc_mann_whitney``) of
    the frozen quality classifier's score discriminating English docs
    — AUC via the Mann-Whitney rank identity with doubled average
    ranks (everything BIGINT until one final division), no thresholds,
    no positives × negatives join. The model-eval gate next to
    ``knn_label_accuracy``."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        (F.col("lang") == "en").alias("is_en"),
        F.round(
            text_ops.logit_quality_score("text", _LOGIT_WEIGHTS, bias=-1.0), 6
        ).alias("score"),
    )
    return rel_ops.auc_mann_whitney(scored, "source", "is_en", "score").select(
        F.col("group").alias("source"), "n_pos", "n_neg", "u2", "auc"
    )


def quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + ECE (``relational.calibration_table``) of
    the quality classifier against the is-English label: scores become
    exact micro-integers (round(·,6)·10⁶ via DECIMAL), buckets and the
    ECE numerator stay BIGINT in any partition order, and only
    acc/conf/ece take one double shape each — "is 0.9 really 90%?"
    before trusting the keep threshold."""
    docs = load_table(spark, sf_dir, "documents")
    score = F.round(
        text_ops.logit_quality_score("text", _LOGIT_WEIGHTS, bias=-1.0), 6
    )
    base = docs.select(
        (F.col("lang") == "en").alias("is_en"),
        (score.cast("decimal(18,6)") * 1000000)
        .cast("long")
        .alias("score_micro"),
    )
    return rel_ops.calibration_table(base, "is_en", "score_micro", 10)


def target_encode_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free out-of-fold target encoding table
    (``sampling.target_encode_oof``): per (market segment, fold), the
    mean account balance in cents over all OTHER folds — the CV-safe
    categorical encoding built on the deterministic md5 k-fold, so a
    row never sees its own fold's targets. Corpus cost is one keyed
    agg; complements ride windows over the segment × fold table."""
    from datapipelines_essentials_python_spark.operators import sampling as samp_ops

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("bal_cents"),
    )
    return samp_ops.target_encode_oof(
        cust, "c_custkey", "c_mktsegment", "bal_cents", k=5
    ).select(
        F.col("category").alias("c_mktsegment"),
        "fold",
        "n_in_fold",
        "oof_n",
        "oof_mean",
    )


def association_rules_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (``relational.association_rules``)
    over (user, event-type) baskets: support / confidence / lift for
    "users who do a also do b", directed both ways — exact integer
    counts, truncating micro-divisions, lift the one double shape.
    The basket self-join fans out by per-user distinct types (≤ 5),
    the part-affinity bounded-fan-out contract."""
    ev = load_table(spark, sf_dir, "events")
    return rel_ops.association_rules(
        ev, "user_id", "event_type", min_pair_count=5
    ).select(
        "antecedent",
        "consequent",
        "n_pair",
        "n_antecedent",
        "support_micro",
        "confidence_micro",
        "lift",
    )


def ndcg_bm25_langmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation (``similarity.ndcg_at_k``): BM25 top-10
    rankings for three query docs (0, 1, 2), binary relevance = the
    candidate shares the query's language, scored as nDCG@10 + MRR
    with PYTHON-MATERIALIZED micro-integer position discounts — no
    engine ever evaluates the log, so DCG/IDCG are exact BIGINT sums.
    The retrieval-side eval gate next to ``auc_en_quality``."""
    from datapipelines_essentials_python_spark.operators import similarity as s_ops
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    langs = docs.select("doc_id", "lang")
    # ONE corpus pass for all three query docs (round 9): BM25's corpus
    # side (tf table, document frequencies, length stats) is
    # query-independent, so the tagged multi-query form scores all three
    # term sets off a single tokenize + tf shuffle — per-(query, doc)
    # rows identical to three separate bm25_scores calls.
    qterms = (
        docs.where(F.col("doc_id").isin(0, 1, 2))
        .select(
            F.col("doc_id").alias("query"),
            F.explode(text_ops.tokens("text")).alias("term"),
        )
        .distinct()
    )
    allq = text_ops.bm25_scores(
        docs, "doc_id", qterms, query_id_col="query"
    ).where(F.col("id") != F.col("query"))
    w = Window.partitionBy("query").orderBy(
        F.col("score_micro").desc(), F.col("id").asc()
    )
    qlang = langs.select(
        F.col("doc_id").alias("query"), F.col("lang").alias("__qlang")
    )
    ranked = (
        allq.withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= 10)
        .join(langs.withColumnRenamed("doc_id", "id"), "id")
        .join(F.broadcast(qlang), "query")
        .select(
            "query",
            "pos",
            (F.col("lang") == F.col("__qlang")).alias("rel"),
        )
    )
    # rel_totals defines ndcg_at_k's query universe (zero-retrieved
    # queries surface as zero rows), so restrict it to the actual
    # query set — not every doc in the corpus.
    rel_totals = (
        qlang.where(F.col("query").isin(0, 1, 2))
        .join(
            langs.select(F.col("doc_id"), F.col("lang")),
            F.col("lang") == F.col("__qlang"),
        )
        .where(F.col("doc_id") != F.col("query"))
        .groupBy("query")
        .agg(F.count(F.lit(1)).cast("long").alias("n_relevant"))
    )
    return s_ops.ndcg_at_k(
        ranked, "query", "pos", "rel", rel_totals, k=10
    ).select(
        F.col("query").alias("query_doc"),
        "n_retrieved",
        "n_relevant_total",
        "dcg_micro",
        "idcg_micro",
        "ndcg",
        "mrr_micro",
    )


def orderkey_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-id ranges (``relational.sequence_gaps``) in the id space
    of FINALIZED orders — "which order-id ranges contain no completed
    order?", the completeness audit as contiguous ranges. Two-level
    distributed shape: block-partitioned internal gaps + a
    block-summary boundary pass; gap_len ≥ 3 filters noise."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    return rel_ops.sequence_gaps(
        orders, "o_orderkey", block_size=4096, min_gap_len=3
    )


def signup_purchase_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency (``relational.conversion_delay_quantiles``): by
    HOUR of first signup (do morning signups activate faster?),
    p50/p90/mean microseconds from a user's first signup to their
    first later purchase — lower empirical quantiles at integer rank
    indexes, truncating-div mean, nothing float. (The synthetic corpus
    puts every first signup in one calendar week, so hour-of-day is
    the cohort grain with support.)"""
    ev = load_table(spark, sf_dir, "events")
    return rel_ops.conversion_delay_quantiles(
        ev,
        "user_id",
        "event_type",
        "ts",
        "signup",
        "purchase",
        lambda ts: F.hour(ts).cast("long"),
    ).select(
        F.col("cohort").alias("signup_hour"),
        "n_converted",
        "p50_delay_us",
        "p90_delay_us",
        "mean_delay_us",
    )


def anova_doc_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA (``relational.anova_oneway``) of document length
    across all 20 sources — the k-group "do they differ at all?" gate
    before ``welch_ttest_sources``' pairwise drill-down. Per-group
    rational terms micro-quantized before the cross-group total, so
    SSB/SSW are exact BIGINTs in any partition order."""
    docs = load_table(spark, sf_dir, "documents")
    return rel_ops.anova_oneway(docs, "source", "n_chars")


def kruskal_doc_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H (``relational.kruskal_wallis``) of document
    length across sources — the rank-based twin of ``anova_doc_length``
    with NO global rank window: doubled average ranks derive from the
    value histogram (2·below + cnt_eq + 1), rank sums from the
    (source, length) table, tie-corrected H as one double shape."""
    docs = load_table(spark, sf_dir, "documents")
    return rel_ops.kruskal_wallis(docs, "source", "n_chars")


def siegel_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel repeated-medians trend (``relational.siegel_slopes``)
    over the SAME monthly (nation, month, cents) series as
    ``theil_sen_trend`` — the 50%-breakdown estimator (median of
    per-anchor medians), all pure-BIGINT milli-slopes and two-middle
    sums (×4 scale), no float anywhere."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - F.lit(1995)) * 12
                + F.month("o_orderdate")
                - F.lit(1)
            ).alias("t"),
        )
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("rev_cents")
        )
    )
    return rel_ops.siegel_slopes(monthly, "n_name", "t", "rev_cents").select(
        F.col("key").alias("n_name"), "n_points", "siegel_milli_x4"
    )


def delta_audit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-encoding compressibility audit
    (``relational.delta_encoding_audit``) of the daily event-value
    series per type — Σ|Δ| vs Σ|x| micro ratio and the exact bit-width
    shrink, the storage-layout probe next to ``zorder_layout`` and
    ``compaction_plan``. All BIGINT off one keyed lag window over
    pre-aggregated daily rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "day_idx"
        ),
    ).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("v_cents")
    )
    return rel_ops.delta_encoding_audit(
        daily, "event_type", "day_idx", "v_cents"
    ).select(
        F.col("key").alias("event_type"),
        "n_points",
        "sum_abs_raw",
        "sum_abs_delta",
        "delta_ratio_micro",
        "raw_bits",
        "delta_bits",
    )


def trimmed_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% two-sided trimmed mean of extended price per return flag
    (``relational.trimmed_mean``): the robust location estimate
    between mean and median — integer rank bounds, DECIMAL kept-mass
    sum, one double shape. Complements ``winsorize_events`` (clamp)
    with the drop-the-tails variant."""
    li = load_table(spark, sf_dir, "lineitem")
    return rel_ops.trimmed_mean(
        li, "l_returnflag", "l_extendedprice", 0.1
    ).select(
        F.col("group").alias("l_returnflag"), "n", "n_kept", "trimmed_mean"
    )


def mode_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode of order quantity per return flag
    (``relational.mode_value``): highest count, smallest value on
    ties, via one keyed count + a max-struct fold — no window, no
    second shuffle (Spark's builtin mode is tie-arbitrary; this one
    is a total function of the data)."""
    li = load_table(spark, sf_dir, "lineitem")
    return rel_ops.mode_value(li, "l_returnflag", "l_quantity").select(
        F.col("group").alias("l_returnflag"),
        "mode_value",
        "mode_count",
        "n_distinct",
    )


def psi_doc_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index (``relational.psi_drift``) of the
    doc-length distribution between the even-id (reference) and odd-id
    corpus halves — the model-monitoring drift gauge next to
    ``drift_chi2``, now that the 9dp-rounded-decimal-term discipline
    makes the per-bucket (q−p)·ln(q/p) terms order-independent and
    oracle-replayable. Same buckets, same single-pass shape."""
    docs = load_table(spark, sf_dir, "documents")
    return rel_ops.psi_drift(
        docs, "n_chars", F.col("doc_id") % 2 == 0, _DRIFT_EDGES
    ).orderBy("bucket")


def distinctive_terms_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive vocabulary (``text.distinctive_terms``):
    top-5 terms by the Monroe log-odds-with-Dirichlet-prior z-score —
    systematic overuse, not TF-IDF's rarity. Two vocab-bounded keyed
    aggs + broadcast totals + one group top-k window with the
    (z DESC, term ASC) total order."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return text_ops.distinctive_terms(docs, "source", "text").select(
        F.col("group").alias("source"),
        "term",
        "n_in_group",
        "n_rest",
        "z_score",
        "rank",
    )


def weighted_affinity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman collaboration-weighted part affinity
    (``graph.newman_weighted_projection``): each order of d parts
    contributes 10⁶ div (d−1) micro-weight to its pairs — small
    focused baskets dominate, mega-orders stop flooding the
    projection. Pairs with ≥ 1.5 expected-contribution mass kept;
    exact BIGINT weights."""
    from datapipelines_essentials_python_spark.operators import graph as graph_ops

    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    return graph_ops.newman_weighted_projection(
        li, "k", "p", min_weight_micro=500_000
    ).select("u", "v", "n_baskets", "weight_micro")


def bloom_fpr_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom false-positive-rate calibration
    (``relational.bloom_fpr_audit``): filter built from even-id order
    keys (m = 2^16, k = 3), probed with the odd-id keys — realized FPR
    in exact micro-units vs the (1 − e^(−kn/m))^k theory scalar. The
    sizing check a 100-TB decontamination run should read before
    trusting its bitmap."""
    orders = load_table(spark, sf_dir, "orders")
    member = orders.where(F.col("o_orderkey") % 2 == 0).select("o_orderkey")
    probe = orders.where(F.col("o_orderkey") % 2 == 1).select("o_orderkey")
    return rel_ops.bloom_fpr_audit(
        member, probe, "o_orderkey", "o_orderkey",
        num_bits=1 << 16, num_hashes=3,
    )


def zipf_fit_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-exponent fit per source (``text.zipf_fit``): OLS of
    ln(count) on ln(rank) over each source's top-100 terms — natural
    text ≈ −1, templated sources bend away; the corpus-naturalness
    gauge beside entropy and Simpson. 9dp-rounded decimal log terms,
    fixed double shapes."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return text_ops.zipf_fit(docs, "source", "text", top_n=100).select(
        F.col("group").alias("source"),
        "n_terms_fit",
        "zipf_slope",
        "zipf_intercept",
        "r2",
    )


def geo_hotspot_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-cell DBSCAN (``relational.grid_dbscan``) over the same
    deterministic md5 customer coordinates as ``geo_nearby_customers``
    (eps = 0.25°, min_pts = 3): density hotspots as 8-connected core
    cells labeled by exact min-cell components — the venue/hotspot
    detection shape whose point-level eps-join doesn't scale. One
    cell-keyed count collapses the corpus; everything after is
    core-cell cardinality."""
    from datapipelines_essentials_python_spark.operators.sampling import hash_fraction

    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("pid"),
        F.round(hash_fraction("c_custkey", salt="lat") * 10, 6).alias("x"),
        F.round(hash_fraction("c_custkey", salt="lon") * 10, 6).alias("y"),
    )
    return rel_ops.grid_dbscan(pts, "pid", "x", "y", eps=0.25, min_pts=3)


def did_weekend_premium(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences (``relational.diff_in_diff``) on event
    value cents: treatment = hash-half of users, post = second half of
    the observed day range — a placebo design on synthetic data (DiD
    should be ~0 and NOT significant, which is itself the calibration
    check), with the four-cell conditional moment pass and Welch-style
    SE. Exact integer moments, fixed double shapes."""
    ev = load_table(spark, sf_dir, "events")
    from datapipelines_essentials_python_spark.operators.sampling import hash_fraction

    mid = ev.agg(
        F.min(F.to_date("ts")).alias("mn"), F.max(F.to_date("ts")).alias("mx")
    )
    with_mid = ev.crossJoin(F.broadcast(mid)).withColumn(
        "__post",
        F.datediff(F.to_date("ts"), F.col("mn"))
        > F.datediff(F.col("mx"), F.col("mn")) / 2,
    )
    base = with_mid.select(
        (hash_fraction("user_id", salt="did") < 0.5).alias("__treat"),
        F.col("__post"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    return rel_ops.diff_in_diff(
        base, F.col("__treat"), F.col("__post"), "cents"
    )


def cache_hit_curve_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cache-admission hit-rate curve (``relational.cache_hit_curve``)
    over event user keys at k ∈ {10, 100, 1000}: what share of event
    traffic the top-k hottest users account for — the broadcast/pin
    capacity-planning curve next to ``skew_profile_events``. Exact
    micro hit rates off one keyed count + a distinct-key rank."""
    ev = load_table(spark, sf_dir, "events")
    return rel_ops.cache_hit_curve(ev, "user_id", [10, 100, 1000])


def char_entropy_gibberish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy gibberish detection (``text.char_entropy``)
    over every 20th document (bounded output): natural text ~4 bits
    per char; mashes and blobs fall out at the 2.0 threshold. Per-doc
    9dp-decimal-quantized p·log2 p folds, scan-linear char explode."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True).where(
        F.col("doc_id") % 20 == 0
    )
    return text_ops.char_entropy(docs, "doc_id", "text").select(
        F.col("id").cast("long").alias("doc_id"),
        "n_chars",
        "n_distinct_chars",
        "char_entropy",
        "is_low_entropy",
    )


def wilson_en_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% score interval (``relational.wilson_intervals``) for
    each source's English-document rate — the small-segment-safe CI
    the naive normal interval gets wrong near 0/1. Exact conditional
    counts, fixed double interval shapes."""
    docs = load_table(spark, sf_dir, "documents")
    return rel_ops.wilson_intervals(
        docs, "source", F.col("lang") == "en", z=1.96
    ).select(
        F.col("group").alias("source"),
        "n",
        "successes",
        "rate",
        "ci_low",
        "ci_high",
    )


def eb_shrunk_en_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage
    (``relational.eb_shrunk_rates``) of per-source English rates — the
    smoothed-rate companion of ``wilson_en_rate``: a MoM Beta prior
    fitted to the group-rate table pulls small sources toward the
    corpus mean. Bounded-group prior fit via one broadcast scalar
    row."""
    docs = load_table(spark, sf_dir, "documents")
    return rel_ops.eb_shrunk_rates(
        docs, "source", F.col("lang") == "en"
    ).select(
        F.col("group").alias("source"),
        "n",
        "successes",
        "raw_rate",
        "alpha",
        "beta",
        "shrunk_rate",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # The driver's CORRECTNESS gate records only the first 50 entries.
        # Window layout, round 9 (SIXTH rotation, VERDICT r08 item 1):
        # rows 1-14 are the SURVEY §2 flagship spine pinned by the
        # round-3 contract (tests/test_registry_contract.py); rows 15-50
        # carry 36 FIRST-TIME queries drawn from the 77-row never-gated
        # pool the r8 verdict enumerated (cumulative driver-green was
        # 196/273 after five rotations; this window takes it to 232).
        # Priority per the verdict: the round-8 graph tail (ktruss,
        # link prediction, harmonic centrality, BFS/walks/routes), the
        # dedup/chunking tail (ngram novelty, boilerplate removal,
        # minhash matrix, threshold sweep, token budget, pipeline v4),
        # and the statistics family. Everything below the marker is
        # covered by the committed full-suite parity sweeps
        # (tools/check_parity.py, PARITY_r{N}*.txt at sf0.01/sf0.1/sf1).
        # After this window lands, the never-gated pool for the round-10
        # rotation is the 41 rows listed in COVERAGE.md ("last
        # driver-gated round" column, value "never").
        # ---- §2 flagship spine (driver-green since r6/r7) ----
        "q1_pricing_summary": q1_pricing_summary,
        "q5_nation_revenue": q5_nation_revenue,
        "metadata_pipeline": metadata_pipeline,
        "filter_dsl_scan": filter_dsl_scan,
        "agg_dispatch": agg_dispatch,
        "duration_buckets": duration_buckets,
        "dq_summary": dq_summary,
        "word_count": word_count,
        "exact_dedup": exact_dedup,
        "window_latest_order": window_latest_order,
        "top_k_per_group": top_k_per_group,
        "json_flatten": json_flatten,
        "cdc_merge": cdc_merge,
        "scd2_merge": scd2_merge_q,
        # ---- sixth rotation: 36 first-time rows ----
        "ktruss_edges": ktruss_edges,
        "link_prediction_aa": link_prediction_aa,
        "link_prediction_jaccard": link_prediction_jaccard,
        "link_prediction_salton": link_prediction_salton,
        "harmonic_centrality": harmonic_centrality,
        "bfs_reach_3hop": bfs_reach_3hop,
        "cheapest_route_3hop": cheapest_route_3hop,
        "random_walk_hops": random_walk_hops,
        "rich_club_parts": rich_club_parts,
        "weighted_affinity_pairs": weighted_affinity_pairs,
        "ngram_novelty": ngram_novelty_q,
        "boilerplate_removal": boilerplate_removal,
        "source_minhash_matrix": source_minhash_matrix,
        "dedup_threshold_sweep": dedup_threshold_sweep,
        "token_budget_plan": token_budget_plan,
        "training_pipeline_v4": training_pipeline_v4,
        "theil_sen_trend": theil_sen_trend,
        "mann_kendall_nation_trend": mann_kendall_nation_trend,
        "welch_ttest_sources": welch_ttest_sources,
        "gini_revenue_by_nation": gini_revenue_by_nation,
        "anova_doc_length": anova_doc_length,
        "kruskal_doc_length": kruskal_doc_length,
        "spearman_qty_price": spearman_qty_price,
        "kendall_tau_qty_discount": kendall_tau_qty_discount,
        "wilson_en_rate": wilson_en_rate,
        "eb_shrunk_en_rate": eb_shrunk_en_rate,
        "psi_doc_length_drift": psi_doc_length_drift,
        "did_weekend_premium": did_weekend_premium,
        "cusum_changepoint": cusum_changepoint,
        "siegel_trend": siegel_trend,
        "geo_hotspot_clusters": geo_hotspot_clusters,
        "char_entropy_gibberish": char_entropy_gibberish,
        "bloom_fpr_calibration": bloom_fpr_calibration,
        "ndcg_bm25_langmatch": ndcg_bm25_langmatch,
        "zipf_fit_sources": zipf_fit_sources,
        "source_token_entropy": source_token_entropy,
        # ---- entries below are covered by tools/check_parity.py
        # ---- (full-suite log committed per round as PARITY_r{N}.txt);
        # ---- every row below EXCEPT the 41-row round-10 rotation pool
        # ---- (see COVERAGE.md) has a driver-green CORRECTNESS record ----
        "kcore_nodes": kcore_nodes,
        "lpa_communities": lpa_communities_parts,
        "exact_substring_dedup": exact_substring_dedup_q,
        "q2_cheapest_parts": q2_cheapest_parts,
        "q15_top_suppliers": q15_top_suppliers,
        "q20_excess_shippers": q20_excess_shippers,
        "cube_agg": cube_agg,
        "asof_join_tolerance": asof_join_tolerance,
        "null_safe_join": null_safe_join,
        "fuzzy_match_names": fuzzy_match_names,
        "cdc_changed_columns": cdc_changed_columns,
        "incremental_agg": incremental_agg,
        "compaction_plan": compaction_plan_q,
        "geo_nearby_customers": geo_nearby_customers,
        "unpivot_metrics": unpivot_metrics,
        "window_navigation": window_navigation,
        "percent_rank_quality": percent_rank_quality,
        "dau_wau": dau_wau,
        "first_touch_attribution": first_touch_attribution,
        "mad_outliers": mad_outliers,
        "hits_supply_graph": hits_supply_graph,
        "containment_pairs": containment_pairs,
        "script_mix": script_mix,
        "media_chunks": media_chunks,
        "pack_sequences": pack_sequences,
        "quantile_profile": quantile_profile,
        "histogram_profile": histogram_profile,
        "corr_stats": corr_stats,
        "repetition_stats": repetition_stats,
        "quality_filter": quality_filter,
        "unigram_lm_quality": unigram_lm_quality,
        "weighted_sample_docs": weighted_sample_docs,
        "zorder_layout": zorder_layout,
        "global_shuffle_order": global_shuffle_order,
        "bloom_join_orders": bloom_join_orders,
        "iqr_outlier_events": iqr_outlier_events,
        "text_normalize": text_normalize,
        "domain_balance": domain_balance,
        "feature_hash_tf": feature_hash_tf_q,
        "grouped_split_docs": grouped_split_docs,
        "logistic_quality": logistic_quality,
        "strip_markup": strip_markup_q,
        "temperature_mixture": temperature_mixture_q,
        "hard_negatives": hard_negatives,
        "skew_profile_events": skew_profile_events,
        "json_props_extract": json_props_extract,
        "vector_stats": vector_stats,
        "quality_percentile_gate": quality_percentile_gate,
        "event_lift": event_lift,
        "top_terms_per_source": top_terms_per_source,
        "q3_top_revenue_orders": q3_top_revenue_orders,
        "triangle_count": triangle_count,
        "rrf_fusion": rrf_fusion,
        "js_divergence_sources": js_divergence_sources,
        "rolling_median_7d": rolling_median_7d,
        "embargo_split": embargo_split,
        "ppr_seed_expansion": ppr_seed_expansion,
        "butterfly_count": butterfly_count,
        "graph_degree_stats": graph_degree_stats,
        "set_ops": set_ops,
        "having_clause": having_clause,
        "flatten_deep": flatten_deep,
        "array_explode": array_explode,
        "dq_file_completeness": dq_file_completeness,
        "dq_profile": dq_profile,
        "multimodal_features": multimodal_features,
        "q2_min_cost_supplier": q2_min_cost_supplier,
        "q4_priority_exists": q4_priority_exists,
        "q7_volume_shipping": q7_volume_shipping,
        "q8_market_share": q8_market_share,
        "q9_product_profit": q9_product_profit,
        "q10_returned_customers": q10_returned_customers,
        "q11_important_parts": q11_important_parts,
        "q12_shipping_delay": q12_shipping_delay,
        "q16_supplier_count": q16_supplier_count,
        "q19_disjunctive": q19_disjunctive,
        "q21_waiting_suppliers": q21_waiting_suppliers,
        "q22_dormant_rich": q22_dormant_rich,
        "scd2_point_in_time": scd2_point_in_time,
        "snapshot_diff": snapshot_diff_orders,
        "source_overlap_matrix": source_overlap_matrix,
        "session_conversion": session_conversion,
        "split_leakage_audit": split_leakage_audit,
        "dataset_card": dataset_card,
        "sql_api_revenue": sql_api_revenue,
        "url_canonicalize": url_canonicalize,
        "projection_cast_nvl": projection_cast_nvl,
        "snake_case_projection": snake_case_projection,
        "tz_convert": tz_convert,
        "string_ops": string_ops,
        "date_parse_safe": date_parse_safe,
        "lookup_mapping": lookup_mapping,
        "audit_columns": audit_columns,
        "date_sequence_backfill": date_sequence_backfill,
        "csv_roundtrip_parity": csv_roundtrip_parity,
        "json_roundtrip_parity": json_roundtrip_parity,
        "pagerank_parts": pagerank_parts,
        "pagerank_engagement": pagerank_engagement,
        "transition_matrix": transition_matrix,
        "pareto_frontier": pareto_frontier,
        "ewma_daily": ewma_daily,
        "rfm_segmentation": rfm_segmentation,
        "time_weighted_avg": time_weighted_avg,
        "interpolate_daily": interpolate_daily,
        "pmi_collocations": pmi_collocations,
        "benford_prices": benford_prices,
        "event_trigrams": event_trigrams,
        "debounce_events": debounce_events,
        "fixed_size_sample_docs": fixed_size_sample_docs,
        "autocorr_daily": autocorr_daily,
        "fuzzy_join_suppliers": fuzzy_join_suppliers,
        "tfidf_top_terms": tfidf_top_terms_q,
        "curriculum_bins": curriculum_bins_q,
        "heavy_hitters": heavy_hitters,
        "ngram_jaccard": ngram_jaccard,
        "pq_ann": pq_ann,
        "pq_ann_refined": pq_ann_refined,
        "ann_recall_pq": ann_recall_pq,
        "vocab_coverage": vocab_coverage,
        "dup_cluster_histogram": dup_cluster_histogram,
        "substring_dup_profile": substring_dup_profile_q,
        "bigram_lm_quality": bigram_lm_quality,
        "hll_incremental": hll_incremental,
        "rag_retrieval": rag_retrieval,
        "bm25_retrieval": bm25_retrieval,
        "knn_label_accuracy": knn_label_accuracy,
        "pack_chunk_spans": pack_chunk_spans_q,
        "ann_recall_ivf": ann_recall_ivf,
        "asof_join_tiebreak": asof_join_tiebreak,
        "histogram_quantiles": histogram_quantiles,
        "mixture_weights": mixture_weights,
        "drift_chi2": drift_chi2,
        "ols_fit": ols_fit,
        "grouping_sets_agg": grouping_sets_agg,
        "sessionize": sessionize,
        "session_window_agg": session_window_agg,
        "funnel_conversion": funnel_conversion,
        "asof_join": asof_join_query,
        "asof_join_forward": asof_join_forward,
        "range_join": range_join_query,
        "dedup_components": dedup_components,
        "dedup_components_star": dedup_components_star,
        "kmeans_step": kmeans_step_q,
        "incremental_dedup": incremental_dedup_q,
        "training_pipeline_e2e": training_pipeline_e2e,
        "minhash_lsh": minhash_lsh,
        "near_dedup_keep": near_dedup_keep,
        "simhash_neardup": simhash_neardup,
        "embedding_lsh_topk": embedding_lsh_topk,
        "ivf_ann": ivf_ann,
        "decontamination_bloom": decontamination_bloom,
        "semantic_dedup": semantic_dedup,
        "hll_distinct": hll_distinct,
        "cms_topk": cms_topk,
        "gap_fill_events": gap_fill_events,
        "rolling_events_7d": rolling_events_7d,
        "hopping_window_agg": hopping_window_agg,
        "cohort_retention": cohort_retention,
        "time_rollup": time_rollup,
        "sliding_count_1h": sliding_count_1h,
        "funnel_within_1h": funnel_within_1h,
        "interval_join_sessions": interval_join_sessions,
        "events_by_day": events_by_day,
        "kmeans_two_step": kmeans_two_step,
        "training_pipeline_v2": training_pipeline_v2,
        "training_pipeline_v3": training_pipeline_v3,
        "dedup_keep_best": dedup_keep_best,
        "embedding_neardup": embedding_neardup,
        "ann_recall_lsh": ann_recall_lsh,
        "quantized_topk": quantized_topk,
        "ivf_ann_nprobe2": ivf_ann_nprobe2,
        "salted_join_events": salted_join_events,
        "data_skipping_plan": data_skipping_plan,
        "group_quantiles": group_quantiles,
        "span_dedup": span_dedup_q,
        "winsorize_events": winsorize_events,
        "simhash_fp": simhash_fp,
        "embedding_topk": embedding_topk,
        "lang_id": lang_id,
        "text_quality": text_quality,
        "token_stats": token_stats,
        "doc_fingerprint": doc_fingerprint,
        "pii_scrub": pii_scrub,
        "decontamination": decontamination,
        "window_functions": window_functions,
        "rollup_agg": rollup_agg,
        "pivot_agg": pivot_agg,
        "q6_revenue_delta": q6_revenue_delta,
        "q13_custdist": q13_custdist,
        "q14_promo_revenue": q14_promo_revenue,
        "q17_small_qty_revenue": q17_small_qty_revenue,
        "q18_large_orders": q18_large_orders,
        "semi_join_returned": semi_join_returned,
        "anti_join_dormant": anti_join_dormant,
        "stratified_sample_docs": stratified_sample_docs,
        "train_holdout_split": train_holdout_split,
        "chunk_documents": chunk_documents_q,
        "dense_rank_ties": dense_rank_ties,
        "skyline_parts": skyline_parts,
        "rolling_mad_anomaly": rolling_mad_anomaly,
        "dow_outlier_days": dow_outlier_days,
        "hilbert_layout": hilbert_layout,
        "activity_streaks": activity_streaks,
        "fd_check": fd_check,
        "contingency_priority_status": contingency_priority_status,
        "kfold_balance": kfold_balance,
        "interarrival_profile": interarrival_profile,
        "trend_break_fit": trend_break_fit,
        "simpson_diversity_sources": simpson_diversity_sources,
        "range_partition_audit": range_partition_audit,
        "peak_concurrency_daily": peak_concurrency_daily,
        "weighted_median_price": weighted_median_price,
        "auc_en_quality": auc_en_quality,
        "quality_calibration": quality_calibration,
        "target_encode_segment": target_encode_segment,
        "association_rules_events": association_rules_events,
        "orderkey_gaps": orderkey_gaps,
        "signup_purchase_delay": signup_purchase_delay,
        "delta_audit_events": delta_audit_events,
        "trimmed_mean_price": trimmed_mean_price,
        "mode_quantity": mode_quantity,
        "distinctive_terms_sources": distinctive_terms_sources,
        "cache_hit_curve_users": cache_hit_curve_users,
    }


def oracle_sql() -> dict[str, str]:
    from oracle_sql_defs import ORACLES

    return dict(ORACLES)
