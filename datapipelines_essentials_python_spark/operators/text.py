"""Text-analysis operators for training-data pipelines.

Beyond-reference surface (driver mandate): language-ID (stopword-profile
heuristic), quality scoring (length/punctuation/stopword ratios), token
counting (whitespace + BPE-ish regex), and document fingerprinting (k-min
shingle hash, a winnowing-style rolling fingerprint).

All operators are pure Column expressions — per-row array math with no
shuffle and no Python workers, so they stream through a 100 TB scan at
scan speed. Every algorithm is deterministic (md5-based hashing only) so
results are exactly reproducible across engines and reruns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Deliberately tiny, frozen stopword profiles — the *operator* is the
# deliverable; swap profiles for real ones in production.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "for", "with"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "un", "est", "que"),
    "de": ("der", "die", "und", "das", "von", "zu", "mit", "ist", "den", "ein"),
}

# BPE-ish token pattern: word pieces, numbers, or single non-space symbols —
# approximates subword segmentation without a vocab file.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokens (empty strings removed)."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Count of BPE-ish regex tokens — a vocabulary-free proxy for LLM token
    counts (closer than whitespace counts for punctuated text)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality signals, one narrow projection:

    n_chars, n_tokens, avg_token_len, punct_ratio (punctuation chars /
    chars), stopword_ratio (en-profile tokens / tokens), uniq_token_ratio.
    """
    c = F.col(text_col)
    toks = tokens(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    stop_arr = F.array(*[F.lit(w) for w in LANG_PROFILES["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return df.select(
        "*",
        n_chars.alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        F.when(n_tokens > 0, F.round(F.length(F.concat_ws("", toks)) / n_tokens, 6))
        .otherwise(F.lit(0.0))
        .alias("avg_token_len"),
        F.when(n_chars > 0, F.round(punct / n_chars, 6)).otherwise(F.lit(0.0)).alias(
            "punct_ratio"
        ),
        F.when(n_tokens > 0, F.round(n_stop / n_tokens, 6))
        .otherwise(F.lit(0.0))
        .alias("stopword_ratio"),
        F.when(n_tokens > 0, F.round(F.size(F.array_distinct(toks)) / n_tokens, 6))
        .otherwise(F.lit(0.0))
        .alias("uniq_token_ratio"),
    )


def detect_language(col: Column | str) -> Column:
    """Stopword-profile language ID: score = |distinct tokens ∩ profile|;
    winner = max score, ties broken by language code order; all-zero →
    'und'. Deterministic and portable (same algorithm is expressible in
    ANSI SQL for the oracle)."""
    toks = F.array_distinct(tokens(col))
    scores: list[tuple[str, Column]] = []
    for lang in sorted(LANG_PROFILES):
        profile = F.array(*[F.lit(w) for w in LANG_PROFILES[lang]])
        scores.append((lang, F.size(F.array_intersect(toks, profile))))
    best_score: Column = scores[0][1]
    for _, s in scores[1:]:
        best_score = F.greatest(best_score, s)
    pick: Column = F.lit("und")
    # first (lexicographically smallest) language achieving the max wins
    for lang, s in reversed(scores):
        pick = F.when(s == best_score, F.lit(lang)).otherwise(pick)
    return F.when(best_score > 0, pick).otherwise(F.lit("und"))


#: Unicode RANGES, not script classes: ``[Ѐ-ӿ]`` means the
#: same thing to Java regex (Spark) and RE2 (DuckDB), while
#: ``\p{IsCyrillic}`` vs ``\p{Cyrillic}`` invites engine drift. Ordered —
#: the dominant-script tie-break follows this order.
SCRIPT_RANGES: list[tuple[str, str]] = [
    ("latin", "A-Za-zÀ-ɏ"),
    ("cyrillic", "Ѐ-ӿ"),
    ("greek", "Ͱ-Ͽ"),
    ("arabic", "؀-ۿ"),
    ("cjk", "一-鿿"),
    ("hangul", "가-힯"),
    ("digit", "0-9"),
]


def script_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document Unicode-script mix: character counts per script
    range, the dominant LETTER script, and the Latin ratio over script
    letters — the language-routing / mixed-script-spam signal a
    multilingual training-data pipeline filters on before per-language
    processing (cheap enough to run at scan speed, unlike model-based
    language ID).

    Counting is the length-difference trick — ``length(text) −
    length(regexp_replace(text, '[range]', ''))`` — which is
    character-exact and byte-identical in Spark and DuckDB (both
    ``length`` functions count codepoints; the class is a plain range).
    Dominant script = argmax over the LETTER scripts (digits excluded),
    ties broken by :data:`SCRIPT_RANGES` order; documents with no script
    letters at all are 'none'. Pure narrow projection: no shuffle, no
    UDF, runs at scan speed at any corpus size.

    → ``(id, n_chars, <script> counts…, dominant_script, latin_ratio)``.
    """
    c = F.col(text_col)
    out = df.select(
        F.col(id_col).alias("id"),
        F.length(c).cast("long").alias("n_chars"),
        *[
            (
                F.length(c)
                - F.length(F.regexp_replace(c, f"[{rng}]", ""))
            ).cast("long").alias(name)
            for name, rng in SCRIPT_RANGES
        ],
    )
    letters = [name for name, _ in SCRIPT_RANGES if name != "digit"]
    best: Column = F.col(letters[0])
    for name in letters[1:]:
        best = F.greatest(best, F.col(name))
    pick: Column = F.lit("none")
    for name in reversed(letters):
        pick = F.when(F.col(name) == best, F.lit(name)).otherwise(pick)
    total_letters = sum((F.col(n) for n in letters[1:]), F.col(letters[0]))
    return out.select(
        "*",
        F.when(best > 0, pick).otherwise(F.lit("none")).alias("dominant_script"),
        F.when(
            total_letters > 0,
            F.round(F.col("latin").cast("double") / total_letters.cast("double"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("latin_ratio"),
    )


def fingerprint(col: Column | str, ngram: int = 3, keep: int = 4) -> Column:
    """Winnowing-style document fingerprint: md5-hash every ``ngram``-token
    shingle, keep the ``keep`` lexicographically smallest digests, rejoin
    with '|' and md5 the result. Robust to small edits (shares k-min hashes)
    yet a single fixed-width key — usable directly as a clustering/dedup
    key at scale."""
    from datapipelines_essentials_python_spark.operators.dedup import shingles

    sh = shingles(col, n=ngram)
    hashes = F.transform(sh, lambda s: F.md5(s))
    smallest = F.slice(F.array_sort(hashes), 1, keep)
    return F.md5(F.concat_ws("|", smallest))


# --------------------------------------------------------------------------
# corpus unigram language-model quality scoring
# --------------------------------------------------------------------------
def unigram_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus unigram table → (token, cnt). One explode + one shuffle with
    map-side partial aggregation — the classic word-count shape."""
    return (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def unigram_logprob_score(
    df: DataFrame, id_col: str, text_col: str = "text", round_dp: int = 4
) -> DataFrame:
    """Per-document mean unigram log2-probability under the corpus's own
    unigram LM — the standard cheap fluency/quality signal (gibberish and
    boilerplate score low, typical prose scores high).

    → (id, n_tokens, avg_logprob). Exactness: each token's log2 p is
    rounded to ``round_dp`` decimals and cast to DECIMAL before the sum, so
    the per-doc aggregate is order-independent and the SQL oracle
    hash-matches despite floating-point log.

    Scale shape: unigram table = one word-count shuffle; scoring = explode
    + join on token (the LM table is broadcast when it fits, which a
    unigram vocab essentially always does) + one groupBy on doc id.
    """
    lm = unigram_counts(df, text_col)
    total = lm.agg(F.sum("cnt").alias("total"))
    lm = F.broadcast(lm.crossJoin(total))
    logp = F.round(
        F.log2(F.col("cnt").cast("double") / F.col("total").cast("double")), round_dp
    ).cast("decimal(18,6)")
    exploded = df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("token"))
    return (
        exploded.join(lm, "token")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum(logp).cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "avg_logprob"
            ),
        )
    )


def bigram_logprob_score(
    df: DataFrame, id_col: str, text_col: str = "text", round_dp: int = 4
) -> DataFrame:
    """Per-document mean bigram log2-probability under the corpus's own
    add-one-smoothed bigram LM — a sharper fluency signal than the unigram
    score (it penalizes unlikely token TRANSITIONS, which is what
    distinguishes shuffled/boilerplate text from prose with the same
    vocabulary): ``p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)``.

    → (id, n_bigrams, sum_logprob_micro) over documents with ≥ 2 tokens;
    ``sum_logprob_micro`` is the per-doc logprob sum in integer
    MICRO-units (sum of 4-dp-rounded log2 p × 10⁶ — exact in decimal
    space, so the output carries no float at all and hash-matches at any
    corpus scale; a float mean `round(sum/n, 6)` sits on round-half
    boundaries whose tie-breaking differs between engines — observed at
    sf0.1). Mean logprob = sum_logprob_micro / 1e6 / n_bigrams.

    Scale shape: bigram LM = one explode + count shuffle; unigram table
    and vocab size ride the same pass; scoring joins the (broadcastable)
    LM tables and aggregates once on the doc id.
    """
    # adjacent pairs via zip_with over a shifted slice (the chunking
    # module's trick): the shorter side pads with null → null bigram →
    # filtered after explode. Avoids the element_at-over-sequence lambda,
    # which re-evaluates the token split per element (~15× slower).
    pre = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("tk"))
    bigrams = F.zip_with(
        F.col("tk"),
        F.expr("slice(tk, 2, size(tk))"),
        lambda a, b: F.struct(
            a.alias("w1"), F.concat(a, F.lit(" "), b).alias("bigram")
        ),
    )
    exploded = (
        pre.select("id", F.explode(bigrams).alias("b"))
        .select("id", F.col("b.w1").alias("w1"), F.col("b.bigram").alias("bigram"))
        .where(F.col("bigram").isNotNull())
    )

    lm_bg = exploded.groupBy("bigram").agg(F.count(F.lit(1)).alias("cbg"))
    lm_uni = unigram_counts(df, text_col).select(
        F.col("token").alias("w1"), F.col("cnt").alias("cw")
    )
    vocab = lm_uni.agg(F.count(F.lit(1)).alias("V"))

    logp = F.round(
        F.log2(
            (F.col("cbg") + F.lit(1)).cast("double")
            / (F.col("cw") + F.col("V")).cast("double")
        ),
        round_dp,
    ).cast("decimal(18,6)")
    return (
        exploded.join(F.broadcast(lm_bg), "bigram")
        .join(F.broadcast(lm_uni), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            (F.sum(logp) * F.lit(1000000)).cast("long").alias("sum_logprob_micro"),
        )
    )


# --------------------------------------------------------------------------
# n-gram repetition detection (Gopher-style quality signal)
# --------------------------------------------------------------------------
def ngram_repetition(
    df: DataFrame, id_col: str, text_col: str = "text", n: int = 2
) -> DataFrame:
    """Per-document n-gram repetition: the fraction of all n-grams (with
    multiplicity) taken by the single most frequent one — the standard
    boilerplate/loop detector for training-corpus filtering (a high
    top-fraction means templated or repetitive text).

    → (id, n_ngrams, top_cnt, top_frac). Shape: one explode + two keyed
    aggregations (map-side combined); integer counts + one rounded
    division, so exactly portable.
    """
    toks = tokens(text_col)
    k = F.size(toks)
    grams = F.when(
        k >= n,
        F.transform(
            F.sequence(F.lit(1), k - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array())
    exploded = df.select(F.col(id_col).alias("id"), F.explode(grams).alias("gram"))
    per_gram = exploded.groupBy("id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    return per_gram.groupBy("id").agg(
        F.sum("cnt").alias("n_ngrams"),
        F.max("cnt").alias("top_cnt"),
        F.round(
            F.max("cnt").cast("double") / F.sum("cnt").cast("double"), 6
        ).alias("top_frac"),
    )


# --------------------------------------------------------------------------
# sequence packing (training-batch assembly)
# --------------------------------------------------------------------------
def pack_documents(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    budget_tokens: int = 2048,
    shard_col: str | None = None,
) -> DataFrame:
    """Concat-then-split sequence packing: assign each document to a
    context-window pack by cumulative token position in deterministic
    ``id_col`` order — pack k = floor(tokens_before / budget). Documents
    may straddle pack boundaries (the concat-and-chunk packing used with
    document-boundary attention masks), which is what makes the operator a
    pure window expression instead of a stateful scan.

    Scale shape: ONE running-sum window per shard. Always pass
    ``shard_col`` at scale (e.g. language, domain, or a hash bucket) —
    packing is embarrassingly parallel across shards, and an unsharded
    call funnels the corpus through a single partition (warned in the
    plan). → input columns + (n_tokens, pack_id).
    """
    from pyspark.sql import Window

    shard = F.col(shard_col) if shard_col else F.lit(1)
    w = (
        Window.partitionBy(shard)
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n = token_count(text_col)
    before = F.coalesce(F.sum(n).over(w), F.lit(0))
    return df.select(
        "*",
        n.alias("n_tokens"),
        F.floor(before / F.lit(budget_tokens)).cast("long").alias("pack_id"),
    )


def pack_chunk_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    budget_tokens: int = 2048,
    shard_col: str | None = None,
    rank_partitions: int | None = None,
) -> DataFrame:
    """Concat-and-chunk packing with document SPLITTING — the span table a
    pretraining-data writer materializes. Documents are laid end-to-end in
    deterministic ``id_col`` order (per shard) and the stream is cut into
    fixed ``budget_tokens`` context windows; a document crossing a cut is
    emitted once per window it overlaps. → one row per (document, chunk):

    ``(shard, id, n_tokens, chunk_id, chunk_tokens, carried_in)``

    where ``chunk_tokens`` is how many of the document's tokens land in
    that chunk and ``carried_in`` marks continuation spans (the document
    started in an earlier chunk — where a document-boundary attention mask
    resets). Invariant: every chunk except the last per shard holds
    exactly ``budget_tokens`` tokens.

    Scale shape (contrast :func:`pack_documents`, which uses one window
    per shard and therefore funnels each shard through one partition):
    the running token offset is computed with the same TWO-LEVEL ranking
    as :func:`build_vocab` — ``repartitionByRange`` over (shard, id),
    per-partition running sums in parallel, then per-(shard, partition)
    totals prefix-summed via a broadcast triangular join. No partition
    ever holds more than 1/``rank_partitions`` of the corpus regardless
    of shard skew. The range exchange is pinned with an eager
    localCheckpoint before fan-out for the same recompute-divergence
    reason documented in :func:`build_vocab`. Chunk fan-out is a per-row
    ``sequence`` + ``explode`` — a document with n tokens yields at most
    ``n/budget + 1`` spans, so the explode is bounded and local.
    Zero-token documents (empty/whitespace-only text) occupy no stream
    positions and are omitted from the span table, same as the SQL
    oracle's ``n_tokens > 0`` filter.
    """
    from pyspark.sql import Window

    if budget_tokens < 1:
        raise ValueError(f"budget_tokens must be >= 1, got {budget_tokens}")
    spark = df.sparkSession
    n_part = rank_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    shard_out = shard_col or "shard"
    shard = (F.col(shard_col) if shard_col else F.lit("__all__")).alias("__shard")
    toks = df.select(
        shard,
        F.col(id_col).alias("__id"),
        token_count(text_col).cast("long").alias("n_tokens"),
    ).where(F.col("n_tokens") > 0)
    # Range partitioning on (shard, id) guarantees that within a shard,
    # every row in an earlier partition precedes every row in a later one
    # — so local running sums + earlier-partition offsets compose into the
    # exact global offset.
    ranged = toks.repartitionByRange(
        n_part, F.col("__shard"), F.col("__id")
    ).withColumn("__pid", F.spark_partition_id())
    ranged = ranged.localCheckpoint(eager=True)
    lw = (
        Window.partitionBy("__pid", "__shard")
        .orderBy("__id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranged.select(
        "__shard",
        "__id",
        "n_tokens",
        "__pid",
        F.sum("n_tokens").over(lw).cast("long").alias("__lcum"),
    )
    per_range = ranged.groupBy("__shard", "__pid").agg(
        F.sum("n_tokens").cast("long").alias("__s")
    )
    earlier = per_range.select(
        F.col("__shard").alias("__eshard"),
        F.col("__pid").alias("__epid"),
        F.col("__s").alias("__es"),
    )
    offsets = (
        per_range.join(
            F.broadcast(earlier),
            (F.col("__eshard") == F.col("__shard"))
            & (F.col("__epid") < F.col("__pid")),
            "left",
        )
        .groupBy("__shard", "__pid")
        .agg(F.coalesce(F.sum("__es"), F.lit(0)).cast("long").alias("__off"))
    )
    budget = F.lit(int(budget_tokens))
    spans = local.join(F.broadcast(offsets), ["__shard", "__pid"]).select(
        "__shard",
        "__id",
        "n_tokens",
        (F.col("__lcum") + F.col("__off") - F.col("n_tokens")).alias("__cstart"),
        (F.col("__lcum") + F.col("__off")).alias("__cend"),
    )
    # floor over a double division is exact while total tokens < 2^53 —
    # ~9e15 tokens, far beyond a 100 TB corpus.
    first_chunk = F.floor(F.col("__cstart") / budget).cast("long")
    last_chunk = F.floor((F.col("__cend") - 1) / budget).cast("long")
    return (
        spans.select(
            F.col("__shard").alias(shard_out),
            F.col("__id").alias(id_col),
            "n_tokens",
            "__cstart",
            "__cend",
            F.explode(F.sequence(first_chunk, last_chunk)).alias("chunk_id"),
        )
        .select(
            shard_out,
            id_col,
            "n_tokens",
            "chunk_id",
            (
                F.least(F.col("__cend"), (F.col("chunk_id") + 1) * budget)
                - F.greatest(F.col("__cstart"), F.col("chunk_id") * budget)
            )
            .cast("long")
            .alias("chunk_tokens"),
            (F.col("__cstart") < F.col("chunk_id") * budget).alias("carried_in"),
        )
    )


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------
# Patterns restricted to syntax shared by Java regex (Spark) and RE2
# (DuckDB/many scanners) so redaction is replayable on any engine.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
)


def pii_redact(col: Column | str) -> Column:
    """Sequential PII redaction: emails, then phone numbers, then IPv4s,
    each replaced with ``<EMAIL>``/``<PHONE>``/``<IP>``.

    Returns a struct ``(text, n_email, n_phone, n_ip)`` where each count
    is taken on the text as it stood BEFORE that pattern's pass (the
    passes compose sequentially, so the order is part of the contract).
    Pure regexp Column expressions — scan-speed, no Python workers.
    """
    redacted = F.col(col) if isinstance(col, str) else col
    counts = []
    for name, pat in PII_PATTERNS:
        counts.append(F.regexp_count(redacted, F.lit(pat)).cast("long").alias(f"n_{name}"))
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    return F.struct(redacted.alias("text"), *counts)


# --------------------------------------------------------------------------
# train/eval decontamination
# --------------------------------------------------------------------------
def contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    strategy: str = "broadcast_array",
) -> DataFrame:
    """Per-document n-gram overlap with an evaluation set — the standard
    benchmark-decontamination check for training corpora.

    Returns ``(id, n_shingles, n_contaminated, ratio)`` where ``ratio`` is
    the fraction of the document's distinct n-gram shingles that also
    occur anywhere in ``eval_docs``. Filter ``ratio >= threshold`` to drop
    contaminated documents before training.

    Strategies:

    - ``broadcast_array`` (default): the eval side collapses to ONE row
      holding its distinct shingle set (benchmarks are small and roughly
      fixed-size, independent of corpus scale) and broadcasts; each doc
      does a single ``array_intersect`` — one pass over the corpus, zero
      shuffles, no explode blow-up.
    - ``join``: shingle-explode + broadcast equi-join + per-doc count —
      for eval sets too large to hold as one in-memory array.
    """
    from datapipelines_essentials_python_spark.operators.dedup import shingles

    base = docs.select(
        F.col(id_col).alias("id"), shingles(text_col, n).alias("sh")
    ).withColumn("n_shingles", F.size("sh"))

    if strategy == "broadcast_array":
        ev_set = (
            eval_docs.select(F.explode(shingles(text_col, n)).alias("s"))
            .agg(F.array_distinct(F.collect_list("s")).alias("ev"))
        )
        hit = F.size(F.array_intersect(F.col("sh"), F.col("ev")))
        return base.crossJoin(F.broadcast(ev_set)).select(
            "id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            hit.cast("long").alias("n_contaminated"),
            F.round(
                hit.cast("double")
                / F.greatest(F.col("n_shingles"), F.lit(1)).cast("double"),
                6,
            ).alias("ratio"),
        )

    ev = eval_docs.select(F.explode(shingles(text_col, n)).alias("s")).distinct()
    exploded = base.select("id", F.explode("sh").alias("s"))
    hits = (
        exploded.join(F.broadcast(ev), "s")
        .groupBy("id")
        .agg(F.countDistinct("s").alias("n_contaminated"))
    )
    return (
        base.select("id", "n_shingles")
        .join(hits, "id", "left")
        .select(
            "id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
            F.round(
                F.coalesce("n_contaminated", F.lit(0)).cast("double")
                / F.greatest(F.col("n_shingles"), F.lit(1)).cast("double"),
                6,
            ).alias("ratio"),
        )
    )


def bloom_contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """Bloom-filter decontamination — the bounded-memory scale path of
    :func:`contamination`.

    The exact check broadcasts the eval set's full distinct-shingle set,
    which grows with the eval corpus. Here the broadcast side is a REAL
    bloom bitmap: the k=2 md5-derived bit positions per eval shingle are
    OR-ed into 64-bit words (``map<word_index, word>``, ≤ ``m_bits``/64
    entries ≈ 128 KiB at the default 2²⁰ bits) and the single-row map
    broadcasts to every task. Each document then tests its shingles with
    two O(1) word lookups — one pass over the corpus, zero shuffles, no
    explode blow-up (the same per-row shape as :func:`contamination`'s
    broadcast_array strategy, but with eval-size-independent memory).
    Error is one-sided: a shingle whose two positions are both lit may be
    a false positive (classic bloom rate ≈ (bits_set/m)²), but a true
    eval shingle is NEVER missed, so a drop decision based on this gate
    is conservative — the right direction for decontamination.

    All hashing is deterministic md5 (same family as the MinHash/LSH
    operators), so the whole pipeline — including the filter construction —
    replays exactly in the SQL oracle.

    Returns ``(id, n_shingles, n_bloom_hits, ratio)``.
    """
    from datapipelines_essentials_python_spark.operators.dedup import shingles

    def pos(h: Column, offset: int) -> Column:
        # one md5 per shingle, split into two 32-bit positions
        return F.conv(F.substring(h, offset, 8), 16, 10).cast("long") % m_bits

    bit = F.col("bit")
    bloom = (
        eval_docs.select(F.explode(shingles(text_col, n)).alias("g"))
        .select(F.md5("g").alias("h"))
        .select(F.explode(F.array(pos(F.col("h"), 1), pos(F.col("h"), 9))).alias("bit"))
        .select(
            (bit / 64).cast("int").alias("w"),
            F.expr("shiftleft(cast(1 as bigint), cast(bit % 64 as int))").alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("m"))
        .agg(F.map_from_entries(F.collect_list(F.struct("w", "m"))).alias("bf"))
    )
    base = docs.select(
        F.col(id_col).alias("id"), shingles(text_col, n).alias("sh")
    )
    # per-shingle membership: both bloom bits lit ⇔ word >> (p%64) & 1 for
    # both positions; absent words coalesce to 0 (bit unset)
    hit_count = F.expr(
        "size(filter(sh, s -> forall("
        "  transform(array(substring(md5(s), 1, 8), substring(md5(s), 9, 8)),"
        f"   x -> cast(conv(x, 16, 10) as bigint) % {m_bits}),"
        "  p -> (shiftright(coalesce(element_at(bf, cast(p div 64 as int)),"
        "                            cast(0 as bigint)),"
        "                   cast(p % 64 as int)) & 1) = 1)))"
    )
    return base.crossJoin(F.broadcast(bloom)).select(
        "id",
        F.size("sh").cast("long").alias("n_shingles"),
        hit_count.cast("long").alias("n_bloom_hits"),
        F.round(
            hit_count.cast("double")
            / F.greatest(F.size("sh"), F.lit(1)).cast("double"),
            6,
        ).alias("ratio"),
    )


# --------------------------------------------------------------------------
# text normalization
# --------------------------------------------------------------------------
def normalize_text(col: Column | str, lowercase: bool = True) -> Column:
    """Canonical text normalization for ingest: strip control characters
    (C0 + DEL → space), optionally lowercase, collapse whitespace runs to
    a single space, and trim. The standard first pass over raw crawled
    text before tokenization/dedup — normalizing FIRST makes every
    downstream hash (fingerprints, MinHash, SimHash) edit-stable.

    Pure regexp Column expression — scan-speed, no Python workers, and the
    same RE2/Java-portable character classes as the PII patterns, so the
    pass is replayable on any engine.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"[\x00-\x1f\x7f]", " ")
    if lowercase:
        c = F.lower(c)
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


# --------------------------------------------------------------------------
# vocabulary construction
# --------------------------------------------------------------------------
def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    top_k: int | None = None,
    rank_partitions: int | None = None,
) -> DataFrame:
    """Corpus vocabulary with coverage accounting: token → count, frequency
    rank (count desc, token asc — a total order), cumulative count, and
    corpus total. ``cum_cnt / total_cnt`` at rank k is the fraction of all
    token occurrences a k-entry vocabulary covers — the curve you read off
    to size a tokenizer vocab.

    Scale shape: one word-count shuffle (map-side combined) over the
    corpus, then a TWO-LEVEL global ranking over the vocabulary — never a
    single-partition window, whatever the vocab size:

    1. ``repartitionByRange`` on the rank order (cnt desc, token asc)
       spreads the vocab over balanced sorted ranges (the sampler handles
       Zipf skew);
    2. rank + running sum WITHIN each range partition in parallel;
    3. per-partition row/sum totals (a ``rank_partitions``-row table) are
       prefix-summed and broadcast back as offsets.

    Global rank = local rank + rows in earlier ranges, independent of
    where the sampled boundaries fall, so the result is deterministic.
    The corpus itself is never globally sorted.
    """
    from pyspark.sql import Window

    counts = unigram_counts(df, text_col)
    spark = counts.sparkSession
    n_part = rank_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # MATERIALIZED before branching: both the local-rank branch and the
    # per-range-totals branch below consume `ranged`, and their agreement
    # on __pid assignments is load-bearing for correctness. The
    # repartitionByRange boundaries come from nondeterministic sampling,
    # so if the exchange were ever evaluated twice (exchange reuse
    # disabled, a planner change, or partition recompute after executor
    # loss), the two branches could see DIFFERENT partitionings and the
    # broadcast offsets would silently produce wrong global ranks. The
    # eager localCheckpoint pins one partitioning and truncates lineage,
    # making recompute-divergence impossible rather than merely unlikely
    # (on executor loss the job fails loudly instead of silently
    # re-sampling new boundaries).
    ranged = counts.repartitionByRange(
        n_part, F.col("cnt").desc(), F.col("token")
    ).withColumn("__pid", F.spark_partition_id())
    ranged = ranged.localCheckpoint(eager=True)
    lw = Window.partitionBy("__pid").orderBy(F.col("cnt").desc(), F.col("token"))
    local = ranged.select(
        "token",
        F.col("cnt").cast("long").alias("cnt"),
        "__pid",
        F.row_number().over(lw).alias("__lrank"),
        F.sum("cnt").over(lw.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("__lcum"),
    )
    # offsets: per-range totals (exactly n_part rows) prefix-summed with a
    # triangular broadcast self-join — no window at all, so nothing ever
    # moves "all data to a single partition", and the per-range totals are
    # aggregated straight off the checkpointed range partitioning (the
    # word-count shuffle runs exactly once)
    per_range = ranged.groupBy("__pid").agg(
        F.count(F.lit(1)).alias("__n"), F.sum("cnt").cast("long").alias("__s")
    )
    earlier = per_range.select(
        F.col("__pid").alias("__epid"),
        F.col("__n").alias("__en"),
        F.col("__s").alias("__es"),
    )
    offsets = (
        per_range.join(
            F.broadcast(earlier), F.col("__epid") < F.col("__pid"), "left"
        )
        .groupBy("__pid")
        .agg(
            F.coalesce(F.sum("__en"), F.lit(0)).alias("__rank_off"),
            F.coalesce(F.sum("__es"), F.lit(0)).alias("__cum_off"),
        )
    )
    ranked = local.join(F.broadcast(offsets), "__pid").select(
        "token",
        "cnt",
        (F.col("__lrank") + F.col("__rank_off")).cast("int").alias("rank"),
        (F.col("__lcum") + F.col("__cum_off")).cast("long").alias("cum_cnt"),
    )
    if top_k is not None:
        ranked = ranked.where(F.col("rank") <= top_k)
    total = df.agg(F.sum(token_count(text_col)).cast("long").alias("total_cnt"))
    return ranked.crossJoin(F.broadcast(total))


# --------------------------------------------------------------------------
# TF-IDF keyword extraction
# --------------------------------------------------------------------------
def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Per-document top-k terms by smoothed TF-IDF:
    ``score = tf * ln((n_docs + 1) / (df + 1))``, ranked per document with
    score desc, term asc (ties share tf and df, so term order makes the
    ranking total and engine-portable). → (id, term, tf, df, rank).

    The float score is used ONLY for ordering — the emitted columns are
    integers, so results hash-match across engines despite float log.

    Scale shape: explode → per-(doc, term) count (one shuffle, map-side
    combined) → document-frequency agg on the term table (second shuffle,
    vocabulary-sized) joined back by term, n_docs broadcast as a 1-row
    scalar, then one per-document ranking window. No global sort.
    """
    from pyspark.sql import Window

    tf = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf").cast("double") * F.log(
        (F.col("n_docs") + F.lit(1)).cast("double")
        / (F.col("df") + F.lit(1)).cast("double")
    )
    w = Window.partitionBy("id").orderBy(score.desc(), F.col("term"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select("id", "term", "tf", "df", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= k)
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    query: DataFrame,
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int = 6,
    query_id_col: str | None = None,
) -> DataFrame:
    """Okapi BM25 document scores against one query term set — the
    lexical-retrieval companion of :func:`tfidf_top_terms` and the hashed
    cosine :mod:`chunking` RAG stack. ``query`` is a DataFrame with a
    single ``term`` column (deduplicated here; broadcast).

    ``query_id_col`` (round-9 optimization): when set, ``query`` carries
    MANY query term sets — one ``(query_id, term)`` row each — and the
    output gains that column, one score row per (query, doc). The corpus
    side (tokenize → tf table → document frequencies → length stats) is
    query-independent, so N queries share ONE corpus pass instead of N:
    per-(query, doc, term) contributions are identical to N separate
    calls, hence so are the decimal score sums.

    Per matched (doc, term):
    ``idf = ln((N - df + 0.5) / (df + 0.5) + 1)`` (Robertson +1 form,
    always positive) and
    ``tfn = tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl))``.

    → (id, n_terms, dl, score_micro): per-term contributions are rounded
    to ``round_dp`` and summed in DECIMAL space, emitted as integer
    MICRO-units (the bigram-LM discipline) — the output carries no float,
    so it hash-matches across engines despite the libm ``ln``, and the
    decimal sum is order-independent at any parallelism.

    Scale shape: tf table = one explode + count shuffle (map-side
    combined); document frequency aggregates the vocabulary-sized term
    table; query join and corpus stats (N, avgdl — a 1-row aggregate) are
    broadcast; final score = one keyed agg on the doc id. No window, no
    global sort.
    """
    tf_tbl = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # Round-9 (guide §2.3): dl = Σ tf per doc — token_count(text) counts
    # every (non-empty) token occurrence, which is exactly what the tf
    # table already holds, so deriving dl from it removes TWO more
    # full-corpus tokenize branches (the stats aggregate and the scored
    # join leg each re-ran split+lower over every document; the plan
    # carried 3 corpus tokenizes for one logical pass). Zero-token docs
    # have no tf rows, so the id-only scan (cheap: one narrow column,
    # no tokenize) left-joins them back at dl=0 — identical to
    # size(tokens(text)) = 0 on empty text.
    dl_from_tf = tf_tbl.groupBy("id").agg(F.sum("tf").cast("long").alias("dl"))
    dl_tbl = (
        df.select(F.col(id_col).alias("id"))
        .join(dl_from_tf, "id", "left")
        .select("id", F.coalesce(F.col("dl"), F.lit(0).cast("long")).alias("dl"))
    )
    stats = dl_tbl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    dfreq = tf_tbl.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    qcols = [query_id_col] if query_id_col else []
    qt = query.select(*qcols, "term").distinct().join(dfreq, "term")
    scored = (
        tf_tbl.join(F.broadcast(qt), "term")
        .join(dl_tbl, "id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    tfn = (F.col("tf").cast("double") * F.lit(k1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl"))
    )
    contrib = F.round(idf * tfn, round_dp).cast("decimal(18,6)")
    return scored.groupBy(*qcols, "id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.max("dl").cast("long").alias("dl"),
        (F.sum(contrib) * F.lit(1000000)).cast("long").alias("score_micro"),
    )


# --------------------------------------------------------------------------
# logistic quality classifier (portable inference)
# --------------------------------------------------------------------------
def rational_squash(z: Column) -> Column:
    """Rational sigmoid ``0.5 + 0.5 * z / (1 + |z|)`` — same monotone
    S-shape as the logistic function but pure +,*,/ arithmetic, so Spark
    and any ANSI-SQL engine produce bit-identical doubles (no libm
    ``exp`` whose last ulp differs across runtimes)."""
    return F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))


def logit_quality_score(
    text_col: Column | str,
    weights: dict[str, float],
    bias: float = 0.0,
) -> Column:
    """Linear-model quality-classifier inference over the standard text
    features (the deploy path of a fastText/logreg quality filter: frozen
    weights applied corpus-wide).

    ``weights`` maps feature name → coefficient; supported features:
    ``n_tokens``, ``avg_token_len``, ``stopword_ratio``,
    ``uniq_token_ratio``. Each feature is rounded to 6 decimals before the
    dot product (same quantization as the feature queries) so the score is
    engine-portable; the squash is rational (see :func:`rational_squash`).

    Narrow per-row projection — no shuffle, no Python; streams at scan
    speed over 100 TB.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens(c)
    n_tokens = F.size(toks)
    denom = F.greatest(n_tokens, F.lit(1)).cast("double")
    stop_arr = F.array(*[F.lit(w) for w in LANG_PROFILES["en"]])
    feats: dict[str, Column] = {
        "n_tokens": n_tokens.cast("double"),
        "avg_token_len": F.round(
            F.length(F.regexp_replace(F.lower(c), " ", "")).cast("double") / denom, 6
        ),
        "stopword_ratio": F.round(
            F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast(
                "double"
            )
            / denom,
            6,
        ),
        "uniq_token_ratio": F.round(
            F.size(F.array_distinct(toks)).cast("double") / denom, 6
        ),
    }
    z: Column = F.lit(float(bias))
    for name in sorted(weights):  # fixed accumulation order = portable
        if name not in feats:
            raise ValueError(f"unknown feature {name!r}; have {sorted(feats)}")
        z = z + F.lit(float(weights[name])) * feats[name]
    return rational_squash(z)


# --------------------------------------------------------------------------
# markup stripping (HTML-ish boilerplate removal)
# --------------------------------------------------------------------------
_MARKUP_ENTITIES: tuple[tuple[str, str], ...] = (
    # standard decode order: ``&amp;`` LAST, so nested entities like
    # ``&amp;lt;`` decode to the literal text ``&lt;`` (one level) instead
    # of double-decoding to ``<``. Note decoded output may legitimately
    # contain markup-like text — strip_markup is a decode, not a sanitizer,
    # and is not idempotent on entity-bearing input by design.
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def strip_markup(col: Column | str) -> Column:
    """Boilerplate removal for scraped corpora: drop ``<script>``/``<style>``
    blocks wholesale, strip remaining tags, decode the five common HTML
    entities, collapse whitespace runs to single spaces, trim.

    Sequential ``regexp_replace`` passes — narrow, codegen'd, no Python.
    The tag patterns are RE2-safe (no backtracking constructs) so the same
    regexes run in the SQL oracle.
    """
    c = F.col(col) if isinstance(col, str) else col
    # non-greedy block removal; (?s) so blocks may span lines
    c = F.regexp_replace(c, r"(?si)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?si)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"<[^>]+>", " ")
    for entity, repl in _MARKUP_ENTITIES:
        c = F.replace(c, F.lit(entity), F.lit(repl))
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def bigram_pmi(
    df: DataFrame, text_col: str = "text", min_count: int = 5
) -> DataFrame:
    """Collocation mining: pointwise-mutual-information lift for every
    adjacent token bigram in the corpus — the signal behind multi-word
    expression detection ("new york"), tokenizer merge candidates, and
    boilerplate phrase discovery in training-data pipelines.

    ``lift = P(xy) / (P(x)·P(y))`` with ``P(xy) = c_xy/M`` over the M
    adjacent pairs and ``P(x) = c_x/N`` over the N unigram tokens; PMI is
    ``log2(lift)`` — monotone in the lift, so the lift itself is emitted
    and the cross-engine contract stays in exact-count + fixed-shape IEEE
    division territory (no transcendental functions): the expression is
    evaluated as ``(c_xy/M) / ((c_x/N)·(c_y/N))``, every operand an exact
    BIGINT-valued double, each step a correctly-rounded IEEE op in both
    engines, then rounded to 6.

    Scale shape: two explode→partial-agg→shuffle word counts (unigrams
    and bigrams — the bigram array is built with ``slice``+``transform``
    inside the row, no self-join), then the surviving ``min_count``-
    filtered bigram table joins the unigram vocabulary twice on its two
    words (keyed shuffles; AQE broadcasts the vocab side when it fits)
    and the two corpus totals arrive as broadcast 1-row aggregates.
    Nothing in the plan holds more than the vocabulary.

    → ``(w1, w2, n_joint, n_w1, n_w2, lift)``, bigrams with
    ``n_joint ≥ min_count``.
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: t != "")
    base = df.select(toks.alias("t"))
    uni = (
        base.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n_total = uni.agg(F.sum("c").cast("double").alias("n_tokens"))
    bi = (
        base.select(
            F.explode(
                F.transform(
                    F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
                    lambda x, i: F.struct(
                        x.alias("w1"), F.element_at(F.col("t"), i + 2).alias("w2")
                    ),
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_joint"))
    )
    m_total = bi.agg(F.sum("n_joint").cast("double").alias("m_pairs"))
    surviving = bi.where(F.col("n_joint") >= min_count)
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("n_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("n_w2"))
    n, m = F.col("n_tokens"), F.col("m_pairs")
    p_xy = F.col("n_joint").cast("double") / m
    p_x = F.col("n_w1").cast("double") / n
    p_y = F.col("n_w2").cast("double") / n
    return (
        surviving.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_total))
        .crossJoin(F.broadcast(m_total))
        .select(
            "w1",
            "w2",
            "n_joint",
            "n_w1",
            "n_w2",
            F.round(p_xy / (p_x * p_y), 6).alias("lift"),
        )
    )


def js_divergence_by_group(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Jensen-Shannon divergence of each group's token distribution from
    the CORPUS distribution — the bounded, symmetric domain-shift gauge
    behind mixture rebalancing and "which source drifted?" audits
    (complements ``drift_chi2``, whose chi-squared statistic is unbounded
    and blows up on rare-token tails).

    For group g with unigram distribution p and corpus distribution q,
    with m = (p+q)/2:

    ``JSD(g) = ½·KL(p‖m) + ½·KL(q‖m)``

    Every term OUTSIDE g's vocabulary has p=0 and contributes
    ``½·q·ln2``; those terms fold into the closed form
    ``½·ln2·(1 − Q_g)`` where ``Q_g`` is the corpus mass of g's
    vocabulary — so the join only ever touches (group, term) pairs that
    EXIST, never the group×vocab cross product.

    Numeric contract (the BM25 discipline): each in-vocabulary term's
    contribution — including its ``−½·q·ln2`` share of the closed form —
    is one fixed shape of IEEE ops rounded to 6 dp and summed as
    DECIMAL(18,6); the constant ``½·ln2`` joins once at the end. Output
    is integer micro-nats, hash-identical across engines.

    Scale shape: explode → (group, term) count (one shuffle, map-side
    combined) → term-keyed corpus rollup of THOSE counts (second shuffle,
    vocabulary-sized, no second scan) joined back by term; group totals
    and the corpus total ride in as broadcast aggregates. State is
    vocabulary-bounded; no windows, no driver loops.

    → ``(group, n_tokens, n_terms, jsd_micro)``, one row per group.
    """
    tf = (
        df.select(
            F.col(group_col).alias("grp"), F.explode(tokens(text_col)).alias("term")
        )
        .groupBy("grp", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    corpus = tf.groupBy("term").agg(F.sum("tf").cast("long").alias("ctf"))
    g_tot = tf.groupBy("grp").agg(F.sum("tf").cast("long").alias("n_g"))
    n_tot = tf.agg(F.sum("tf").cast("long").alias("n_all"))
    p = F.col("tf").cast("double") / F.col("n_g").cast("double")
    q = F.col("ctf").cast("double") / F.col("n_all").cast("double")
    ln2 = F.log(F.lit(2.0))
    contrib = F.round(
        F.lit(0.5)
        * (
            p * F.log(F.lit(2.0) * p / (p + q))
            + q * F.log(F.lit(2.0) * q / (p + q))
            - q * ln2
        ),
        6,
    ).cast("decimal(18,6)")
    return (
        tf.join(corpus, "term")
        .join(F.broadcast(g_tot), "grp")
        .crossJoin(F.broadcast(n_tot))
        .groupBy("grp")
        .agg(
            F.max("n_g").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            (
                (F.sum(contrib) * F.lit(1000000)).cast("long")
                + (
                    F.round(F.lit(0.5) * F.log(F.lit(2.0)), 6).cast(
                        "decimal(18,6)"
                    )
                    * F.lit(1000000)
                ).cast("long")
            ).alias("jsd_micro"),
        )
        .select(
            F.col("grp").alias(group_col), "n_tokens", "n_terms", "jsd_micro"
        )
    )


def token_entropy_by_group(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Shannon entropy of each group's unigram distribution — the
    lexical-diversity gauge a mixture curator reads next to token mass:
    a source can be huge and still near-zero-entropy (templated spam,
    log dumps), and entropy is what separates "much data" from "much
    signal". ``H = −Σ p·log2 p`` over the group's token distribution,
    plus ``H / log2(V)`` (normalized to [0,1] by the vocab's max
    entropy) so differently-sized vocabularies compare.

    Exactness (the ``unigram_logprob_score`` discipline): each token's
    ``p·log2 p`` term is rounded to 9 dp and cast to DECIMAL before the
    group sum, so the aggregate is order-independent and the SQL oracle
    hash-matches despite floating-point log; the final division is one
    fixed IEEE shape rounded to 6.

    Scale shape: one (group, token) keyed count with map-side partials —
    vocabulary-bounded state per group — then one group-keyed fold of
    the term table; no broadcast of anything corpus-sized.

    → ``(group, n_tokens, vocab_size, entropy, norm_entropy)``.
    """
    gt = (
        df.select(
            F.col(group_col).alias("group"),
            F.explode(tokens(text_col)).alias("token"),
        )
        .groupBy("group", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    totals = gt.groupBy("group").agg(
        F.sum("cnt").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
    )
    p = F.col("cnt").cast("double") / F.col("total").cast("double")
    term = F.round(p * F.log2(p), 9).cast("decimal(28,12)")
    return (
        gt.join(totals, "group")
        .groupBy("group")
        .agg(
            F.max("total").alias("n_tokens"),
            F.max("vocab_size").alias("vocab_size"),
            F.round(-F.sum(term).cast("double"), 6).alias("entropy"),
        )
        .withColumn(
            "norm_entropy",
            F.when(
                F.col("vocab_size") > 1,
                F.round(
                    F.col("entropy")
                    / F.log2(F.col("vocab_size").cast("double")),
                    6,
                ),
            ).otherwise(F.lit(0.0)),
        )
    )


def simpson_diversity(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Simpson diversity of each group's unigram distribution — the
    Hill-number-of-order-2 companion to
    :func:`token_entropy_by_group`'s Shannon gauge: entropy weights
    rare types, Simpson weights DOMINANT ones, so a source whose
    top-10 tokens carry half its mass scores low here long before
    entropy notices (repeat-rate is the collision probability two
    random tokens are equal).

    EXACTNESS — no log, so this one stays integer further than
    entropy: the unbiased repeat rate ``Σc(c−1)/(N(N−1))`` is
    quantized to micro-units by truncating DECIMAL(38,0) division
    (exact at any parallelism), and the effective-type count
    ``N²/Σc²`` (inverse Simpson) is ONE fixed double shape over exact
    integer sums, rounded to 6.

    Scale shape: identical to the entropy operator — one
    (group, token) keyed count with map-side partials
    (vocabulary-bounded state), one group-keyed fold. Scan + two
    shuffles at any corpus size.

    → ``(group, n_tokens, vocab_size, repeat_micro, hill2_types)``.
    """
    gt = (
        df.select(
            F.col(group_col).alias("group"),
            F.explode(tokens(text_col)).alias("token"),
        )
        .groupBy("group", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    d38 = "decimal(38,0)"
    m = gt.groupBy("group").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum((F.col("cnt") * (F.col("cnt") - 1)).cast(d38)).alias("__cc1"),
        F.sum((F.col("cnt") * F.col("cnt")).cast(d38)).alias("__c2"),
    )
    staged = m.withColumn(
        "__den",
        (F.col("n_tokens").cast(d38) * (F.col("n_tokens") - 1).cast(d38)),
    )
    repeat_micro = F.when(
        F.col("n_tokens") > 1,
        F.expr("CAST((__cc1 * 1000000) div __den AS BIGINT)"),
    ).otherwise(F.lit(0).cast("long"))
    hill2 = F.when(
        F.col("__c2") > 0,
        F.round(
            (
                F.col("n_tokens").cast("double")
                * F.col("n_tokens").cast("double")
            )
            / F.col("__c2").cast("double"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return staged.select(
        "group",
        "n_tokens",
        "vocab_size",
        repeat_micro.alias("repeat_micro"),
        hill2.alias("hill2_types"),
    )


def distinctive_terms(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    alpha_micro: int = 10_000,
    top_k: int = 5,
) -> DataFrame:
    """Distinctive vocabulary per group by the log-odds ratio with a
    Dirichlet prior (Monroe, Colaresi & Quinn 2008, public) — the
    "what words make THIS source different?" operator TF-IDF
    misanswers (TF-IDF rewards rarity; log-odds-with-prior rewards
    systematic overuse, z-scored so rare flukes don't rank).

    For each (group g, term w): delta = ln(y_gw + a_w) − ln(n_g + a0
    − y_gw − a_w) − ln(y_w' + a_w) + ln(n' + a0 − y_w' − a_w) with the
    rest-of-corpus counts y', and variance ≈ 1/(y_gw + a_w) +
    1/(y_w' + a_w); z = delta / sqrt(var). The prior a_w is the
    corpus term share scaled by ``alpha_micro/10⁶`` pseudo-counts.

    Determinism: z is one fixed IEEE shape over exact integer counts,
    rounded to 6; top-k per group picks by (z DESC, term ASC) — total
    order, oracle-replayable. Scale: two vocab-bounded keyed aggs +
    one broadcast totals row + one group-keyed top-k window.

    → ``(group, term, n_in_group, n_rest, z_score, rank)``.
    """
    gt = (
        df.select(
            F.col(group_col).alias("group"),
            F.explode(tokens(text_col)).alias("term"),
        )
        .groupBy("group", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("y_gw"))
    )
    tw = gt.groupBy("term").agg(F.sum("y_gw").cast("long").alias("y_w"))
    ng = gt.groupBy("group").agg(F.sum("y_gw").cast("long").alias("n_g"))
    tot = tw.agg(F.sum("y_w").cast("long").alias("n_all"))
    j = (
        gt.join(tw, "term")
        .join(ng, "group")
        .crossJoin(F.broadcast(tot))
    )
    a_scale = F.lit(alpha_micro).cast("double") / 1_000_000.0
    # prior proportional to corpus counts: a_w = scale * y_w, a0 = scale * n
    a_w = a_scale * F.col("y_w").cast("double")
    a0 = a_scale * F.col("n_all").cast("double")
    y_gw = F.col("y_gw").cast("double")
    y_rest = (F.col("y_w") - F.col("y_gw")).cast("double")
    n_g = F.col("n_g").cast("double")
    n_rest = (F.col("n_all") - F.col("n_g")).cast("double")
    delta = (
        F.log(y_gw + a_w)
        - F.log(n_g + a0 - y_gw - a_w)
        - F.log(y_rest + a_w)
        + F.log(n_rest + a0 - y_rest - a_w)
    )
    var = 1.0 / (y_gw + a_w) + 1.0 / (y_rest + a_w)
    z = F.round(delta / F.sqrt(var), 6)
    scored = j.select(
        "group",
        "term",
        F.col("y_gw").alias("n_in_group"),
        (F.col("y_w") - F.col("y_gw")).cast("long").alias("n_rest"),
        z.alias("z_score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("group").orderBy(
        F.col("z_score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= top_k)
    )


def zipf_fit(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    top_n: int = 100,
) -> DataFrame:
    """Zipf-law fit per group: OLS slope of ln(count) on ln(rank) over
    the top-N terms — natural text runs slope ≈ −1 (Zipf 1949,
    public); templated/spam sources bend flat (every term equally
    common) or cliff-steep (a handful of tokens dominate), so the
    exponent is a one-number corpus-naturalness gauge next to
    entropy/Simpson.

    Determinism: ranks come from the (count DESC, term ASC) total
    order; each ln is rounded to 9 dp and the OLS moments are summed
    as DECIMAL (the entropy discipline — order-independent despite
    libm), and the slope/intercept/r² are fixed double shapes rounded
    to 6. ``top_n`` bounds the fit (rank window over vocab-bounded
    per-group counts).

    → ``(group, n_terms_fit, zipf_slope, zipf_intercept, r2)``.
    """
    from pyspark.sql import Window

    gt = (
        df.select(
            F.col(group_col).alias("group"),
            F.explode(tokens(text_col)).alias("term"),
        )
        .groupBy("group", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = Window.partitionBy("group").orderBy(
        F.col("cnt").desc(), F.col("term").asc()
    )
    ranked = (
        gt.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= top_n)
    )
    # DECIMAL(18,9): the 9dp log terms fit, and (18,9)x(18,9) products
    # keep full scale inside precision 38 on BOTH engines — a (28,12)
    # term made Spark round the product at a different scale than
    # DuckDB (caught by the first parity run at the 6th decimal)
    lx = F.round(F.log(F.col("rank").cast("double")), 9).cast("decimal(18,9)")
    ly = F.round(F.log(F.col("cnt").cast("double")), 9).cast("decimal(18,9)")
    m = ranked.select(
        "group", lx.alias("x"), ly.alias("y")
    ).groupBy("group").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_fit"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n_terms_fit").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    den = n * sxx - sx * sx
    slope = F.when(den > 0, (n * sxy - sx * sy) / den).otherwise(F.lit(0.0))
    intercept = (sy - slope * sx) / n
    r2_den = (n * sxx - sx * sx) * (n * syy - sy * sy)
    r2 = F.when(
        r2_den > 0,
        ((n * sxy - sx * sy) * (n * sxy - sx * sy)) / r2_den,
    ).otherwise(F.lit(0.0))
    return m.select(
        "group",
        "n_terms_fit",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
        F.round(r2, 6).alias("r2"),
    )


def char_entropy(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    low_threshold: float = 2.0,
) -> DataFrame:
    """Per-document CHARACTER-level Shannon entropy — the gibberish /
    keyboard-mash / base64-blob detector that token-level signals miss
    (a blob is ONE token; its characters still give it away: natural
    English runs ~4.0-4.4 bits/char, 'aaaa…' near 0, uniform random
    bytes near 8). The flag column gates the obvious degenerates.

    Exactness (the entropy discipline, doc-grain): per (doc, char)
    counts are exact; each p·log2 p term is rounded to 9 dp and summed
    as DECIMAL so the per-doc fold is order-independent; the final
    entropy is rounded to 6.

    Scale: the char explode is length×rows — scan-linear, shuffled on
    (doc, char) with map-side partials (≤ alphabet-size state per
    doc), then one doc-keyed fold.

    → ``(id, n_chars, n_distinct_chars, char_entropy, is_low_entropy)``.
    """
    dc = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), "")).alias("ch"),
        )
        .where(F.col("ch") != "")
        .groupBy("id", "ch")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    totals = dc.groupBy("id").agg(
        F.sum("cnt").cast("long").alias("n_chars"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
    )
    p = F.col("cnt").cast("double") / F.col("n_chars").cast("double")
    # EXPLICIT ln ratio, never log2(): Spark's log2 is ln/ln2 while
    # DuckDB's is native — they disagreed at the 9dp rounding boundary
    # on exactly one sf0.1 doc (the degree_assortativity lesson,
    # re-learned at doc grain where 200k rounded terms buy more
    # collision lottery tickets)
    term = F.round(p * (F.log(p) / F.log(F.lit(2.0))), 9).cast(
        "decimal(28,12)"
    )
    ent = (
        dc.join(totals, "id")
        .groupBy("id")
        .agg(
            F.max("n_chars").alias("n_chars"),
            F.max("n_distinct_chars").alias("n_distinct_chars"),
            # NO final 6dp round: the exact DECIMAL term sum casts to
            # the same double on both engines, while round(x, 6) hit a
            # perfect half tie (sum = -4.1438415 on one sf0.1 doc —
            # Spark HALF_UPs the shortest decimal, DuckDB rounds the
            # binary double, and they split). The value is already
            # 9dp-quantized by the term rounding.
            (-F.sum(term)).cast("double").alias("char_entropy"),
        )
    )
    return ent.withColumn(
        "is_low_entropy", F.col("char_entropy") < F.lit(float(low_threshold))
    )
