"""Small relational operators the reference exposes ad hoc.

Capability parity (SURVEY.md §2.4 A5, §2.6 O2):

- word count — reference does RDD ``map/flatMap/reduceByKey``
  (``Utilities.py:30-36``); here ``split`` + ``explode`` + ``groupBy().count()``
  stays in Tungsten with map-side partial aggregation;
- top-k per group — the reference's only top-k is the k=1 window filter in
  CDC (``change_data_capture.py:26-28``); generalized to any k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def word_count(
    df: DataFrame, text_col: str, pattern: str = r"\s+", lowercase: bool = True
) -> DataFrame:
    """Token frequency over a text column → (word, cnt).

    Catalyst plan: project(split) → explode → partial hash agg → shuffle on
    word → final agg. At 100 TB the partial agg collapses the heavy explode
    fan-out before the shuffle — same shape ``reduceByKey`` promised, plus
    codegen.
    """
    text = F.col(text_col)
    if lowercase:
        text = F.lower(text)
    words = df.select(F.explode(F.split(text, pattern)).alias("word")).where(
        F.col("word") != ""
    )
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


def top_k_per_group(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[Column | str],
    k: int = 1,
    rank_col: str = "rank",
    keep_rank: bool = False,
    method: str = "row_number",
) -> DataFrame:
    """Top-k rows per group via window ranking.

    ``method`` ∈ {row_number, rank, dense_rank} — the reference only ever
    uses row_number (W1); rank/dense_rank exposed per SURVEY §2.5 gap note.
    """
    rankers = {"row_number": F.row_number, "rank": F.rank, "dense_rank": F.dense_rank}
    ranker = rankers[method]
    order = [F.desc(c) if isinstance(c, str) else c for c in order_cols]
    win = Window.partitionBy(*partition_cols).orderBy(*order)
    out = df.withColumn(rank_col, ranker().over(win)).where(F.col(rank_col) <= k)
    return out if keep_rank else out.drop(rank_col)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    how: str = "inner",
    salt_factor: int = 8,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Skew-mitigated equi-join: identical semantics to ``big.join(small,
    on, how)``, but hot keys no longer funnel into one reducer.

    The big side gets a deterministic salt = xxhash64(row-of-join-keys +
    uniquifying columns) mod ``salt_factor``; the small side is replicated
    ``salt_factor``× (explode of a literal range). The join key becomes
    (keys..., salt), so a key that used to land on one partition now
    spreads over ``salt_factor`` partitions. Deterministic (hash salt, not
    rand()) → reproducible plans and retry-safe tasks.

    Use when AQE's runtime skew-join splitting isn't available or the skew
    is in an aggregation-feeding join it can't rebalance; cost = small side
    inflated ``salt_factor``×, so keep the small side small. ``how``
    supports inner/left — semantics preserved because every big-side row
    carries exactly one salt and meets the full small side for its key.

    ``salt_cols`` picks which big-side columns feed the salt hash — any
    per-row-varying subset works (the result is identical for EVERY salt
    assignment, since the small side carries all salts per key). Pass one
    cheap high-cardinality column (an id) to avoid hashing wide payload
    columns per row; default hashes all columns.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    cols = salt_cols if salt_cols is not None else big.columns
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(salt_factor))
    big_s = big.withColumn("_salt", salt)
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_factor - 1)))
    )
    out = big_s.join(small_s, [*on, "_salt"], how)
    return out.drop("_salt")


def approx_quantiles_profile(
    df: DataFrame, column: str, probabilities: list[float], accuracy: int = 10000
) -> DataFrame:
    """Approximate quantiles via the Greenwald-Khanna sketch
    (``percentile_approx``): mergeable partial sketches → one shuffle of
    sketch state, never of data. Exact percentiles at 100 TB would sort
    the column; this reads it once."""
    return df.agg(
        F.percentile_approx(
            column, probabilities, accuracy
        ).alias("quantiles")
    )


def bloom_prefilter(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 3,
) -> DataFrame:
    """Bloom-filter semi-join pruning: drop big-side rows whose key cannot
    be in ``small`` BEFORE the join shuffle.

    The filter is built as a distinct set of bit positions (k deterministic
    xxhash64 seeds mod m) collected from the small side and broadcast as an
    array literal via a join-free ``isin``-style membership check — here
    realized as a broadcast join against the distinct positions table, so
    nothing is collected to the driver. False positives pass (and are
    eliminated by the real join later); false negatives cannot happen, so
    ``bloom_prefilter(...).join(small)`` ≡ ``big.join(small)``.

    At 100 TB this is the classic shuffle-volume reducer for selective
    joins: the big side sheds non-matching rows at scan time instead of
    carrying them through the exchange. Spark's runtime bloom
    (`spark.sql.optimizer.runtime.bloomFilter.enabled`) does this
    automatically for some shapes; the explicit operator covers the rest
    (pre-aggregated keys, reused filters, cross-job pruning).
    """
    def positions(key_col: Column, seed: int) -> Column:
        return F.pmod(F.xxhash64(key_col, F.lit(seed)), F.lit(num_bits))

    bits = None
    for s in range(num_hashes):
        p = small.select(positions(F.col(small_key), s).alias("bit"))
        bits = p if bits is None else bits.unionByName(p)
    bits = bits.distinct()

    out = big
    for s in range(num_hashes):
        out = out.join(
            F.broadcast(bits.withColumnRenamed("bit", f"_b{s}")),
            positions(F.col(big_key), s) == F.col(f"_b{s}"),
            "left_semi",
        )
    return out


def gap_fill_daily(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
) -> DataFrame:
    """Daily time-series completion with forward fill.

    Aggregates ``val_col`` per (key, day), generates the full calendar
    between each key's first and last day (``sequence`` + ``explode`` — a
    narrow generator, no driver loop), left-joins the observed days back,
    and forward-fills missing days with the last observed value (``last``
    with ``ignorenulls`` over an unbounded-preceding window).

    → ``(key, day, value, filled)`` where ``filled`` marks synthesized
    days. Scale shape: one shuffle for the daily aggregate, one for the
    calendar join (both keyed the same), one window per key ordered by
    day — the calendar explode adds at most rows-per-day × key-span rows,
    independent of the raw event volume.
    """
    from pyspark.sql import Window

    daily = df.groupBy(
        F.col(key_col).alias("key"), F.to_date(ts_col).alias("day")
    ).agg(F.sum(F.col(val_col).cast("decimal(18,4)")).cast("double").alias("v"))
    cal = (
        daily.groupBy("key")
        .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select("key", F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    joined = cal.join(daily, ["key", "day"], "left")
    w = Window.partitionBy("key").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return joined.select(
        "key",
        "day",
        F.last("v", ignorenulls=True).over(w).alias("value"),
        F.col("v").isNull().alias("filled"),
    )


def rolling_daily_mean(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Trailing ``window_days``-day moving average per key, computed on a
    DAILY pre-aggregate: collapse events to (key, day, decimal-exact sum,
    count) first — one keyed shuffle over data that shrinks to
    keys × days — then run a RANGE window over the integer day offset, so
    gaps in the calendar still cover exactly ``window_days`` real days
    (a ROWS frame would silently span gaps).

    The rolling mean divides the windowed decimal sum by the windowed
    count (identical float op on every engine). → (key, day, n, mean).
    """
    day = F.to_date(ts_col)
    daily = (
        df.groupBy(F.col(key_col).alias("key"), day.alias("day"))
        .agg(
            F.sum(F.col(value_col).cast("decimal(18,4)")).alias("s"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    epoch_day = F.datediff(F.col("day"), F.lit("1970-01-01"))
    w = (
        Window.partitionBy("key")
        .orderBy(epoch_day)
        .rangeBetween(-(window_days - 1), 0)
    )
    return daily.select(
        "key",
        "day",
        "n",
        F.round(
            F.sum("s").over(w).cast("double") / F.sum("n").over(w).cast("double"), 6
        ).alias("mean"),
    )


def iqr_outliers(
    df: DataFrame, key_col: str, value_col: str, k: float = 1.5
) -> DataFrame:
    """Tukey-fence outlier profile per key: bounds = Q1 − k·IQR / Q3 +
    k·IQR (exact percentiles, rounded to 6 dp so the fence compare is
    engine-portable), plus how many values fall outside.

    Two aggregations, both one shuffle on the key: the quantile pass
    produces a per-key bounds table (broadcast back), the count pass
    classifies. At 100 TB swap the exact percentile for
    ``approx_percentile`` (same contract — see approx_quantiles_profile).

    → (key, n_total, n_outliers, lo, hi).
    """
    bounds = df.groupBy(F.col(key_col).alias("key")).agg(
        F.expr(f"percentile({value_col}, 0.25)").alias("q1"),
        F.expr(f"percentile({value_col}, 0.75)").alias("q3"),
    )
    bounds = bounds.select(
        "key",
        F.round(F.col("q1") - k * (F.col("q3") - F.col("q1")), 6).alias("lo"),
        F.round(F.col("q3") + k * (F.col("q3") - F.col("q1")), 6).alias("hi"),
    )
    tagged = df.join(
        F.broadcast(bounds), F.col(key_col) == F.col("key"), "inner"
    )
    out_of_fence = (F.col(value_col) < F.col("lo")) | (
        F.col(value_col) > F.col("hi")
    )
    return tagged.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(out_of_fence.cast("long")).cast("long").alias("n_outliers"),
        F.first("lo").alias("lo"),
        F.first("hi").alias("hi"),
    )


def winsorize(
    df: DataFrame,
    key_col: str,
    value_col: str,
    lo_q: float = 0.01,
    hi_q: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorize ``value_col`` per key: clamp values below the ``lo_q``
    quantile / above the ``hi_q`` quantile to those bounds — the standard
    robust-stats move before mean/σ-based features meet heavy tails.

    Same shape as :func:`iqr_outliers`: one quantile pass producing a
    per-key bounds table (tiny → broadcast back), one clamp projection.
    Bounds are rounded to 6 dp so the clamped output is engine-portable.
    At 100 TB swap the exact percentile for ``approx_percentile``.
    """
    out_col = out_col or f"{value_col}_wins"
    bounds = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.round(F.expr(f"percentile({value_col}, {lo_q})"), 6).alias("__lo"),
        F.round(F.expr(f"percentile({value_col}, {hi_q})"), 6).alias("__hi"),
    )
    clamped = F.least(F.greatest(F.col(value_col), F.col("__lo")), F.col("__hi"))
    return (
        df.join(F.broadcast(bounds), F.col(key_col) == F.col("__k"), "inner")
        .withColumn(out_col, clamped)
        .drop("__k", "__lo", "__hi")
    )


def chi2_drift(
    df: DataFrame,
    value_col: str,
    split_col: Column,
    edges: list[float],
) -> DataFrame:
    """Distribution-drift detector between two corpus slices (schema- and
    engine-portable alternative to PSI — the chi-square statistic uses
    only +,*,/ so no libm log enters the hash-checked output).

    ``split_col`` must be a boolean Column marking the *reference* slice;
    rows are bucketed by ``edges`` (right-open; underflow → bucket 0,
    overflow → last bucket). Per bucket: reference share ``p``, current
    share ``q``, and contribution ``(q - p)^2 / p``. Σ contribution is
    the chi-square drift statistic; per-bucket rows localize *where* the
    distributions diverge (the actionable part for corpus monitoring).

    Single pass: one bucket-keyed agg with conditional counts (map-side
    combined), totals via a 1-row broadcast — no second scan, no window.
    """
    v = F.col(value_col).cast("double")
    bucket: Column = F.lit(0)
    for i, e in enumerate(edges):
        bucket = F.when(v >= F.lit(float(e)), F.lit(i + 1)).otherwise(bucket)
    # NULL values get a DEDICATED bucket (-1) rather than silently
    # falling through the NULL comparisons into bucket 0 (the
    # psi_drift missingness discipline).
    bucket = F.when(v.isNull(), F.lit(-1)).otherwise(bucket)
    is_ref = split_col
    per_bucket = df.select(
        bucket.alias("bucket"), is_ref.alias("is_ref")
    ).groupBy("bucket").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).cast("long").alias("n_ref"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).cast("long").alias("n_cur"),
    )
    # totals as a window over the POST-AGG bucket table (bucket-cardinality
    # rows) — a second aggregate branch would rescan the corpus for the
    # same counts (the mixture_rates lesson; plan-asserted)
    full = Window.partitionBy()
    tot_ref = F.sum("n_ref").over(full).cast("double")
    tot_cur = F.sum("n_cur").over(full).cast("double")
    p = F.col("n_ref").cast("double") / tot_ref
    q = F.col("n_cur").cast("double") / tot_cur
    contrib = F.when(p > 0, (q - p) * (q - p) / p).otherwise(F.lit(0.0))
    return per_bucket.select(
        "bucket",
        "n_ref",
        "n_cur",
        F.round(p, 6).alias("p_ref"),
        F.round(q, 6).alias("q_cur"),
        F.round(contrib, 6).alias("chi2_contrib"),
    )


def skew_profile(
    df: DataFrame,
    key_cols: list[str],
    partitions: int = 200,
    hot_threshold: float = 2.0,
) -> DataFrame:
    """Join/agg-key skew diagnostic: per-key row counts, share of total,
    the ratio to a perfectly-uniform partition load, and the salt factor
    that would spread the key back to ~uniform.

    For each key: ``skew_ratio = n_rows * partitions / total`` (1.0 ⇒ the
    key fills exactly one average partition); keys with ``skew_ratio >=
    hot_threshold`` are flagged hot and get ``salt_factor =
    ceil(skew_ratio)`` — the ``salt_factor`` to hand
    :func:`salted_join` / repartition salting. Everything is integer/
    rational arithmetic (engine-portable, hash-checkable).

    One keyed count agg (map-side combined) + a 1-row totals broadcast —
    the profile itself never shuffles more than key-cardinality rows, so
    it's safe to run on a 100 TB fact table before every big join.
    """
    counts = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    total = counts.agg(F.sum("n_rows").cast("double").alias("total"))
    ratio = (
        F.col("n_rows").cast("double")
        * F.lit(float(partitions))
        / F.col("total")
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            *key_cols,
            "n_rows",
            F.round(F.col("n_rows").cast("double") / F.col("total"), 6).alias("share"),
            F.round(ratio, 6).alias("skew_ratio"),
            (ratio >= F.lit(float(hot_threshold))).alias("is_hot"),
            F.when(ratio >= F.lit(float(hot_threshold)), F.ceil(ratio))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("salt_factor"),
        )
    )


def fuzzy_join_blocked(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    max_distance: int = 2,
    gram: int = 3,
) -> DataFrame:
    """Scalable fuzzy (edit-distance) join via q-gram blocking: instead of
    the O(N×M) cross join, each side explodes its key into character
    ``gram``-grams, candidates meet on an EQUI join over shared grams
    (strings within edit distance d share at least one q-gram when
    ``len >= q·(d+1)``), duplicate pairs are killed by the stateless
    first-shared-gram rule (the lexicographically smallest common gram —
    no DISTINCT shuffle), and the exact levenshtein verify runs only on
    candidates.

    The q-gram guarantee needs ``len >= gram·(max_distance+1)``; SHORTER
    keys are routed through one shared whole-population sentinel block
    (keys with ``len < gram·(d+1) + d`` carry it, since a valid partner of
    a short key can be at most ``d`` longer), so short-key matches are
    never silently dropped. The sentinel block is a bounded mini
    cross-join over the short-key rows only — cheap when short keys are
    rare, and LOUD in the plan (one hot join key) when they are not;
    pre-filter or lengthen keys if your corpus is dominated by them.

    → left row + right row + ``dist``. At 100 TB the shuffle carries
    (gram, row) pairs — O(rows × key_len) — versus the cross join's
    O(N×M) comparisons; frequency-skewed grams behave like any hot join
    key (salt or AQE-skew them).
    """
    cutoff = gram * (max_distance + 1)
    ext = cutoff + max_distance  # short-partner reach: len(short) + d
    sentinel = ""  # real grams are non-empty, so '' cannot collide

    # substring with a per-element start position needs the SQL lambda form
    def gram_array(col: str) -> Column:
        return F.array_distinct(
            F.expr(
                f"transform(sequence(1, greatest(length({col}) - {gram - 1}, 1)), "
                f"i -> substring({col}, i, {gram}))"
            )
        )

    def block_array(col: str) -> Column:
        ln = F.length(F.col(col))
        grams_ = gram_array(col)
        sent = F.array(F.lit(sentinel))
        return (
            F.when(ln < cutoff, sent)  # guarantee void: sentinel only
            .when(ln < ext, F.array_union(grams_, sent))  # both worlds
            .otherwise(grams_)
        )

    l = left.select(
        *[F.col(c) for c in left.columns], F.explode(block_array(left_key)).alias("__g")
    )
    r = right.select(
        *[F.col(c) for c in right.columns],
        F.explode(block_array(right_key)).alias("__g"),
    )
    # stateless pair dedup: a pair meeting in several blocks is kept only
    # at its canonical one — the sentinel when both sides carry it, else
    # the lexicographically smallest shared gram
    both_sent = (F.length(F.col(left_key)) < ext) & (
        F.length(F.col(right_key)) < ext
    )
    first_shared = F.when(both_sent, F.lit(sentinel)).otherwise(
        F.array_min(F.array_intersect(gram_array(left_key), gram_array(right_key)))
    )
    dist = F.levenshtein(F.col(left_key), F.col(right_key))
    return (
        l.join(r, "__g")
        .where((F.col("__g") == first_shared) & (dist <= max_distance))
        .drop("__g")
        .withColumn("dist", dist.cast("long"))
    )


def grid_nearby_join(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    radius: float,
    cell: float | None = None,
) -> DataFrame:
    """All point pairs within Euclidean ``radius`` — the spatial
    nearby-join — without a cross join: each point is replicated to its
    3×3 neighborhood of grid cells (``cell >= radius`` guarantees any
    within-radius pair shares one of those cells), the join is an EQUI
    join of replicated-side cell vs home cell, and the exact distance
    check filters corner cases. Each qualifying pair emerges exactly
    once: the home cell is unique, and ``id_a < id_b`` keeps one
    orientation.

    → (id_a, id_b, dist_sq). Distance is squared (pure arithmetic — no
    sqrt, engine-portable). Shuffle volume is 9× the points, versus the
    cross join's N²; density per cell is the skew knob (shrink ``cell``
    toward ``radius`` in dense regions).
    """
    c = float(cell if cell is not None else radius)
    if c < radius:
        raise ValueError("cell must be >= radius for the 3x3 guarantee")

    def cell_id(x: Column, y: Column) -> Column:
        return F.floor(x / c).cast("long") * F.lit(1_000_003) + F.floor(
            y / c
        ).cast("long")

    home = points.select(
        F.col(id_col).alias("id_b"),
        F.col(x_col).alias("xb"),
        F.col(y_col).alias("yb"),
        cell_id(F.col(x_col), F.col(y_col)).alias("__cell"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    repl = points.select(
        F.col(id_col).alias("id_a"),
        F.col(x_col).alias("xa"),
        F.col(y_col).alias("ya"),
        F.explode(offsets).alias("o"),
    ).select(
        "id_a",
        "xa",
        "ya",
        (
            cell_id(F.col("xa"), F.col("ya"))
            + F.col("o.dx").cast("long") * F.lit(1_000_003)
            + F.col("o.dy").cast("long")
        ).alias("__cell"),
    )
    dist_sq = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        repl.join(home, "__cell")
        .where((F.col("id_a") < F.col("id_b")) & (dist_sq <= F.lit(radius * radius)))
        .select("id_a", "id_b", F.round(dist_sq, 6).alias("dist_sq"))
    )


def debounce(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    gap_seconds: int,
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """Leading-edge event debounce: per key, keep an event iff the
    previous RAW event is more than ``gap_seconds`` older (or absent) —
    i.e. the first event of every gap-delimited burst, with suppression
    holding through a dense burst of any length (events 0s, 4s, 8s, 12s
    at gap=5 keep only the first: each row's predecessor is 4s away).
    The telemetry/alert-storm/duplicate-webhook filter.

    ``tie_cols`` breaks equal-timestamp order deterministically (pass
    the id column). Timestamps compare at WHOLE-second granularity
    (epoch seconds, matching the SQL twin's ``epoch_us // 1_000_000``).

    Scale shape: one keyed window (same partitioning as sessionization);
    per-key partitions, no global sort. → input rows, filtered.
    """
    w = Window.partitionBy(*key_cols).orderBy(ts_col, *(tie_cols or []))
    prev = F.lag(F.col(ts_col).cast("long")).over(w)
    keep = prev.isNull() | (
        (F.col(ts_col).cast("long") - prev) > F.lit(int(gap_seconds))
    )
    return (
        df.withColumn("__keep", keep).where(F.col("__keep")).drop("__keep")
    )


def transition_counts(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    state_col: str,
) -> DataFrame:
    """First-order Markov transition matrix over per-key event sequences.

    For every key's events in ``order_cols`` order, count consecutive
    (from_state → to_state) pairs and normalize each row of the matrix:
    ``p = n / Σ n over from_state`` — the empirical next-event
    distribution behind sequence mining, predictive prefetch, and
    user-journey analysis (the reference's closest surface is the
    window-ordered CDC snapshot; this generalizes the lag pattern to
    transitions).

    Scale shape: one keyed window (``lag`` partitioned by ``key_col`` —
    same partitioning as sessionization, no global sort), then a
    partial-aggregated groupBy onto a |states|² matrix. The normalizing
    window runs on that matrix, whose size is vocabulary-bounded and
    independent of the event volume, so the plan at 100 TB is one event
    shuffle + one tiny window. The ratio is a single IEEE division of
    exact BIGINT counts, rounded to 6 — bit-identical across engines.

    NULL states are dropped BEFORE the lag (ADVICE r05): a NULL
    interior event neither emits a transition nor breaks the chain —
    ``a, NULL, b`` counts one ``a→b`` pair, never an ``a→NULL`` row.

    → ``(from_state, to_state, n, p)``.
    """
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    prev = F.lag(F.col(state_col)).over(w)
    pairs = (
        df.where(F.col(state_col).isNotNull())
        .select(
            prev.alias("from_state"), F.col(state_col).alias("to_state")
        )
        .where(F.col("from_state").isNotNull())
    )
    counts = pairs.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    row_w = Window.partitionBy("from_state")
    return counts.select(
        "from_state",
        "to_state",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(row_w).cast("double"), 6
        ).alias("p"),
    )


def time_weighted_mean(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    group_col: str,
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """Interval-weighted (time-weighted) average of an irregular series.

    Each observation holds until the key's NEXT observation (LOCF
    weighting, the TimescaleDB ``time_weight('LOCF')`` convention): its
    weight is the gap in whole seconds to the next event, and the key's
    final observation carries no weight. Aggregated per ``group_col``:
    ``twa = Σ(value·dt) / Σ(dt)`` — the correct mean for sensor /
    price / telemetry streams where sampling density varies, where a
    plain AVG over-weights chatty periods.

    Numeric contract: values accumulate as DECIMAL(18,4) × BIGINT
    seconds (exact), the final ratio is one IEEE double division,
    rounded to 6 — replays bit-identically in the SQL oracle.

    NULL-valued observations are dropped BEFORE the lead window
    (ADVICE r05): a NULL reading neither contributes value nor interval
    — the previous observation holds THROUGH it to the next non-null
    one, so the denominator never accumulates weight for a value that
    doesn't exist (which would bias the LOCF mean toward zero).

    Scale shape: one keyed window (``lead`` over ``key_col`` — no global
    sort), then a partial-aggregated groupBy onto |groups| rows.

    → ``(group, n_intervals, total_seconds, twa)``.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, *(tie_cols or []))
    dt = F.lead(F.col(ts_col).cast("long")).over(w) - F.col(ts_col).cast("long")
    weighted = (
        df.where(F.col(value_col).isNotNull())
        .select(
            F.col(group_col).alias("group"),
            F.col(value_col).cast("decimal(18,4)").alias("v"),
            dt.alias("dt"),
        )
        .where(F.col("dt").isNotNull())
    )
    return weighted.groupBy("group").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum("dt").cast("long").alias("total_seconds"),
        F.round(
            F.sum(F.col("v") * F.col("dt")).cast("double")
            / F.sum("dt").cast("double"),
            6,
        ).alias("twa"),
    )


def interpolate_linear(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
) -> DataFrame:
    """Daily gap filling with LINEAR interpolation (the companion to
    :func:`gap_fill_daily`'s forward fill, TimescaleDB's
    ``interpolate()``): missing days between a key's first and last
    observed day take the straight line between the surrounding
    observations, ``v = prev + (next − prev) · elapsed/span``.

    Same grid construction as :func:`gap_fill_daily` (per-key daily
    decimal-exact aggregate, ``sequence``-exploded calendar, keyed
    left join), then two keyed windows find the nearest observed value
    and day on each side. Grid endpoints are observed by construction,
    so the interpolation expression never sees a null neighbor. The
    arithmetic is a fixed chain of IEEE double ops (sub, div, mul, add
    in one shape), rounded to 6 — deterministic across engines.

    Scale shape: identical to ``gap_fill_daily`` — daily pre-aggregate
    shuffle, calendar join on the same key, two keyed windows; grid size
    is keys × day-span, independent of raw event volume.

    → ``(key, day, value, filled)``.
    """
    daily = df.groupBy(
        F.col(key_col).alias("key"), F.to_date(ts_col).alias("day")
    ).agg(F.sum(F.col(val_col).cast("decimal(18,4)")).cast("double").alias("v"))
    cal = (
        daily.groupBy("key")
        .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select("key", F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    joined = cal.join(daily, ["key", "day"], "left")
    back = Window.partitionBy("key").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    fwd = Window.partitionBy("key").orderBy("day").rowsBetween(
        0, Window.unboundedFollowing
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    prev_v = F.last("v", ignorenulls=True).over(back)
    prev_d = F.last(obs_day, ignorenulls=True).over(back)
    next_v = F.first("v", ignorenulls=True).over(fwd)
    next_d = F.first(obs_day, ignorenulls=True).over(fwd)
    frac = F.datediff(F.col("day"), prev_d).cast("double") / F.datediff(
        next_d, prev_d
    ).cast("double")
    interp = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        prev_v + (next_v - prev_v) * frac
    )
    return joined.select(
        "key",
        "day",
        F.round(interp, 6).alias("value"),
        F.col("v").isNull().alias("filled"),
    )


def pareto_frontier_2d(
    df: DataFrame,
    cost_col: str,
    gain_col: str,
    rank_partitions: int | None = None,
) -> DataFrame:
    """2-D Pareto frontier (skyline): rows not dominated by any other —
    no row with ``cost ≤`` AND ``gain ≥`` that is strictly better on at
    least one axis. Classic price/quality shortlisting; the naive
    formulation is an O(n²) NOT EXISTS self-join (that IS the oracle
    twin), this is the O(n log n) distributed sweep.

    Algorithm: collapse to the best gain per distinct cost (one keyed
    agg), then a TWO-LEVEL prefix-max over the cost order — the same
    shape as ``build_vocab``'s ranking: ``repartitionByRange`` on cost,
    per-range running max in parallel, per-range totals prefix-maxed via
    a triangular broadcast self-join and added back as offsets. A cost
    survives iff its best gain strictly beats the running max over all
    strictly-lower costs; the original rows then rejoin on
    (cost, gain == best). Never a single-partition window, whatever the
    distinct-cost cardinality.

    The range partitioning is ``localCheckpoint``-pinned before the two
    consuming branches for the same reason documented in
    ``build_vocab``: both branches must provably see one partitioning —
    a re-evaluated ``repartitionByRange`` may sample non-identical
    boundaries, giving the branches inconsistent ``__pid`` values and a
    wrong frontier.

    Ties: equal (cost, gain) duplicates are mutually non-dominating and
    all survive — matching the NOT EXISTS oracle exactly.
    """
    spark = df.sparkSession
    n_part = rank_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    per_cost = df.groupBy(F.col(cost_col).alias("__cost")).agg(
        F.max(F.col(gain_col)).alias("__best")
    )
    ranged = per_cost.repartitionByRange(
        n_part, F.col("__cost")
    ).withColumn("__pid", F.spark_partition_id())
    ranged = ranged.localCheckpoint(eager=True)
    lw = (
        Window.partitionBy("__pid")
        .orderBy("__cost")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.withColumn("__lmax", F.max("__best").over(lw))
    per_range = ranged.groupBy("__pid").agg(F.max("__best").alias("__m"))
    earlier = per_range.select(
        F.col("__pid").alias("__epid"), F.col("__m").alias("__em")
    )
    offsets = (
        per_range.join(
            F.broadcast(earlier), F.col("__epid") < F.col("__pid"), "left"
        )
        .groupBy("__pid")
        .agg(F.max("__em").alias("__omax"))
    )
    prev_max = F.greatest(
        F.coalesce("__lmax", F.lit(None)), F.coalesce("__omax", F.lit(None))
    )
    frontier = (
        local.join(F.broadcast(offsets), "__pid")
        .where(prev_max.isNull() | (F.col("__best") > prev_max))
        .select("__cost", "__best")
    )
    return df.join(
        frontier,
        (F.col(cost_col) == F.col("__cost")) & (F.col(gain_col) == F.col("__best")),
    ).drop("__cost", "__best")


def rfm_segments(
    df: DataFrame,
    cust_col: str,
    date_col: str,
    amount_col: str,
) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation — the
    classic customer-value model: score each customer 1–4 on how recently
    they ordered, how often, and how much, then label the segment.

    Scale shape — deliberately NO global ranking window (an ``ntile``
    over all customers would be a single-task sort at 100 TB): one keyed
    shuffle builds the per-customer (recency, frequency, monetary)
    aggregate, exact quartile BOUNDARIES come from one ``percentile``
    aggregation over that table, and both the corpus max-date and the
    boundary row arrive as broadcast 1-row cross joins. Scores are three
    boundary comparisons per row — embarrassingly parallel.

    Numeric contract: recency is whole days (BIGINT), frequency BIGINT,
    monetary in exact CENTS (decimal sum × 100 → BIGINT), so the
    quarter-fraction linear interpolation inside ``percentile`` /
    ``quantile_cont`` is exact in binary and the boundary doubles are
    bit-identical across engines (same argument as ``group_quantiles``).
    Higher score = better: recency scores on the NEGATED day count.

    → ``(cust, recency_days, frequency, monetary_cents, r, f, m,
    segment)`` with segment the 3-digit string ``rfm``.
    """
    per_cust = df.groupBy(F.col(cust_col).alias("cust")).agg(
        F.max(F.col(date_col)).alias("__last"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        (F.sum(F.col(amount_col).cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("monetary_cents"),
    )
    corpus_max = df.agg(F.max(F.col(date_col)).alias("__gmax"))
    base = (
        per_cust.crossJoin(F.broadcast(corpus_max))
        .withColumn(
            "recency_days", F.datediff(F.col("__gmax"), F.col("__last")).cast("long")
        )
        .drop("__last", "__gmax")
    )
    qs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    bounds = base.agg(
        F.percentile(-F.col("recency_days"), qs).alias("__rb"),
        F.percentile(F.col("frequency"), qs).alias("__fb"),
        F.percentile(F.col("monetary_cents"), qs).alias("__mb"),
    )

    def score(value: Column, bound_arr: str) -> Column:
        b = F.col(bound_arr)
        return (
            F.lit(1)
            + (value > F.element_at(b, 1)).cast("int")
            + (value > F.element_at(b, 2)).cast("int")
            + (value > F.element_at(b, 3)).cast("int")
        )

    scored = base.crossJoin(F.broadcast(bounds)).select(
        "cust",
        "recency_days",
        "frequency",
        "monetary_cents",
        score(-F.col("recency_days"), "__rb").alias("r"),
        score(F.col("frequency"), "__fb").alias("f"),
        score(F.col("monetary_cents"), "__mb").alias("m"),
    )
    return scored.withColumn(
        "segment",
        F.concat(
            F.col("r").cast("string"),
            F.col("f").cast("string"),
            F.col("m").cast("string"),
        ),
    )


def autocorr_lag1(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    min_days: int = 3,
) -> DataFrame:
    """Lag-1 autocorrelation of each key's DAILY series — the standard
    seasonality / momentum probe (is today's volume predictive of
    tomorrow's?) run per segment before forecasting or anomaly scoring.

    Pipeline: decimal-exact daily sums per key (one keyed shuffle), a
    keyed ``lag`` window pairs each day with its predecessor IN OBSERVED
    ORDER, then Pearson ``corr`` per key — Spark's and DuckDB's sample
    correlation replay identically on the same pairs (established by the
    ``corr_stats`` oracle), rounded to 6. Keys with fewer than
    ``min_days`` observed days are dropped (corr of <2 pairs is null /
    degenerate).

    Scale shape: everything is keyed — daily agg, lag window, final agg —
    no global sort; state per key is one day-row per observed day.

    → ``(key, n_days, acf1)``.
    """
    daily = df.groupBy(
        F.col(key_col).alias("key"), F.to_date(ts_col).alias("day")
    ).agg(F.sum(F.col(val_col).cast("decimal(18,4)")).cast("double").alias("v"))
    w = Window.partitionBy("key").orderBy("day")
    paired = daily.select(
        "key", "v", F.lag("v").over(w).alias("v_prev")
    )
    return (
        paired.groupBy("key")
        .agg(
            (F.count(F.lit(1))).cast("long").alias("n_days"),
            F.round(F.corr("v", "v_prev"), 6).alias("acf1"),
        )
        .where(F.col("n_days") >= min_days)
    )


#: log10(1 + 1/d) for d = 1..9 — Benford's law first-digit expectation,
#: precomputed to full double precision so neither engine evaluates a
#: transcendental at query time (shared literals replay bit-identically).
BENFORD_P = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829993,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def benford_profile(df: DataFrame, amount_col: str) -> DataFrame:
    """First-significant-digit distribution of a positive amount column
    against Benford's law — the standard fraud / synthetic-data smell
    test for financial and telemetry feeds.

    The leading digit is extracted LEXICALLY (first ``[1-9]`` in the
    canonical decimal string), so no logarithm touches the data and
    boundary values can't flip buckets to float rounding; the expected
    shares are precomputed literals (:data:`BENFORD_P`). Share and
    deviation are single IEEE divisions/subtractions of exact counts.

    Scale shape: one projection + one 9-row groupBy (partial agg does all
    the work map-side) + a broadcast 1-row total.

    → ``(digit, n, share, benford_p, deviation)``, digit 1–9.
    """
    digit = F.regexp_extract(F.col(amount_col).cast("string"), "([1-9])", 1)
    counts = (
        df.select(digit.alias("d"))
        .where(F.col("d") != "")
        .groupBy(F.col("d").cast("int").alias("digit"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    total = counts.agg(F.sum("n").cast("double").alias("__tot"))
    expected = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in BENFORD_P.items() for x in kv]
        ),
        F.col("digit"),
    )
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        F.round(F.col("n").cast("double") / F.col("__tot"), 6).alias("share"),
        F.round(expected, 6).alias("benford_p"),
        F.round(
            F.col("n").cast("double") / F.col("__tot") - expected, 6
        ).alias("deviation"),
    )


def ngram_paths(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    state_col: str,
    n: int = 3,
    min_count: int = 1,
) -> DataFrame:
    """Order-n sequential pattern counts over per-key event sequences —
    the generalization of :func:`transition_counts` to longer journeys
    ("view → cart → purchase"), the workhorse of funnel discovery and
    next-action mining.

    One keyed window computes the n−1 lags in a single pass (same
    partitioning, Spark evaluates all lag frames in one WindowExec);
    NULL states are dropped BEFORE the lags (ADVICE r05 — an interior
    NULL would otherwise pass the deepest-lag completeness check and
    surface as a NULL middle column), so a complete n-gram is
    guaranteed all-non-null once the deepest lag is (windows never
    cross keys); the count aggregates onto a vocabulary^n-bounded
    table.

    → ``(s1 … sn, cnt)`` with ``cnt ≥ min_count``.
    """
    if n < 2:
        raise ValueError(f"ngram_paths needs n >= 2, got {n}")
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    cols = [
        F.lag(F.col(state_col), n - 1 - i).over(w).alias(f"s{i + 1}")
        for i in range(n - 1)
    ] + [F.col(state_col).alias(f"s{n}")]
    grams = (
        df.where(F.col(state_col).isNotNull())
        .select(*cols)
        .where(F.col("s1").isNotNull())
    )
    out = grams.groupBy(*[f"s{i + 1}" for i in range(n)]).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return out.where(F.col("cnt") >= min_count)


def ewma_smooth(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    alpha: float = 0.5,
    k: int = 7,
) -> DataFrame:
    """TRUNCATED EWMA: exponentially-weighted moving average over each
    key's last ``k`` daily observations only — observations older than
    ``k`` days are dropped, not geometrically decayed, so this deviates
    from the unbounded recursive EWMA by at most ``α^k / (1 − α)`` of
    the value scale (≈1.6% of a typical value at the defaults; see
    ``test_ewma_truncation_contrast``). The fixed depth is what bounds
    the window state and makes the arithmetic replay exactly.

    ``ewma_t = Σ_{j<k} αʲ·v_{t−j} / Σ_{j<k, observed} αʲ`` — weights
    renormalize over the observations actually present, so the series
    head isn't biased toward zero. With the default ``alpha = 0.5`` every
    weight is an exact binary double; values are decimal-exact daily sums
    cast once to double; numerator and denominator are built as the SAME
    left-associated addition chain in both engines, so results are
    bit-identical before the final round(…, 6).

    Scale shape: one keyed daily agg + one keyed window evaluating the k
    lags in a single WindowExec pass. No global sort, no unbounded state.

    → ``(key, day, v, ewma)``.
    """
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    daily = df.groupBy(
        F.col(key_col).alias("key"), F.to_date(ts_col).alias("day")
    ).agg(F.sum(F.col(val_col).cast("decimal(18,4)")).cast("double").alias("v"))
    w = Window.partitionBy("key").orderBy("day")
    num: Column = F.col("v")
    den: Column = F.lit(1.0)
    for j in range(1, k):
        lagged = F.lag("v", j).over(w)
        weight = F.lit(alpha**j)
        num = num + F.coalesce(lagged * weight, F.lit(0.0))
        den = den + F.when(lagged.isNotNull(), weight).otherwise(F.lit(0.0))
    return daily.select(
        "key", "day", "v", F.round(num / den, 6).alias("ewma")
    )


def rolling_median(
    df: DataFrame,
    part_col: str,
    day_col: str,
    value_col: str,
    preceding: int = 6,
    out_col: str = "rolling_median",
) -> DataFrame:
    """Exact rolling MEDIAN over a trailing integer-keyed RANGE frame —
    the robust companion to the rolling means/sums family: order
    statistics cannot be assembled from partial sums, so unlike
    ``rolling_events_7d`` this genuinely exercises Spark's windowed
    ``percentile`` aggregate (full-frame evaluation).

    ``day_col`` must be an integer day index (RANGE frames need additive
    keys); the frame is ``[day − preceding, day]`` — value-based, so GAPS
    in the series shrink the frame's row count rather than silently
    reaching further back the way a ROWS frame would.

    Scale shape: one shuffle on ``part_col``; per-partition frame state
    is bounded by ``preceding + 1`` DISTINCT days of pre-aggregated rows
    — callers aggregate to per-(key, day) granularity FIRST (as the
    daily-rollup queries do), so frames hold ≤ preceding+1 values however
    many raw events a day has. Median of an even frame is the midpoint
    average — one IEEE op on 6-dp-rounded inputs, replayed exactly by
    the oracle's ``median() OVER (... RANGE ...)``.
    """
    frame = (
        f"(PARTITION BY {part_col} ORDER BY {day_col} "
        f"RANGE BETWEEN {int(preceding)} PRECEDING AND CURRENT ROW)"
    )
    return df.withColumn(
        out_col,
        F.round(F.expr(f"percentile({value_col}, 0.5) OVER {frame}"), 6),
    )


def theil_sen_slope(
    df: DataFrame,
    key_col: str,
    t_col: str,
    y_col: str,
) -> DataFrame:
    """Theil-Sen robust trend per key: the MEDIAN of all pairwise slopes
    ``(y_j − y_i) / (t_j − t_i)`` over the key's series — the estimator
    with a 29% breakdown point, immune to the outlier days that drag an
    OLS fit (:func:`ols_fit`'s robust twin; see Sen 1968, public).

    CONTRACT: the input must already be aggregated to one row per
    (key, t) at a BOUNDED time granularity (monthly buckets in the
    registry query — ≤ ~100 points per key over the TPC-H date range),
    because pair enumeration is C(n,2) per key. That pre-aggregation is
    the scale story: the corpus-sized work is the one keyed agg the
    caller already did; the pair self-join here touches only
    keys × C(points, 2) rows — bounded-cardinality arithmetic, never
    corpus-sized.

    EXACTNESS (no float enters the result at all — the 10× stress tier
    exposed a round-half tie at the 6th decimal of the float version,
    where Spark and SQL round a x.xxxxx5 median midpoint apart by one
    ulp): each slope is quantized to MILLI-units by pure BIGINT
    truncating division ``(1000·Δy) div Δt`` (Spark ``div`` and SQL
    ``//`` both truncate toward zero), and the median is reported as
    the TWO-MIDDLE SUM ``s[lo] + s[hi]`` (2× scale — the
    ``rolling_mad_anomaly`` discipline): ``2·percentile(int, 0.5)`` is
    ``s[lo] + s[hi]`` exactly because the midpoint halves are dyadic.
    Divide by 2000 for the real slope.

    → ``(key, n_points, sen_milli_x2)``, one row per key with ≥ 2
    points; ``sen_milli_x2`` = 2 × median slope in milli-units.
    """
    left = df.select(
        F.col(key_col).alias("key"),
        F.col(t_col).cast("long").alias("t1"),
        F.col(y_col).cast("long").alias("y1"),
    )
    right = df.select(
        F.col(key_col).alias("key"),
        F.col(t_col).cast("long").alias("t2"),
        F.col(y_col).cast("long").alias("y2"),
    )
    pairs = left.join(right, "key").where(F.col("t1") < F.col("t2"))
    slope_milli = F.expr("(1000 * (y2 - y1)) div (t2 - t1)")
    n_pts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_points")
    )
    med = pairs.select("key", slope_milli.alias("__s")).groupBy("key").agg(
        (F.lit(2.0) * F.percentile(F.col("__s"), 0.5))
        .cast("long")
        .alias("sen_milli_x2")
    )
    return n_pts.join(med, "key").select("key", "n_points", "sen_milli_x2")


def cusum_changepoint(
    df: DataFrame,
    key_col: str,
    day_col: str,
    value_col: str,
) -> DataFrame:
    """Single most-likely changepoint per key by the CUSUM statistic:
    the day maximizing ``|n·S_t − t·S_n|`` where ``S_t`` is the running
    sum of the key's daily values — the standard cumulative-deviation
    changepoint estimator (argmax of ``|S_t − (t/n)·S_n|``, Page's test
    family, multiplied through by ``n`` so the whole statistic is EXACT
    integer arithmetic; no float enters the comparison at all).

    CONTRACT: input is pre-aggregated to one row per (key, day) with
    ``value_col`` in exact integer units (cents) — so the window below
    ranges over day-cardinality rows (≤ a few thousand per key),
    bounded regardless of raw event volume; the corpus-sized work is
    the daily agg the caller already did.

    Shape: one cumulative-sum window + one total agg joined back on the
    key, then a rank-1 filter on ``(stat DESC, day ASC)`` — earliest
    day wins ties, making the result a total function of the input.

    → ``(key, n_days, cp_day, cusum_stat)``, one row per key.
    """
    w_cum = (
        Window.partitionBy("key")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    daily = df.select(
        F.col(key_col).alias("key"),
        F.col(day_col).alias("day"),
        F.col(value_col).cast("long").alias("v"),
    )
    cum = daily.select(
        "key",
        "day",
        F.sum("v").over(w_cum).alias("s_t"),
        F.row_number().over(Window.partitionBy("key").orderBy("day")).alias(
            "t"
        ),
    )
    tot = daily.groupBy("key").agg(
        F.sum("v").alias("s_n"), F.count(F.lit(1)).cast("long").alias("n_days")
    )
    stat = F.abs(
        F.col("n_days") * F.col("s_t") - F.col("t") * F.col("s_n")
    ).alias("cusum_stat")
    ranked = cum.join(tot, "key").select(
        "key",
        "n_days",
        "day",
        stat,
    )
    w_pick = Window.partitionBy("key").orderBy(
        F.desc("cusum_stat"), F.asc("day")
    )
    return (
        ranked.withColumn("__r", F.row_number().over(w_pick))
        .where(F.col("__r") == 1)
        .select(
            "key", "n_days", F.col("day").alias("cp_day"), "cusum_stat"
        )
    )


def rolling_mad_anomaly(
    df: DataFrame,
    part_col: str,
    day_col: str,
    value_col: str,
    preceding: int = 6,
    k_num: int = 3,
) -> DataFrame:
    """Rolling median + rolling MAD anomaly flags over a trailing
    integer-keyed RANGE frame — the robust control chart: a day is
    anomalous when ``|x − median(frame)| > k · MAD(frame)``, immune to
    the anomalies themselves inflating the threshold the way a rolling
    mean/stddev chart self-blinds.

    ENTIRELY exact integer arithmetic (no float in the decision): with
    ``value_col`` in integer units (cents), the frame's sorted values
    give ``med_x2 = a[lo] + a[hi]`` (2× the median; lo/hi the middle
    indexes), per-value deviations ``|2x − med_x2]`` (2× scale), and
    ``mad_x4`` as the two-middle sum of sorted deviations (4× scale);
    the flag is then ``2·|2x − med_x2| > k·mad_x4`` — pure BIGINT
    comparisons both engines replay bit-for-bit.

    Same scale contract as :func:`rolling_median`: input pre-aggregated
    to (key, day) rows, so each RANGE frame holds ≤ ``preceding + 1``
    values and the whole computation is one shuffle on ``part_col``
    plus per-row array math over ≤ 8-element lists.

    → input columns + ``(med_x2, mad_x4, is_anomaly)``.
    """
    frame = (
        Window.partitionBy(part_col)
        .orderBy(F.col(day_col).cast("long"))
        .rangeBetween(-int(preceding), 0)
    )
    arr = F.array_sort(
        F.collect_list(F.col(value_col).cast("long")).over(frame)
    )
    out = df.withColumn("__arr", arr)
    n = F.size(F.col("__arr"))
    lo = ((n - 1) / 2).cast("int")
    hi = (n / 2).cast("int")
    out = out.withColumn(
        "med_x2",
        F.element_at(F.col("__arr"), lo + 1)
        + F.element_at(F.col("__arr"), hi + 1),
    )
    dev = F.array_sort(
        F.transform(
            F.col("__arr"),
            lambda x: F.abs(F.lit(2).cast("long") * x - F.col("med_x2")),
        )
    )
    out = out.withColumn(
        "mad_x4",
        F.element_at(dev, lo + 1) + F.element_at(dev, hi + 1),
    )
    return out.drop("__arr").withColumn(
        "is_anomaly",
        F.lit(2).cast("long")
        * F.abs(
            F.lit(2).cast("long") * F.col(value_col).cast("long")
            - F.col("med_x2")
        )
        > F.lit(int(k_num)).cast("long") * F.col("mad_x4"),
    )


def dow_seasonal_outliers(
    df: DataFrame,
    key_col: str,
    day_col: str,
    value_col: str,
    k_iqr: float = 1.5,
) -> DataFrame:
    """Seasonality-aware outlier flags: a day is anomalous relative to
    ITS OWN day-of-week's distribution, not the whole series — the fix
    for the failure mode of :func:`iqr_outliers` on weekly-seasonal
    traffic, where every Sunday trips a global fence and every genuinely
    broken Tuesday hides inside it. Per (key, weekday) the classic Tukey
    fence ``[q1 − k·IQR, q3 + k·IQR]`` is computed from exact
    percentiles and joined back onto the daily rows.

    Exactness: with ``value_col`` in integer units (cents), percentile
    interpolation lands on dyadic rationals (quarter steps) that IEEE
    doubles represent exactly, and ``k·IQR`` with the default k=1.5 is
    one exact product — the flag comparison is deterministic on both
    engines, no rounding needed.

    Scale shape: input is pre-aggregated (key, day) rows (the
    :func:`rolling_median` contract), so the percentile agg groups
    day-cardinality rows into keys×7 cells and the join back is
    broadcast-sized. → input + ``(dow, q1, med, q3, is_outlier)``.
    """
    dowed = df.select(
        F.col(key_col).alias("key"),
        F.col(day_col).alias("day"),
        F.col(value_col).cast("long").alias("v"),
    ).withColumn("dow", F.dayofweek(F.col("day")).cast("int"))
    fences = dowed.groupBy("key", "dow").agg(
        F.percentile(F.col("v"), 0.25).alias("q1"),
        F.percentile(F.col("v"), 0.5).alias("med"),
        F.percentile(F.col("v"), 0.75).alias("q3"),
    )
    k = F.lit(float(k_iqr))
    return (
        dowed.join(F.broadcast(fences), ["key", "dow"])
        .withColumn(
            "is_outlier",
            (
                F.col("v").cast("double")
                > F.col("q3") + k * (F.col("q3") - F.col("q1"))
            )
            | (
                F.col("v").cast("double")
                < F.col("q1") - k * (F.col("q3") - F.col("q1"))
            ),
        )
        .select("key", "day", "dow", "v", "q1", "med", "q3", "is_outlier")
    )


def longest_streaks(
    df: DataFrame,
    key_col: str,
    day_col: str,
    min_len: int = 1,
) -> DataFrame:
    """Longest run of CONSECUTIVE active days per key — the classic
    gaps-and-islands reduction: within a key, sort the distinct day
    indexes and subtract the row number; consecutive days share the
    constant ``day − row_number``, so each island is one group and the
    whole computation is two keyed windows + one agg, never a self-join
    (the naive day-vs-day-1 join re-shuffles the table per probe).

    CONTRACT: ``day_col`` is an integer day index, one row per (key,
    day) — pre-aggregate first (the :func:`rolling_median` discipline),
    so windows range over day-cardinality rows. All arithmetic is exact
    integers.

    → ``(key, n_active_days, n_streaks, longest_streak,
    longest_streak_start)`` — ties on length resolve to the EARLIEST
    streak (total function of the input).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy("day")
    islands = (
        df.select(
            F.col(key_col).alias("key"), F.col(day_col).cast("long").alias("day")
        )
        .distinct()
        .withColumn("__g", F.col("day") - F.row_number().over(w))
    )
    runs = islands.groupBy("key", "__g").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("day").alias("start"),
    )
    best = F.max(
        F.struct(
            F.col("len").alias("len"), (-F.col("start")).alias("neg_start")
        )
    ).alias("__best")
    return (
        runs.where(F.col("len") >= F.lit(int(min_len)))
        .groupBy("key")
        .agg(
            F.sum("len").cast("long").alias("n_active_days"),
            F.count(F.lit(1)).cast("long").alias("n_streaks"),
            best,
        )
        .select(
            "key",
            "n_active_days",
            "n_streaks",
            F.col("__best.len").alias("longest_streak"),
            (-F.col("__best.neg_start")).cast("long").alias(
                "longest_streak_start"
            ),
        )
    )


def spearman_corr(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation per group — the monotone-association
    twin of the Pearson moment pattern (``corr_stats``): Pearson on
    AVERAGE ranks, the tie-correct textbook form (Spearman 1904,
    public), so a nonlinear-but-monotone relation scores 1.0 where
    Pearson under-reads it.

    EXACTNESS: average rank with ties is ``rank + (cnt_eq − 1)/2``, a
    half-integer — so the operator works on the DOUBLED rank
    ``R2 = 2·rank + cnt_eq − 1``, a pure BIGINT (Pearson is
    scale-invariant, corr(2r_x, 2r_y) = corr(r_x, r_y)). All five
    moments are exact integer sums (cross products summed as
    DECIMAL(38,0) — at the 10× tier Σ R2x·R2y overflows BIGINT), and
    the coefficient is ONE fixed double-precision expression rounded
    to 6 — the same integer→IEEE cast on both engines, so the oracle
    replays it bit-for-bit.

    Scale (round 9, guide §2.5): the doubled rank depends only on the
    VALUE's position among the group's distinct values —
    ``R2 = 2·cnt_lt + cnt_eq + 1 = 2·cum − cnt + 1`` over per-value
    counts — so the rank windows run over the per-(group, value)
    aggregate, not the raw rows, and the per-row ranks are attached
    back with two equi-joins keyed on (group, value). The previous
    shape windowed the RAW table partitioned by the group key: with a
    low-cardinality group (this registry query groups by a 3-value
    flag) every row sorts on ≤3 tasks, four times, and window skew is
    exactly what AQE cannot split. The per-value tables are
    distinct-value-sized, the joins are value-keyed (well spread,
    broadcast when small), and the corpus itself is never sorted.
    Same BIGINT doubled ranks row for row — bit-identical output.

    → ``(group, n, spearman_rho)``.
    """
    rows = df.select(
        F.col(group_col).alias("g"),
        F.col(x_col).alias("vx"),
        F.col(y_col).alias("vy"),
    )

    def r2_table(val_col: str, out_col: str) -> DataFrame:
        per_val = rows.groupBy(
            F.col("g").alias("gk"), F.col(val_col).alias("v")
        ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        w = Window.partitionBy("gk").orderBy("v")
        return per_val.select(
            "gk",
            "v",
            (2 * F.sum("cnt").over(w) - F.col("cnt") + 1)
            .cast("long")
            .alias(out_col),
        )

    rx = r2_table("vx", "r2x")
    ry = r2_table("vy", "r2y")
    ranked = (
        rows.join(
            rx, rows["g"].eqNullSafe(rx["gk"]) & rows["vx"].eqNullSafe(rx["v"])
        )
        .select("g", "vy", "r2x")
        .join(
            ry,
            F.col("g").eqNullSafe(ry["gk"]) & F.col("vy").eqNullSafe(ry["v"]),
        )
        .select("g", "r2x", "r2y")
    )
    d38 = "decimal(38,0)"
    m = ranked.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r2x").cast("long").alias("sx"),
        F.sum("r2y").cast("long").alias("sy"),
        F.sum((F.col("r2x") * F.col("r2y")).cast(d38)).alias("sxy"),
        F.sum((F.col("r2x") * F.col("r2x")).cast(d38)).alias("sxx"),
        F.sum((F.col("r2y") * F.col("r2y")).cast(d38)).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    rho = F.when(den > 0, F.round((n * sxy - sx * sy) / den, 6)).otherwise(
        F.lit(0.0)
    )
    return m.select(
        F.col("g").alias("group"), F.col("n"), rho.alias("spearman_rho")
    )


def mann_kendall(
    df: DataFrame,
    key_col: str,
    t_col: str,
    y_col: str,
) -> DataFrame:
    """Mann-Kendall trend test per key: ``S = Σ_{i<j} sign(y_j − y_i)``
    with the tie-corrected variance and the ±1-continuity-corrected
    normal statistic (Mann 1945 / Kendall 1975, public) — the
    nonparametric is-there-a-trend test that pairs with
    :func:`theil_sen_slope`'s how-steep answer.

    CONTRACT (the Theil-Sen discipline): input is pre-aggregated to one
    row per (key, t) at a BOUNDED granularity — pair enumeration is
    C(n,2) per key, so the corpus-sized work must be the keyed agg the
    caller already did; ``y`` must be integer units (cents/micro).

    EXACTNESS: S, n, and the tie term ``T = Σ t(t−1)(2t+5)`` are pure
    BIGINT; ``var18 = n(n−1)(2n+5) − T`` stays integer (×18 scale), and
    only the final z ``(S∓1)/sqrt(var18/18)`` is ONE fixed double shape
    rounded to 6.

    → ``(key, n_points, s_stat, var18, mk_z, trend)``;
    ``trend`` ∈ {increasing, decreasing, flat} by the sign of S.
    """
    left = df.select(
        F.col(key_col).alias("key"),
        F.col(t_col).cast("long").alias("t1"),
        F.col(y_col).cast("long").alias("y1"),
    )
    right = df.select(
        F.col(key_col).alias("key"),
        F.col(t_col).cast("long").alias("t2"),
        F.col(y_col).cast("long").alias("y2"),
    )
    sgn = (
        F.when(F.col("y2") > F.col("y1"), F.lit(1))
        .when(F.col("y2") < F.col("y1"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    s_per_key = (
        left.join(right, "key")
        .where(F.col("t1") < F.col("t2"))
        .groupBy("key")
        .agg(F.sum(sgn).cast("long").alias("s_stat"))
    )
    tie = (
        df.groupBy(F.col(key_col).alias("key"), F.col(y_col).alias("__y"))
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n_distinct"),
            F.sum("t").cast("long").alias("n_points"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("__tie18"),
        )
    )
    # LEFT join + coalesce: a single-point key has no i<j pair, so
    # s_per_key carries no row for it — an inner join would silently
    # drop the key from the output; instead it must surface as
    # n_points=1, s_stat=0, var18=0, trend='flat'.
    joined = tie.join(s_per_key, "key", "left").withColumn(
        "s_stat", F.coalesce(F.col("s_stat"), F.lit(0).cast("long"))
    )
    n_l = F.col("n_points")
    var18 = (n_l * (n_l - 1) * (2 * n_l + 5) - F.col("__tie18")).cast("long")
    s = F.col("s_stat")
    var_d = F.col("var18").cast("double") / F.lit(18.0)
    z = (
        F.when(
            (F.col("var18") > 0) & (s > 0),
            (s.cast("double") - 1.0) / F.sqrt(var_d),
        )
        .when(
            (F.col("var18") > 0) & (s < 0),
            (s.cast("double") + 1.0) / F.sqrt(var_d),
        )
        .otherwise(F.lit(0.0))
    )
    trend = (
        F.when(s > 0, F.lit("increasing"))
        .when(s < 0, F.lit("decreasing"))
        .otherwise(F.lit("flat"))
    )
    return (
        joined.withColumn("var18", var18)
        .select(
            "key",
            "n_points",
            "s_stat",
            "var18",
            F.round(z, 6).alias("mk_z"),
            trend.alias("trend"),
        )
    )


def welch_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Welch's unequal-variance t-test for EVERY ordered group pair —
    "do these two corpus sources differ in mean X?" with the
    Satterthwaite degrees of freedom (Welch 1947, public), the
    comparison a dataset card should print next to per-source means.

    CONTRACT: ``value_col`` must be integer units (counts/cents) so the
    per-group moments (n, Σx as BIGINT, Σx² as DECIMAL(38,0) — the 10×
    tier overflows BIGINT on squares) are exact; group count must be
    BOUNDED (pairs are C(groups, 2), joined driver-free on the
    post-agg summaries — broadcast-sized by construction).

    t, the Satterthwaite df, and the two means are each ONE fixed
    double-precision expression over those integer moments, rounded to
    6; ``significant`` is the |t| > 1.96 two-sided 5% flag.

    → ``(group_a, group_b, n_a, n_b, mean_a, mean_b, t_stat, welch_df,
    significant)`` for group_a < group_b.
    """
    m = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col(value_col).cast("long")).cast("long").alias("s1"),
        F.sum(
            (F.col(value_col).cast("long") * F.col(value_col).cast("long"))
            .cast("decimal(38,0)")
        ).alias("s2"),
    )
    a = m.select(
        F.col("g").alias("group_a"),
        F.col("n").alias("na"),
        F.col("s1").alias("s1a"),
        F.col("s2").alias("s2a"),
    )
    b = m.select(
        F.col("g").alias("group_b"),
        F.col("n").alias("nb"),
        F.col("s1").alias("s1b"),
        F.col("s2").alias("s2b"),
    )
    pairs = a.join(b, F.col("group_a") < F.col("group_b"))

    def _mean(s1: Column, n: Column) -> Column:
        return s1.cast("double") / n.cast("double")

    def _var(s2: Column, s1: Column, n: Column) -> Column:
        nd = n.cast("double")
        return (
            s2.cast("double") - s1.cast("double") * s1.cast("double") / nd
        ) / (nd - 1.0)

    ma = _mean(F.col("s1a"), F.col("na"))
    mb = _mean(F.col("s1b"), F.col("nb"))
    va = _var(F.col("s2a"), F.col("s1a"), F.col("na"))
    vb = _var(F.col("s2b"), F.col("s1b"), F.col("nb"))
    sea = va / F.col("na").cast("double")
    seb = vb / F.col("nb").cast("double")
    se2 = sea + seb
    t = F.when(se2 > 0, (ma - mb) / F.sqrt(se2)).otherwise(F.lit(0.0))
    dof = F.when(
        se2 > 0,
        (se2 * se2)
        / (
            sea * sea / (F.col("na").cast("double") - 1.0)
            + seb * seb / (F.col("nb").cast("double") - 1.0)
        ),
    ).otherwise(F.lit(0.0))
    return pairs.where((F.col("na") >= 2) & (F.col("nb") >= 2)).select(
        "group_a",
        "group_b",
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 6).alias("welch_df"),
        (F.abs(t) > F.lit(1.96)).alias("significant"),
    )


def gini_coefficient(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Gini concentration coefficient per group over NON-NEGATIVE
    integer values — "how concentrated is revenue/tokens across
    members?", the inequality audit behind domain-balance decisions
    (0 = uniform, →1 = one member holds everything).

    Rank form (deterministic ties): with members sorted ascending by
    ``(value, id)`` and 1-based rank r,
    ``G = 2·Σ r·x / (n·Σx) − (n+1)/n``. Σ r·x is summed as
    DECIMAL(38,0) (rank × cents overflows BIGINT at the 10× tier);
    everything else is BIGINT, and G is ONE fixed double expression
    rounded to 6.

    Scale: one row_number window partitioned by group (range-partition
    the sort at corpus scale) + one keyed agg — never a self-join.

    → ``(group, n, total_value, gini)``.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc()
    )
    ranked = df.select(
        F.col(group_col).alias("group"),
        F.col(value_col).cast("long").alias("x"),
        F.row_number().over(w).cast("long").alias("r"),
    )
    m = ranked.groupBy("group").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("total_value"),
        F.sum((F.col("r") * F.col("x")).cast("decimal(38,0)")).alias("srx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("total_value").cast("double")
    srx = F.col("srx").cast("double")
    gini = F.when(
        (F.col("total_value") > 0) & (F.col("n") > 1),
        F.round(2.0 * srx / (n * sx) - (n + 1.0) / n, 6),
    ).otherwise(F.lit(0.0))
    return m.select("group", "n", "total_value", gini.alias("gini"))


def contingency_chi2(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Chi-square association between two BOUNDED-cardinality
    categorical columns + Cramér's V — "is priority independent of
    status?", the contingency audit behind schema-drift and
    label-bias checks (:func:`chi2_drift` is the one-categorical-
    across-time cousin; this is two-categoricals-at-once).

    EXACTNESS (the sum-of-doubles trap): a float Σ over cells is
    partition-order-dependent, so each cell contribution is quantized
    FIRST — ``contrib_micro = (10^6·(O·N − n_a·n_b)²) div (N·n_a·n_b)``
    is pure truncating DECIMAL(38,0) division of exact integers
    ((O·N − n_a·n_b)² reaches ~5·10²⁴ at the 10× tier, far past
    BIGINT), and the total ``chi2_micro = Σ contrib_micro`` is an exact
    BIGINT in ANY order. Only Cramér's V
    ``sqrt(chi2 / (N·min(r−1, c−1)))`` is one fixed double shape,
    rounded to 6.

    Plan: one (a,b)-keyed count (map-side combined) + two margin aggs
    OVER THE CELL TABLE (cell-cardinality, not corpus rescans) joined
    back broadcast-small, + one 1-row total cross-joined.

    → one row per cell of the FULL margin grid (absent combinations
    appear with observed = 0 — they still contribute expected mass):
    ``(a, b, observed, contrib_micro, chi2_micro, cramers_v, dof)``
    with the last three repeated (grain: cell — the
    ``degree_assortativity`` convention).
    """
    cells = (
        df.select(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("observed"))
    )
    ma = cells.groupBy("a").agg(F.sum("observed").cast("long").alias("n_a"))
    mb = cells.groupBy("b").agg(F.sum("observed").cast("long").alias("n_b"))
    tot = cells.agg(
        F.sum("observed").cast("long").alias("n"),
        F.count_distinct(F.col("a")).cast("long").alias("r_cats"),
        F.count_distinct(F.col("b")).cast("long").alias("c_cats"),
    )
    # the FULL margin grid, not just observed cells: an absent (a,b)
    # combination still contributes its expected mass E = n_a·n_b/N to
    # chi-square — dropping O=0 cells silently understates association
    grid = F.broadcast(ma).crossJoin(F.broadcast(mb))
    full = (
        grid.join(cells, ["a", "b"], "left")
        .withColumn("observed", F.coalesce(F.col("observed"), F.lit(0).cast("long")))
        .crossJoin(F.broadcast(tot))
    )
    d38 = "decimal(38,0)"
    num = (
        F.col("observed").cast(d38) * F.col("n").cast(d38)
        - F.col("n_a").cast(d38) * F.col("n_b").cast(d38)
    )
    den = (
        F.col("n").cast(d38) * F.col("n_a").cast(d38) * F.col("n_b").cast(d38)
    )
    # stage the exact-integer numerator/denominator as named columns —
    # truncating decimal division needs SQL's `div`, which wants refs
    staged = full.withColumn("__num", num).withColumn("__den", den)
    staged = staged.withColumn(
        "contrib_micro",
        F.expr("CAST((__num * __num * 1000000) div __den AS BIGINT)"),
    )
    wall = Window.partitionBy()
    chi2_micro = F.sum("contrib_micro").over(wall).cast("long")
    dof = (F.col("r_cats") - 1) * (F.col("c_cats") - 1)
    out = staged.withColumn("chi2_micro", chi2_micro).withColumn(
        "dof", dof.cast("long")
    )
    v = F.when(
        (F.col("dof") > 0) & (F.col("n") > 0),
        F.round(
            F.sqrt(
                (F.col("chi2_micro").cast("double") / 1000000.0)
                / (
                    F.col("n").cast("double")
                    * F.least(
                        F.col("r_cats").cast("double") - 1.0,
                        F.col("c_cats").cast("double") - 1.0,
                    )
                )
            ),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return out.select(
        "a",
        "b",
        "observed",
        "contrib_micro",
        "chi2_micro",
        v.alias("cramers_v"),
        "dof",
    )


def kendall_tau_binned(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Kendall's tau-b per group from the JOINT HISTOGRAM — concordant
    minus discordant pair mass with the tie-corrected denominator
    (Kendall 1945, public). The scale trick: a naive tau is a C(n,2)
    row self-join, but when x and y are BINNED/discrete (the
    CONTRACT: bounded distinct values per group) every pair statistic
    is computable from the (x, y) cell table — the corpus is touched
    by ONE keyed count, and the cell self-join is cells² per group,
    bounded arithmetic that never sees raw rows.

    All pair masses are exact BIGINT: C and D are Σ w_a·w_b over
    strictly-ordered cell pairs, the tie terms ``n1 = Σ t_x(t_x−1)/2``
    / ``n2`` come from the margins, ``n0 = n(n−1)/2``, and
    ``tau_b = (C − D) / (sqrt(n0−n1)·sqrt(n0−n2))`` is ONE fixed
    double shape (two square roots — their BIGINT product would
    overflow at the 10× tier) rounded to 6.

    → ``(group, n, concordant, discordant, tau_b)``.
    """
    cells = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(x_col).alias("x"),
            F.col(y_col).alias("y"),
        )
        .groupBy("g", "x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    a = cells.select(
        F.col("g"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.col("w").alias("wa"),
    )
    b = cells.select(
        F.col("g"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("w").alias("wb"),
    )
    pairs = a.join(b, "g").where(F.col("xa") < F.col("xb"))
    cd = pairs.groupBy("g").agg(
        F.sum(
            F.when(F.col("ya") < F.col("yb"), F.col("wa") * F.col("wb"))
            .otherwise(F.lit(0))
        )
        .cast("long")
        .alias("concordant"),
        F.sum(
            F.when(F.col("ya") > F.col("yb"), F.col("wa") * F.col("wb"))
            .otherwise(F.lit(0))
        )
        .cast("long")
        .alias("discordant"),
    )
    tx = (
        cells.groupBy("g", "x")
        .agg(F.sum("w").cast("long").alias("t"))
        .groupBy("g")
        .agg(
            F.expr("CAST(sum(t * (t - 1)) div 2 AS BIGINT)").alias("n1")
        )
    )
    ty = (
        cells.groupBy("g", "y")
        .agg(F.sum("w").cast("long").alias("t"))
        .groupBy("g")
        .agg(
            F.expr("CAST(sum(t * (t - 1)) div 2 AS BIGINT)").alias("n2")
        )
    )
    tot = cells.groupBy("g").agg(F.sum("w").cast("long").alias("n"))
    j = tot.join(cd, "g", "left").join(tx, "g").join(ty, "g")
    n0 = F.expr("(n * (n - 1)) div 2")
    c = F.coalesce(F.col("concordant"), F.lit(0))
    d = F.coalesce(F.col("discordant"), F.lit(0))
    den = F.sqrt((n0 - F.col("n1")).cast("double")) * F.sqrt(
        (n0 - F.col("n2")).cast("double")
    )
    tau = F.when(
        den > 0, F.round((c - d).cast("double") / den, 6)
    ).otherwise(F.lit(0.0))
    return j.select(
        F.col("g").alias("group"),
        "n",
        c.alias("concordant"),
        d.alias("discordant"),
        tau.alias("tau_b"),
    )


def interarrival_quantiles(
    df: DataFrame,
    series_cols: list[str],
    group_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Inter-arrival-time profile per group: the p50/p90/mean of gaps
    between CONSECUTIVE events within each series — the cadence gauge
    behind rate limiting, bot detection, and session-timeout tuning
    ("how bursty is this event type, per user?").

    EXACTNESS: gaps are integer microseconds off a deterministic
    (ts, tiebreak) ordering; quantiles are the LOWER EMPIRICAL value at
    the pure-integer index ``(n−1)·q div denom + 1`` — a row the data
    actually contains, picked by rank, never interpolated (float
    interpolation is where engines drift); the mean is truncating
    BIGINT division. Nothing float anywhere.

    Scale: one lag window per series (keyed by the series identity —
    selective by construction: users × types), then one rank window
    per GROUP over the gap rows. The group window is the cost at
    corpus scale; it range-partitions, and the gap table is one row
    per event minus one per series — never wider than the input.

    → ``(group, n_gaps, p50_gap_us, p90_gap_us, mean_gap_us)``.
    """
    w_series = Window.partitionBy(*series_cols).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    us = (F.unix_micros(F.col(ts_col))).alias("__us")
    gaps = (
        df.select(
            F.col(group_col).alias("group"),
            *[F.col(c) for c in series_cols],
            F.col(ts_col),
            F.col(tiebreak_col),
        )
        .withColumn("__us", us)
        .withColumn("__gap", F.col("__us") - F.lag("__us").over(w_series))
        .where(F.col("__gap").isNotNull())
        .select("group", F.col("__gap").cast("long").alias("gap_us"))
    )
    w_rank = Window.partitionBy("group").orderBy(F.col("gap_us").asc())
    w_grp = Window.partitionBy("group")
    ranked = gaps.select(
        "group",
        "gap_us",
        F.row_number().over(w_rank).cast("long").alias("r"),
        F.count(F.lit(1)).over(w_grp).cast("long").alias("n"),
    )
    i50 = F.expr("(n - 1) div 2 + 1")
    i90 = F.expr("((n - 1) * 9) div 10 + 1")
    return ranked.groupBy("group").agg(
        F.max("n").alias("n_gaps"),
        F.max(F.when(F.col("r") == i50, F.col("gap_us")))
        .cast("long")
        .alias("p50_gap_us"),
        F.max(F.when(F.col("r") == i90, F.col("gap_us")))
        .cast("long")
        .alias("p90_gap_us"),
        F.expr("sum(gap_us) div max(n)").cast("long").alias("mean_gap_us"),
    )


def trend_break_ols(
    df: DataFrame,
    key_col: str,
    day_col: str,
    value_col: str,
) -> DataFrame:
    """Piecewise trend at the CUSUM breakpoint: find each key's
    most-likely changepoint (:func:`cusum_changepoint`, exact-BIGINT
    argmax), then fit closed-form OLS slopes on the BEFORE (day ≤ cp)
    and AFTER segments — "the trend didn't just shift level, it bent
    from +2.1k/day to −0.8k/day", the composed answer neither operator
    gives alone.

    CONTRACT: the cusum contract verbatim — input pre-aggregated to
    one row per (key, day) with integer-unit values and ``day_col``
    an INTEGER index (it is the OLS x). Both segment fits come from
    one conditional moment pass (n, Σx, Σy, Σxy, Σx² per segment via
    when()-guarded sums — exact BIGINT), and each slope is the fixed
    double shape ``(n·Σxy − Σx·Σy)/(n·Σx² − Σx²)`` rounded to 6;
    ``slope_delta`` is rounded from the UNROUNDED difference.

    → ``(key, cp_day, n_before, n_after, slope_before, slope_after,
    slope_delta)``.
    """
    cp = cusum_changepoint(df, key_col, day_col, value_col).select(
        "key", F.col("cp_day").alias("__cp")
    )
    daily = df.select(
        F.col(key_col).alias("key"),
        F.col(day_col).cast("long").alias("x"),
        F.col(value_col).cast("long").alias("y"),
    )
    seg = daily.join(cp, "key").withColumn(
        "__before", F.col("x") <= F.col("__cp")
    )

    def _moms(flag: Column, suffix: str) -> list[Column]:
        z = F.lit(0).cast("long")
        return [
            F.sum(F.when(flag, 1).otherwise(0)).cast("long").alias(f"n_{suffix}"),
            F.sum(F.when(flag, F.col("x")).otherwise(z)).cast("long").alias(f"sx_{suffix}"),
            F.sum(F.when(flag, F.col("y")).otherwise(z)).cast("long").alias(f"sy_{suffix}"),
            F.sum(F.when(flag, F.col("x") * F.col("y")).otherwise(z)).cast("long").alias(f"sxy_{suffix}"),
            F.sum(F.when(flag, F.col("x") * F.col("x")).otherwise(z)).cast("long").alias(f"sxx_{suffix}"),
        ]

    m = seg.groupBy("key").agg(
        F.max("__cp").alias("cp_day"),
        *_moms(F.col("__before"), "b"),
        *_moms(~F.col("__before"), "a"),
    )

    def _slope(suffix: str) -> Column:
        n = F.col(f"n_{suffix}").cast("double")
        sx = F.col(f"sx_{suffix}").cast("double")
        sy = F.col(f"sy_{suffix}").cast("double")
        sxy = F.col(f"sxy_{suffix}").cast("double")
        sxx = F.col(f"sxx_{suffix}").cast("double")
        den = n * sxx - sx * sx
        return F.when(
            (F.col(f"n_{suffix}") >= 2) & (den > 0),
            (n * sxy - sx * sy) / den,
        ).otherwise(F.lit(0.0))

    sb, sa = _slope("b"), _slope("a")
    return m.select(
        "key",
        F.col("cp_day").cast("long").alias("cp_day"),
        F.col("n_b").alias("n_before"),
        F.col("n_a").alias("n_after"),
        F.round(sb, 6).alias("slope_before"),
        F.round(sa, 6).alias("slope_after"),
        F.round(sa - sb, 6).alias("slope_delta"),
    )


def range_partition_plan(
    df: DataFrame,
    key_col: str,
    n_partitions: int,
) -> DataFrame:
    """Equi-depth range-partition boundaries: the P−1 split keys that
    divide the table into partitions of ~n/P rows each — what a
    repartitionByRange / bucketed-layout rollout wants PLANNED and
    AUDITED before it writes 100 TB (Spark's own RangePartitioner
    samples; this is the exact plan, plus the realized row counts so
    skew is visible before the shuffle).

    EXACTNESS: boundary i is the SMALLEST key whose cumulative row
    count reaches ``target_i = (i·n) div P`` — pure integer rank
    selection over the distinct-key histogram (the interarrival
    discipline: a value the data contains, never an interpolation).

    Scale CONTRACT: the cumulative walk is a window over the
    DISTINCT-KEY table, so key cardinality must be bounded (bucket or
    bin a high-cardinality key first, or fall back to sampling). The
    corpus-sized work is the one keyed count; everything after is
    key-cardinality.

    → ``(bucket, target_rows, boundary_key, rows_at_or_below)``,
    one row per internal boundary (buckets 1..P−1).
    """
    if n_partitions < 2:
        raise ValueError(
            f"range_partition_plan needs n_partitions >= 2, got {n_partitions}"
        )
    keys = (
        df.groupBy(F.col(key_col).alias("key"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w_cum = Window.orderBy("key").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cum = keys.select(
        "key",
        F.sum("cnt").over(w_cum).cast("long").alias("cum"),
        F.sum("cnt").over(w_all).cast("long").alias("n"),
    )
    spark = df.sparkSession
    buckets = spark.createDataFrame(
        [(int(i),) for i in range(1, int(n_partitions))], "bucket long"
    )
    targets = buckets.crossJoin(
        F.broadcast(keys.agg(F.sum("cnt").cast("long").alias("n")))
    ).select(
        "bucket",
        F.expr(f"(bucket * n) div {int(n_partitions)}").alias("target_rows"),
    )
    hit = cum.join(
        F.broadcast(targets), F.col("cum") >= F.col("target_rows")
    )
    best = hit.groupBy("bucket").agg(
        F.max("target_rows").alias("target_rows"),
        F.min(F.struct("key", "cum")).alias("__b"),
    )
    return best.select(
        "bucket",
        "target_rows",
        F.col("__b.key").alias("boundary_key"),
        F.col("__b.cum").alias("rows_at_or_below"),
    )


def peak_concurrency(
    intervals: DataFrame,
    group_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Peak concurrent intervals per group by the distributed
    SWEEP-LINE: each interval contributes a +1 at its start and a −1
    at its end; the running sum over (t ASC, delta DESC) is the live
    concurrency, its max the peak — "how many sessions were open at
    the worst moment?", the capacity-planning number a pairwise
    overlap join cannot produce without rows² work.

    Ordering contract: +1 sorts before −1 at the same instant, so
    touching intervals COUNT as concurrent (and a zero-length interval
    still registers). Ties among identical (t, delta) rows leave the
    running-sum multiset — and therefore the peak and its earliest
    time — unchanged, so the result is deterministic and the oracle
    replays it. Everything is integer microseconds and BIGINT counts.

    Scale: one keyed sweep window over 2 rows per interval (the group
    key is the partition — days, tenants, shards), one keyed agg.
    Never an interval self-join.

    → ``(group, n_intervals, peak_concurrent, peak_at_us)``
    (earliest instant attaining the peak).
    """
    starts = intervals.select(
        F.col(group_col).alias("group"),
        F.col(start_col).cast("long").alias("t"),
        F.lit(1).alias("delta"),
    )
    ends = intervals.select(
        F.col(group_col).alias("group"),
        F.col(end_col).cast("long").alias("t"),
        F.lit(-1).alias("delta"),
    )
    deltas = starts.unionByName(ends)
    w_sweep = (
        Window.partitionBy("group")
        .orderBy(F.col("t").asc(), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = deltas.select(
        "group",
        "t",
        "delta",
        F.sum("delta").over(w_sweep).cast("long").alias("live"),
    ).withColumn(
        "peak", F.max("live").over(Window.partitionBy("group")).cast("long")
    )
    return run.groupBy("group").agg(
        F.expr("CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)")
        .alias("n_intervals"),
        F.max("peak").alias("peak_concurrent"),
        F.min(F.when(F.col("live") == F.col("peak"), F.col("t")))
        .cast("long")
        .alias("peak_at_us"),
    )


def weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Weighted median per group: the smallest value whose cumulative
    weight reaches half the total — "the price at which half the
    QUANTITY (not half the rows) trades", the volume-weighted center a
    plain median misstates whenever weight correlates with value.

    EXACTNESS: integer weights (the CONTRACT), cumulative sums over
    the per-VALUE aggregated table, and the pick is
    ``min value with 2·cum ≥ total`` — pure BIGINT comparison (the
    lower-weighted-median convention; no interpolation, no float).

    Scale: one (group, value) keyed agg collapses the corpus, then one
    group-keyed cumulative window over distinct values + one keyed
    agg. Value cardinality per group bounds the window, not row count.

    → ``(group, total_weight, weighted_median)``.
    """
    vw = (
        df.groupBy(F.col(group_col).alias("group"), F.col(value_col).alias("value"))
        .agg(F.sum(F.col(weight_col).cast("long")).cast("long").alias("w"))
    )
    w_cum = (
        Window.partitionBy("group")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("group")
    cum = vw.select(
        "group",
        "value",
        F.sum("w").over(w_cum).cast("long").alias("cum"),
        F.sum("w").over(w_all).cast("long").alias("total"),
    )
    return cum.groupBy("group").agg(
        F.max("total").alias("total_weight"),
        F.min(
            F.when(2 * F.col("cum") >= F.col("total"), F.col("value"))
        ).alias("weighted_median"),
    )


def auc_mann_whitney(
    df: DataFrame,
    group_col: str,
    label_col: str,
    score_col: str,
) -> DataFrame:
    """Exact ROC-AUC per group by the Mann-Whitney rank statistic —
    AUC is the probability a random positive outscores a random
    negative, i.e. ``U / (n_pos·n_neg)`` with tie-correct average
    ranks (Mann & Whitney 1947; the AUC≡U identity is Hanley &
    McNeil 1982, public) — the model-quality number every classifier
    rollout gates on, computed WITHOUT thresholds or interpolation.

    EXACTNESS (the ``spearman_corr`` discipline): doubled average
    ranks ``R2 = 2·rank + cnt_eq − 1`` keep everything BIGINT;
    ``U2 = Σ R2(positives) − n_pos·(n_pos+1) = 2U`` stays integer, and
    ``AUC = U2 / (2·n_pos·n_neg)`` is ONE fixed double shape rounded
    to 6. Ties get the standard 0.5 credit automatically.

    Scale (round 9, guide §2.5): every row of a tied score shares one
    doubled rank ``R2 = 2·cum − cnt + 1`` over per-(group, score)
    counts, and the Mann-Whitney sum needs only ``Σ pos·R2`` — so the
    corpus collapses to a per-value count table in ONE keyed
    map-side-combinable agg, the rank window runs over distinct scores
    (not raw rows), and nothing ever joins back. The previous shape
    windowed the raw table partitioned by the group key: a
    low-cardinality group sorts the corpus on that many tasks, which
    AQE cannot split. Same BIGINT sums — bit-identical output.

    → ``(group, n_pos, n_neg, u2, auc)``.
    """
    per_val = df.groupBy(
        F.col(group_col).alias("group"), F.col(score_col).alias("v")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.when(F.col(label_col).cast("boolean"), 1).otherwise(0))
        .cast("long")
        .alias("pos"),
    )
    w = Window.partitionBy("group").orderBy("v")
    r2 = (2 * F.sum("cnt").over(w) - F.col("cnt") + 1).cast("long")
    m = (
        per_val.select("group", "cnt", "pos", r2.alias("r2"))
        .groupBy("group")
        .agg(
            F.sum("pos").cast("long").alias("n_pos"),
            F.sum(F.col("cnt") - F.col("pos")).cast("long").alias("n_neg"),
            F.sum(F.col("pos") * F.col("r2")).cast("long").alias("__s2pos"),
        )
    )
    u2 = (F.col("__s2pos") - F.col("n_pos") * (F.col("n_pos") + 1)).cast(
        "long"
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.round(
            F.col("u2").cast("double")
            / (
                2.0
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            ),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return m.withColumn("u2", u2).select(
        "group", "n_pos", "n_neg", "u2", auc.alias("auc")
    )


def calibration_table(
    df: DataFrame,
    label_col: str,
    score_micro_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Reliability diagram + expected calibration error from
    MICRO-INTEGER scores: rows bucket by predicted confidence, each
    bucket reports observed accuracy vs mean confidence, and ECE is
    the support-weighted |acc − conf| total (Naeini et al. 2015,
    public) — the "is 0.9 really 90%?" audit behind every
    quality-filter threshold.

    CONTRACT: ``score_micro_col`` is the score in integer MICRO-units
    (callers producing round(score, 6) doubles multiply by 10^6 and
    cast — exact). Then EVERYTHING except two final display shapes is
    BIGINT: bucket = min(score_micro·B div 10^6, B−1), per-bucket
    confidence mass is Σ score_micro, and the ECE numerator is
    Σ_buckets |n_pos·10^6 − Σ score_micro| — an exact integer in any
    partition order (the contingency_chi2 lesson: quantize BEFORE the
    order-sensitive total). acc, conf, and ECE are fixed double
    shapes rounded to 6.

    → one row per non-empty bucket: ``(bucket, n, n_pos, acc, conf,
    ece)`` with ece repeated (grain: bucket).
    """
    b = int(n_buckets)
    bucket = F.least(
        F.expr(f"CAST((score_micro * {b}) div 1000000 AS BIGINT)"),
        F.lit(b - 1).cast("long"),
    )
    base = df.select(
        F.col(label_col).cast("boolean").alias("y"),
        F.col(score_micro_col).cast("long").alias("score_micro"),
    ).withColumn("bucket", bucket)
    per = base.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum("score_micro").cast("long").alias("__conf_micro"),
    )
    w_all = Window.partitionBy()
    per2 = per.withColumn(
        "__ece_num",
        F.sum(
            F.abs(F.col("n_pos") * F.lit(1000000) - F.col("__conf_micro"))
        )
        .over(w_all)
        .cast("long"),
    ).withColumn("__n_tot", F.sum("n").over(w_all).cast("long"))
    acc = F.round(F.col("n_pos").cast("double") / F.col("n").cast("double"), 6)
    conf = F.round(
        F.col("__conf_micro").cast("double")
        / (F.col("n").cast("double") * 1000000.0),
        6,
    )
    ece = F.round(
        F.col("__ece_num").cast("double")
        / (F.col("__n_tot").cast("double") * 1000000.0),
        6,
    )
    return per2.select(
        "bucket",
        "n",
        "n_pos",
        acc.alias("acc"),
        conf.alias("conf"),
        ece.alias("ece"),
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 3,
) -> DataFrame:
    """Market-basket association rules a→b over (basket, item) rows:
    support, confidence, and lift from EXACT integer counts — the
    retail/co-curriculum "customers who took a also took b" table
    (Agrawal et al. 1993, public), directed both ways per qualifying
    pair.

    All mass counts are BIGINT off two keyed aggs (pair counts via the
    basket self-join bounded by per-basket fan-out — the part-affinity
    contract; item counts map-side combined). ``support_micro`` and
    ``confidence_micro`` are truncating integer divisions;
    ``lift = co·N/(n_a·n_b)`` is ONE double shape rounded to 6
    (> 1 means the pair co-occurs above independence).

    → ``(antecedent, consequent, n_pair, n_antecedent, support_micro,
    confidence_micro, lift)`` for pairs with ``n_pair ≥
    min_pair_count``.
    """
    bi = df.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).distinct()
    a = bi.select(F.col("b"), F.col("i").alias("x"))
    c = bi.select(F.col("b"), F.col("i").alias("y"))
    pairs = (
        a.join(c, "b")
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("co"))
        .where(F.col("co") >= F.lit(int(min_pair_count)))
    )
    items = bi.groupBy(F.col("i")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    n_baskets = bi.select("b").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    both = (
        pairs.join(items.select(F.col("i").alias("x"), F.col("cnt").alias("nx")), "x")
        .join(items.select(F.col("i").alias("y"), F.col("cnt").alias("ny")), "y")
        .crossJoin(F.broadcast(n_baskets))
    )
    fwd = both.select(
        F.col("x").alias("antecedent"),
        F.col("y").alias("consequent"),
        F.col("co"),
        F.col("nx").alias("n_ante"),
        F.col("ny").alias("n_cons"),
        F.col("n"),
    )
    rev = both.select(
        F.col("y").alias("antecedent"),
        F.col("x").alias("consequent"),
        F.col("co"),
        F.col("ny").alias("n_ante"),
        F.col("nx").alias("n_cons"),
        F.col("n"),
    )
    rules = fwd.unionByName(rev)
    lift = F.round(
        F.col("co").cast("double")
        * F.col("n").cast("double")
        / (F.col("n_ante").cast("double") * F.col("n_cons").cast("double")),
        6,
    )
    return rules.select(
        "antecedent",
        "consequent",
        F.col("co").alias("n_pair"),
        F.col("n_ante").alias("n_antecedent"),
        F.expr("CAST((co * 1000000) div n AS BIGINT)").alias("support_micro"),
        F.expr("CAST((co * 1000000) div n_ante AS BIGINT)").alias(
            "confidence_micro"
        ),
        lift.alias("lift"),
    )


def sequence_gaps(
    df: DataFrame,
    id_col: str,
    block_size: int = 4096,
    min_gap_len: int = 1,
) -> DataFrame:
    """Missing-id ranges in a BIGINT key space — "which order ids never
    landed?", the completeness audit behind replay/backfill decisions,
    as contiguous ``[gap_start, gap_end]`` ranges instead of a
    row-per-missing-id explosion.

    The distributed design is TWO-LEVEL (a global lag window over every
    distinct id would funnel the corpus through one task):

    1. ids are hashed into ``id div block_size`` blocks; INTERNAL gaps
       come from a lag window PARTITIONED by block — corpus-parallel;
    2. BOUNDARY gaps (between one block's max and the next observed
       block's min — including wholly-missing blocks in between) come
       from a second lag window over the per-block (min, max) summary,
       which is block-cardinality, not corpus-cardinality.

    Everything is exact BIGINT arithmetic; ``min_gap_len`` filters
    noise ranges. The union of (1) and (2) is exactly the global gap
    set — pinned by the randomized-vs-sequential test.

    → ``(gap_start, gap_end, gap_len)``.
    """
    ids = df.select(F.col(id_col).cast("long").alias("id")).distinct()
    blocked = ids.withColumn(
        "block", F.expr(f"id div {int(block_size)}")
    )
    w_in = Window.partitionBy("block").orderBy("id")
    internal = (
        blocked.withColumn("prev", F.lag("id").over(w_in))
        .where(F.col("prev").isNotNull() & (F.col("id") - F.col("prev") > 1))
        .select(
            (F.col("prev") + 1).alias("gap_start"),
            (F.col("id") - 1).alias("gap_end"),
        )
    )
    summary = blocked.groupBy("block").agg(
        F.min("id").alias("mn"), F.max("id").alias("mx")
    )
    w_blk = Window.orderBy("block")
    boundary = (
        summary.withColumn("prev_mx", F.lag("mx").over(w_blk))
        .where(
            F.col("prev_mx").isNotNull()
            & (F.col("mn") - F.col("prev_mx") > 1)
        )
        .select(
            (F.col("prev_mx") + 1).alias("gap_start"),
            (F.col("mn") - 1).alias("gap_end"),
        )
    )
    out = internal.unionByName(boundary).select(
        "gap_start",
        "gap_end",
        (F.col("gap_end") - F.col("gap_start") + 1).cast("long").alias(
            "gap_len"
        ),
    )
    return out.where(F.col("gap_len") >= F.lit(int(min_gap_len)))


def conversion_delay_quantiles(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    from_type: str,
    to_type: str,
    cohort_fn,
) -> DataFrame:
    """Funnel latency profile: per cohort, the p50/p90/mean delay from
    a user's FIRST ``from_type`` event to their first LATER
    ``to_type`` event — "how long from signup to purchase, by signup
    month?", the activation metric a conversion count alone hides.

    EXACTNESS (the ``interarrival_quantiles`` discipline): first-event
    times are min() aggregates in integer microseconds; only
    converted users (to strictly after from) survive; quantiles are
    LOWER EMPIRICAL values at pure-integer rank indexes and the mean
    is truncating BIGINT division. ``cohort_fn`` maps the from-event
    timestamp Column to a cohort label Column (e.g. month truncation).

    Scale: one user-keyed conditional agg over the two event types
    (map-side combined), then one cohort-keyed rank window over one
    row per converted user.

    → ``(cohort, n_converted, p50_delay_us, p90_delay_us,
    mean_delay_us)``.
    """
    us = F.unix_micros(F.col(ts_col))
    firsts = (
        df.where(F.col(type_col).isin([from_type, to_type]))
        .groupBy(F.col(user_col).alias("user"))
        .agg(
            F.min(F.when(F.col(type_col) == from_type, us)).alias("__t_from"),
            F.min(F.when(F.col(type_col) == to_type, us)).alias("__t_to"),
        )
        .where(
            F.col("__t_from").isNotNull()
            & F.col("__t_to").isNotNull()
            & (F.col("__t_to") > F.col("__t_from"))
        )
    )
    delays = firsts.select(
        cohort_fn(F.timestamp_micros(F.col("__t_from"))).alias("cohort"),
        (F.col("__t_to") - F.col("__t_from")).cast("long").alias("delay_us"),
    )
    w_rank = Window.partitionBy("cohort").orderBy(F.col("delay_us").asc())
    w_grp = Window.partitionBy("cohort")
    ranked = delays.select(
        "cohort",
        "delay_us",
        F.row_number().over(w_rank).cast("long").alias("r"),
        F.count(F.lit(1)).over(w_grp).cast("long").alias("n"),
    )
    i50 = F.expr("(n - 1) div 2 + 1")
    i90 = F.expr("((n - 1) * 9) div 10 + 1")
    return ranked.groupBy("cohort").agg(
        F.max("n").alias("n_converted"),
        F.max(F.when(F.col("r") == i50, F.col("delay_us")))
        .cast("long")
        .alias("p50_delay_us"),
        F.max(F.when(F.col("r") == i90, F.col("delay_us")))
        .cast("long")
        .alias("p90_delay_us"),
        F.expr("sum(delay_us) div max(n)").cast("long").alias("mean_delay_us"),
    )


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """One-way ANOVA F-statistic across ALL groups at once — "do these
    k sources differ in mean at all?", the k-group gate you run before
    drilling into :func:`welch_ttest`'s pairwise table (Fisher 1925,
    public).

    EXACTNESS (the sum-of-doubles trap, again): the between-group sum
    of squares is ``Σ_g S_g²/n_g − S²/N`` — a sum of per-group
    RATIONALS, which as doubles would be partition-order-dependent.
    Each term is therefore quantized FIRST: ``(10⁶·S_g²) div n_g`` is
    truncating DECIMAL(38,0) division (S_g² overflows BIGINT at the
    10× tier), so ``ssb_micro``/``ssw_micro`` are exact BIGINTs in any
    order, and F is ONE double shape rounded to 6. Integer values are
    the CONTRACT.

    Scale: one group-keyed moment agg (map-side combined) over the
    corpus; everything after is group-cardinality arithmetic riding
    one bounded unpartitioned window (groups are bounded by contract).

    → one row: ``(k_groups, n, ssb_micro, ssw_micro, df_between,
    df_within, f_stat)``.
    """
    d38 = "decimal(38,0)"
    g = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(F.col(value_col).cast("long")).cast("long").alias("s_g"),
        F.sum(
            (F.col(value_col).cast("long") * F.col(value_col).cast("long"))
            .cast(d38)
        ).alias("s2_g"),
    )
    term = F.expr(
        "CAST((CAST(s_g AS DECIMAL(38,0)) * s_g * 1000000) div n_g AS DECIMAL(38,0))"
    )
    tot = g.select(
        F.col("n_g"),
        F.col("s_g"),
        F.col("s2_g"),
        term.alias("__term_micro"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("s2_g").alias("sq"),
        F.sum("__term_micro").alias("__terms"),
    )
    staged = tot.withColumn(
        "__grand_micro",
        F.expr(
            "CAST((CAST(s AS DECIMAL(38,0)) * s * 1000000) div n AS DECIMAL(38,0))"
        ),
    )
    ssb = (F.col("__terms") - F.col("__grand_micro")).cast(d38)
    sst = (
        F.col("sq") * F.lit(1000000).cast(d38) - F.col("__grand_micro")
    ).cast(d38)
    staged = staged.withColumn("__ssb", ssb).withColumn(
        "__ssw", (sst - ssb).cast(d38)
    )
    df1 = (F.col("k_groups") - 1).cast("long")
    df2 = (F.col("n") - F.col("k_groups")).cast("long")
    f = F.when(
        (df1 > 0) & (df2 > 0) & (F.col("__ssw") > 0),
        F.round(
            (F.col("__ssb").cast("double") / df1.cast("double"))
            / (F.col("__ssw").cast("double") / df2.cast("double")),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return staged.select(
        "k_groups",
        "n",
        F.col("__ssb").cast("long").alias("ssb_micro"),
        F.col("__ssw").cast("long").alias("ssw_micro"),
        df1.alias("df_between"),
        df2.alias("df_within"),
        f.alias("f_stat"),
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Kruskal-Wallis H across all groups — the rank-based (outlier-
    immune) twin of :func:`anova_oneway` (Kruskal & Wallis 1952,
    public) — computed WITHOUT the global rank window that would
    funnel the corpus through one task: for discrete/binned values
    (the ``kendall_tau_binned`` CONTRACT) the doubled average rank of
    value v is ``2·cnt_below(v) + cnt_eq(v) + 1``, derivable from the
    VALUE HISTOGRAM — so ranking costs one value-keyed count plus a
    cumulative walk over value-cardinality rows, and rank sums come
    from the (group, value) table.

    EXACTNESS: per-group rank sums stay doubled BIGINTs; the H
    numerator terms ``S2_g²/n_g`` are micro-quantized by truncating
    DECIMAL(38,0) division BEFORE the cross-group total (order-free);
    the tie term ``Σ t³−t`` is exact; H (with tie correction) is ONE
    double shape rounded to 6.

    → one row: ``(k_groups, n, tie_t, h_stat)``.
    """
    d38 = "decimal(38,0)"
    gv = (
        df.select(
            F.col(group_col).alias("g"), F.col(value_col).cast("long").alias("v")
        )
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    vh = gv.groupBy("v").agg(F.sum("c").cast("long").alias("cv"))
    w_cum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    vh2 = vh.select(
        "v",
        "cv",
        (F.sum("cv").over(w_cum).cast("long") - F.col("cv")).alias("below"),
    )
    # doubled average rank of value v: 2*below + cv + 1
    ranked = gv.join(vh2, "v").select(
        "g",
        "c",
        "cv",
        (2 * F.col("below") + F.col("cv") + 1).cast("long").alias("r2"),
    )
    per_g = ranked.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_g"),
        F.sum((F.col("c").cast(d38) * F.col("r2").cast(d38))).alias("s2_g"),
    )
    term = F.expr("CAST((s2_g * s2_g * 250000) div n_g AS DECIMAL(38,0))")
    # 250000 = 10^6 / 4: S_g = S2_g/2, so S_g^2 = S2_g^2/4
    tot_t = vh.agg(
        F.sum(
            (F.col("cv").cast(d38) * F.col("cv").cast(d38) * F.col("cv").cast(d38)
             - F.col("cv").cast(d38))
        ).alias("tie_t"),
        F.sum("cv").cast("long").alias("n"),
    )
    tot = per_g.withColumn("__term", term).agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("__term").alias("__terms_micro"),
    )
    j = tot.crossJoin(F.broadcast(tot_t))
    n = F.col("n").cast("double")
    terms = F.col("__terms_micro").cast("double") / 1000000.0
    h_raw = 12.0 * terms / (n * (n + 1.0)) - 3.0 * (n + 1.0)
    tie_div = 1.0 - F.col("tie_t").cast("double") / (n * n * n - n)
    h = F.when(
        (F.col("n") > F.col("k_groups")) & (tie_div > 0),
        F.round(h_raw / tie_div, 6),
    ).otherwise(F.lit(0.0))
    return j.select(
        "k_groups",
        "n",
        F.col("tie_t").cast("long").alias("tie_t"),
        h.alias("h_stat"),
    )


def siegel_slopes(
    df: DataFrame,
    key_col: str,
    t_col: str,
    y_col: str,
) -> DataFrame:
    """Siegel repeated-medians trend per key: the median over points i
    of (the median over j of the pairwise slope i→j) — the 50%
    breakdown-point estimator (Siegel 1982, public), robust where even
    :func:`theil_sen_slope` (29%) gives way: half the POINTS can be
    corrupted, not just half the pairs.

    CONTRACT and EXACTNESS are Theil-Sen's, taken one level deeper:
    bounded pre-aggregated points per key (pair enumeration is C(n,2));
    slopes quantized to MILLI-units by pure-BIGINT truncating division;
    the INNER median per anchor point is the two-middle SUM (×2 scale,
    exact), and the OUTER median is the two-middle sum of those
    (×4 scale total) — no float ever. Divide by 4000 for the slope.

    → ``(key, n_points, siegel_milli_x4)``, one row per key with ≥ 2
    points (a single-point key has no pairwise slope — same documented
    contract as :func:`theil_sen_slope`; :func:`mann_kendall` differs
    deliberately because its output is a VERDICT, and "flat" is the
    right verdict for one point, whereas an undefined slope is not 0).
    """
    left = df.select(
        F.col(key_col).alias("key"),
        F.col(t_col).cast("long").alias("t1"),
        F.col(y_col).cast("long").alias("y1"),
    )
    right = df.select(
        F.col(key_col).alias("key"),
        F.col(t_col).cast("long").alias("t2"),
        F.col(y_col).cast("long").alias("y2"),
    )
    pairs = left.join(right, "key").where(F.col("t1") != F.col("t2"))
    slope_milli = F.expr("(1000 * (y2 - y1)) div (t2 - t1)")
    inner = (
        pairs.select("key", F.col("t1").alias("anchor"), slope_milli.alias("__s"))
        .groupBy("key", "anchor")
        .agg(
            (F.lit(2.0) * F.percentile(F.col("__s"), 0.5))
            .cast("long")
            .alias("__med_x2")
        )
    )
    n_pts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_points")
    )
    outer = inner.groupBy("key").agg(
        (F.lit(2.0) * F.percentile(F.col("__med_x2"), 0.5))
        .cast("long")
        .alias("siegel_milli_x4")
    )
    return n_pts.join(outer, "key").select(
        "key", "n_points", "siegel_milli_x4"
    )


def delta_encoding_audit(
    df: DataFrame,
    key_col: str,
    t_col: str,
    value_col: str,
) -> DataFrame:
    """Delta-encoding compressibility audit per series: how much
    smaller are successive DIFFERENCES than raw values — the
    storage-layout probe (next to ``zorder_layout`` /
    ``compaction_plan``) that says whether a sorted time-series column
    should be delta-encoded before it costs 100 TB: a ratio near 0
    means smooth series (delta wins), near/above 1 means noise (skip).

    All integer: Σ|Δ| and Σ|x| are BIGINT sums off one keyed lag
    window over pre-aggregated (key, t) rows; the ratio is micro-
    quantized truncating division, plus the exact bit-width shrink
    (max |Δ| vs max |x| log2 bucket — the explicit ln-ratio floor both
    engines share).

    → ``(key, n_points, sum_abs_raw, sum_abs_delta, delta_ratio_micro,
    raw_bits, delta_bits)``.
    """
    w = Window.partitionBy("key").orderBy("t")
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(t_col).cast("long").alias("t"),
        F.col(value_col).cast("long").alias("x"),
    )
    lagged = base.withColumn("__d", F.col("x") - F.lag("x").over(w))
    agg = lagged.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum(F.abs(F.col("x"))).cast("long").alias("sum_abs_raw"),
        F.sum(F.abs(F.col("__d"))).cast("long").alias("sum_abs_delta"),
        F.max(F.abs(F.col("x"))).cast("long").alias("__max_raw"),
        F.max(F.abs(F.col("__d"))).cast("long").alias("__max_delta"),
    )

    def _bits(c: Column) -> Column:
        # exact bit width with NO float log at all: the length of the
        # binary string (Spark bin() == DuckDB bin(), no leading zeros)
        return (
            F.when(c > 0, F.length(F.bin(c)).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )

    ratio = F.when(
        F.col("sum_abs_raw") > 0,
        F.expr("CAST((sum_abs_delta * 1000000) div sum_abs_raw AS BIGINT)"),
    ).otherwise(F.lit(0).cast("long"))
    return agg.select(
        "key",
        "n_points",
        "sum_abs_raw",
        "sum_abs_delta",
        ratio.alias("delta_ratio_micro"),
        _bits(F.col("__max_raw")).alias("raw_bits"),
        _bits(F.col("__max_delta")).alias("delta_bits"),
    )


def trimmed_mean(
    df: DataFrame,
    group_col: str,
    value_col: str,
    trim_frac: float = 0.1,
) -> DataFrame:
    """Two-sided trimmed mean per group: drop the lowest and highest
    ``floor(n·trim)`` observations by rank, average the middle — the
    robust location estimate between the mean (trim 0) and the median
    (trim 0.5), standard for latency/price summaries where tails are
    noise. Complements :func:`winsorize` (which CLAMPS tails instead
    of dropping them).

    EXACTNESS: rank bounds are pure integers (``lo = n·t div d + 1``,
    ``hi = n − n·t div d`` with the trim fraction as an exact
    rational), the kept-mass sum is DECIMAL, and the mean is one
    double shape rounded to 6. Ties are interchangeable under
    rank-range selection, so value ordering alone determines the
    result.

    Scale: one rank window partitioned by group + one keyed agg.

    → ``(group, n, n_kept, trimmed_mean)``.
    """
    if not (0 <= trim_frac < 0.5):
        raise ValueError(f"trim_frac must be in [0, 0.5), got {trim_frac}")
    # exact rational: trim_frac quantized to ppm
    t_ppm = int(round(trim_frac * 1_000_000))
    ranked = df.select(
        F.col(group_col).alias("group"),
        F.col(value_col).cast("decimal(18,2)").alias("v"),
    ).select(
        "group",
        "v",
        F.row_number().over(
            Window.partitionBy("group").orderBy("v")
        ).cast("long").alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("group")).cast("long").alias("n"),
    )
    k = F.expr(f"(n * {t_ppm}) div 1000000")
    kept = ranked.withColumn("__lo", k + 1).withColumn(
        "__hi", F.col("n") - k
    )
    agg = kept.groupBy("group").agg(
        F.max("n").alias("n"),
        F.sum(
            F.when(
                (F.col("r") >= F.col("__lo")) & (F.col("r") <= F.col("__hi")),
                F.col("v"),
            )
        ).alias("__s"),
        F.sum(
            F.when(
                (F.col("r") >= F.col("__lo")) & (F.col("r") <= F.col("__hi")),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).cast("long").alias("n_kept"),
    )
    mean = F.when(
        F.col("n_kept") > 0,
        F.round(F.col("__s").cast("double") / F.col("n_kept").cast("double"), 6),
    ).otherwise(F.lit(0.0))
    return agg.select("group", "n", "n_kept", mean.alias("trimmed_mean"))


def mode_value(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Deterministic mode per group: the most frequent value, SMALLEST
    value winning count ties — the categorical/discrete summary the
    mean misrepresents, with a total tie order so the result is a
    function of the data (Spark's own ``mode`` is tie-arbitrary).

    One (group, value) keyed count + one keyed max-struct fold —
    ``max(struct(cnt, -value))`` picks highest count then lowest
    value without a window or a second shuffle. Integer values are
    the CONTRACT (negation needs a numeric total order).

    → ``(group, mode_value, mode_count, n_distinct)``.
    """
    vc = (
        df.groupBy(
            F.col(group_col).alias("group"),
            F.col(value_col).cast("long").alias("v"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    best = F.max(F.struct(F.col("cnt"), (-F.col("v")).alias("nv"))).alias("__b")
    return vc.groupBy("group").agg(
        best,
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    ).select(
        "group",
        (-F.col("__b.nv")).cast("long").alias("mode_value"),
        F.col("__b.cnt").alias("mode_count"),
        "n_distinct",
    )


def psi_drift(
    df: DataFrame,
    value_col: str,
    split_col: Column,
    edges: list[float],
) -> DataFrame:
    """Population Stability Index between two corpus slices — the
    model-monitoring standard (banking's "PSI > 0.25 = retrain")
    :func:`chi2_drift` deliberately avoided while the engine lacked a
    portable log discipline: each bucket term
    ``(q − p)·ln(q/p)`` is rounded to 9 dp and summed as DECIMAL (the
    ``token_entropy_by_group`` treatment), so the total is
    order-independent and the oracle replays libm's ln bit-for-bit at
    that precision.

    Same single-pass shape as chi2_drift: one bucket-keyed conditional
    agg (map-side combined), totals via a window over the POST-AGG
    bucket table, Laplace +1 smoothing on counts so empty buckets
    contribute finite mass.

    → one row per bucket: ``(bucket, n_ref, n_cur, p_ref, q_cur,
    psi_term, psi_total)`` with the exact-decimal total repeated.
    """
    v = F.col(value_col).cast("double")
    bucket: Column = F.lit(0)
    for i, e in enumerate(edges):
        bucket = F.when(v >= F.lit(float(e)), F.lit(i + 1)).otherwise(bucket)
    # NULL values get a DEDICATED bucket (-1): every `v >= edge`
    # comparison is NULL for a NULL value, so the when-chain would
    # otherwise fall through to bucket 0 and silently conflate
    # missingness with below-first-edge mass.
    bucket = F.when(v.isNull(), F.lit(-1)).otherwise(bucket)
    per_bucket = df.select(
        bucket.alias("bucket"), split_col.alias("is_ref")
    ).groupBy("bucket").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).cast("long").alias("n_ref"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).cast("long").alias("n_cur"),
    )
    full = Window.partitionBy()
    # Laplace smoothing: +1 per bucket on both sides (portable, keeps
    # ln finite); shares therefore use the smoothed totals
    nb = F.count(F.lit(1)).over(full).cast("long")
    sm_ref = (F.col("n_ref") + 1).cast("double")
    sm_cur = (F.col("n_cur") + 1).cast("double")
    tot_ref = (F.sum("n_ref").over(full) + nb).cast("double")
    tot_cur = (F.sum("n_cur").over(full) + nb).cast("double")
    p = sm_ref / tot_ref
    q = sm_cur / tot_cur
    term = F.round((q - p) * F.log(q / p), 9).cast("decimal(28,12)")
    staged = per_bucket.withColumn("__term", term)
    psi_total = F.sum("__term").over(full)
    return staged.select(
        "bucket",
        "n_ref",
        "n_cur",
        F.round(p, 6).alias("p_ref"),
        F.round(q, 6).alias("q_cur"),
        F.round(F.col("__term").cast("double"), 9).alias("psi_term"),
        F.round(psi_total.cast("double"), 6).alias("psi_total"),
    )


def bloom_fpr_audit(
    member: DataFrame,
    probe: DataFrame,
    member_key: str,
    probe_key: str,
    num_bits: int = 1 << 16,
    num_hashes: int = 3,
) -> DataFrame:
    """Realized-vs-theoretical false-positive-rate audit of the
    engine's Bloom machinery (:func:`bloom_prefilter` /
    ``text.bloom_contamination``): build the filter from ``member``,
    probe it with keys DISJOINT from the member set, and compare the
    measured FPR against ``(1 − e^(−k·n/m))^k`` — the calibration
    check that says whether m/k are sized right BEFORE a 100-TB
    decontamination run trusts them.

    All counts are exact BIGINT (a probe is a false positive iff all
    k of its deterministic bit positions are set); the hash family is
    the PORTABLE md5-prefix one (`sampling.hash_fraction` discipline
    — seed-salted, first 8 hex chars mod m) so the oracle replays the
    filter bit-for-bit (``bloom_prefilter`` itself uses xxhash64 for
    speed because its RESULT is hash-transparent; this audit's result
    IS the hash behavior). Only the theory column evaluates a libm
    exp, rounded to 6 — a single scalar, the entropy-discipline
    exposure. Probes that ARE members are excluded (they'd be true
    positives, not errors).

    → one row: ``(n_member, n_probe, bits_set, n_false_positive,
    fpr_micro, theory_fpr)``.
    """
    def positions(key_col: Column, seed: int) -> Column:
        h = F.md5(F.concat(F.lit(str(seed)), F.lit("|"), key_col.cast("string")))
        return F.pmod(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long"),
            F.lit(num_bits),
        )

    bits = None
    for s in range(num_hashes):
        p = member.select(positions(F.col(member_key), s).alias("bit"))
        bits = p if bits is None else bits.unionByName(p)
    bits = bits.distinct()

    probes = probe.select(F.col(probe_key).alias("__pk")).distinct().join(
        member.select(F.col(member_key).alias("__pk")).distinct(),
        "__pk",
        "left_anti",
    )
    hit = probes
    for s in range(num_hashes):
        hit = hit.join(
            F.broadcast(bits.withColumnRenamed("bit", f"_b{s}")),
            positions(F.col("__pk"), s) == F.col(f"_b{s}"),
            "left_semi",
        )
    n_member = member.select(F.col(member_key)).distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_member")
    )
    n_probe = probes.agg(F.count(F.lit(1)).cast("long").alias("n_probe"))
    n_bits = bits.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
    n_fp = hit.agg(F.count(F.lit(1)).cast("long").alias("n_false_positive"))
    out = (
        n_member.crossJoin(F.broadcast(n_probe))
        .crossJoin(F.broadcast(n_bits))
        .crossJoin(F.broadcast(n_fp))
    )
    fpr_micro = F.when(
        F.col("n_probe") > 0,
        F.expr("CAST((n_false_positive * 1000000) div n_probe AS BIGINT)"),
    ).otherwise(F.lit(0).cast("long"))
    k = float(num_hashes)
    m = float(num_bits)
    theory = F.round(
        F.pow(
            1.0
            - F.exp(-k * F.col("n_member").cast("double") / F.lit(m)),
            k,
        ),
        6,
    )
    return out.select(
        "n_member",
        "n_probe",
        "bits_set",
        "n_false_positive",
        fpr_micro.alias("fpr_micro"),
        theory.alias("theory_fpr"),
    )


def grid_dbscan(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: float,
    min_pts: int,
) -> DataFrame:
    """Grid-cell DBSCAN approximation: bucket points into eps-sized
    cells, keep CORE cells (≥ min_pts points), and cluster core cells
    by 8-neighborhood connectivity — the density-clustering shape that
    scales where point-level DBSCAN's eps-neighborhood join doesn't
    (cells quantize the neighborhood query into an equi-join; the
    classic grid/GriDBSCAN family, public). Points in non-core cells
    are noise (cluster_id NULL); the per-cluster rollup is what a
    hotspot/venue-detection pipeline reads.

    Determinism: cell ids are integer floors (`eps` quantized to ppm
    so both engines bucket identically), adjacency is a bounded
    8-offset explode + equi-join, and labels are MIN-cell-id
    components via POINTER JUMPING
    (:func:`dedup.connected_components_star`): a dense grid collapses
    into one component whose diameter grows with the grid SIDE
    (O(√cells) — the 10× tier's 40×40 grid has diameter ~78, which
    min-label propagation's O(diameter) rounds cannot finish), and
    large-star/small-star converges in O(log n) rounds regardless.

    Scale: one cell-keyed count (map-side combined) collapses the
    corpus; everything after is core-cell cardinality — the adjacency
    join is 8× cells, the components loop O(cluster diameter) rounds.

    → per-cluster rows ``(cluster_id, n_cells, n_points)``.
    """
    from datapipelines_essentials_python_spark.operators.dedup import (
        connected_components_star,
    )

    eps_ppm = int(round(eps * 1_000_000))
    cx = F.expr(
        f"CAST(floor(CAST({x_col} AS DECIMAL(18,6)) * 1000000 / {eps_ppm}) AS BIGINT)"
    )
    cy = F.expr(
        f"CAST(floor(CAST({y_col} AS DECIMAL(18,6)) * 1000000 / {eps_ppm}) AS BIGINT)"
    )
    cells = (
        points.select(
            F.col(id_col).alias("pid"), cx.alias("cx"), cy.alias("cy")
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    )
    core = cells.where(F.col("n_points") >= F.lit(int(min_pts)))
    # NOT persisted (round-9 measurement): the core-cell table is
    # referenced five times downstream, but every reference goes
    # through the same aggregation Exchange, and static exchange reuse
    # already dedups the corpus-collapsing pass — a persist() was tried
    # and measured ~1.2-2× SLOWER (eager cache materialization + cache
    # scan overhead on a table exchange reuse serves for free).
    # encode cell id (coords are non-negative after the +OFFSET shift;
    # generic inputs may be negative, so shift into positive range).
    # The (cx+1e6)*4e6+(cy+1e6) packing is injective ONLY for cell
    # indices in [-1e6, 3e6): outside that range two distinct cells
    # can collide (or the id goes negative), which would silently
    # merge unrelated clusters. The core-cell table is tiny (it is
    # the post-agg grid), so one min/max job is a cheap guard.
    bounds = core.agg(
        F.min("cx").alias("x_lo"),
        F.max("cx").alias("x_hi"),
        F.min("cy").alias("y_lo"),
        F.max("cy").alias("y_hi"),
    ).collect()[0]
    _lo, _hi = -1_000_000, 3_000_000
    if bounds["x_lo"] is not None and (
        bounds["x_lo"] < _lo
        or bounds["x_hi"] >= _hi
        or bounds["y_lo"] < _lo
        or bounds["y_hi"] >= _hi
    ):
        raise ValueError(
            "grid_dbscan: cell indices out of the injective encoding "
            f"range [{_lo}, {_hi}): cx in [{bounds['x_lo']}, "
            f"{bounds['x_hi']}], cy in [{bounds['y_lo']}, "
            f"{bounds['y_hi']}]. Increase eps or rescale coordinates."
        )
    offset = F.lit(1_000_000).cast("long")
    enc = ((F.col("cx") + offset) * F.lit(4_000_000).cast("long")
           + (F.col("cy") + offset)).cast("long")
    core_enc = core.withColumn("cell_id", enc)
    spark = points.sparkSession
    offsets = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
         if not (dx == 0 and dy == 0)],
        "dx long, dy long",
    )
    shifted = (
        core_enc.crossJoin(F.broadcast(offsets))
        .select(
            (F.col("cx") + F.col("dx")).alias("nx"),
            (F.col("cy") + F.col("dy")).alias("ny"),
            F.col("cell_id").alias("id_a"),
        )
    )
    neighbor = core_enc.select(
        F.col("cx").alias("nx"), F.col("cy").alias("ny"),
        F.col("cell_id").alias("id_b"),
    )
    adj = (
        shifted.join(neighbor, ["nx", "ny"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    comp = connected_components_star(
        adj,
        nodes=core_enc.select(F.col("cell_id").alias("id")),
    )
    labeled = core_enc.join(
        comp, core_enc["cell_id"] == comp["id"]
    ).select(
        F.col("component").alias("cluster_id"),
        F.col("n_points"),
    )
    return labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("n_points").cast("long").alias("n_points"),
    )


def diff_in_diff(
    df: DataFrame,
    treat_col: Column,
    post_col: Column,
    value_col: str,
) -> DataFrame:
    """Difference-in-differences estimate with its standard error —
    the workhorse quasi-experimental effect estimator (Card & Krueger
    1994 popularized it, public): DiD = (T_post − T_pre) −
    (C_post − C_pre), SE from the four cells' sample variances
    (Welch-style), t = DiD/SE.

    EXACTNESS: integer values (cents, the CONTRACT); the four cells'
    (n, Σx, Σx²) come from ONE conditional moment pass (squares as
    DECIMAL(38,0)); means/variances/DiD/SE/t are fixed double shapes
    rounded to 6; ``significant`` uses the unrounded t.

    → one row: ``(n_t_pre, n_t_post, n_c_pre, n_c_post, did, se,
    t_stat, significant)``.
    """
    d38 = "decimal(38,0)"
    x = F.col(value_col).cast("long")
    base = df.select(
        treat_col.alias("t"), post_col.alias("p"), x.alias("x")
    )

    def _cell(tv: bool, pv: bool, suffix: str) -> list[Column]:
        flag = (F.col("t") == tv) & (F.col("p") == pv)
        z = F.lit(0).cast("long")
        return [
            F.sum(F.when(flag, 1).otherwise(0)).cast("long").alias(f"n_{suffix}"),
            F.sum(F.when(flag, F.col("x")).otherwise(z)).cast("long").alias(f"s_{suffix}"),
            F.sum(F.when(flag, (F.col("x") * F.col("x")).cast(d38)).otherwise(F.lit(0).cast(d38))).alias(f"q_{suffix}"),
        ]

    m = base.agg(
        *_cell(True, False, "t_pre"),
        *_cell(True, True, "t_post"),
        *_cell(False, False, "c_pre"),
        *_cell(False, True, "c_post"),
    )

    def _mean(sfx: str) -> Column:
        return F.col(f"s_{sfx}").cast("double") / F.col(f"n_{sfx}").cast("double")

    def _varn(sfx: str) -> Column:
        n = F.col(f"n_{sfx}").cast("double")
        s = F.col(f"s_{sfx}").cast("double")
        q = F.col(f"q_{sfx}").cast("double")
        return ((q - s * s / n) / (n - 1.0)) / n

    did_raw = (_mean("t_post") - _mean("t_pre")) - (
        _mean("c_post") - _mean("c_pre")
    )
    se2 = _varn("t_post") + _varn("t_pre") + _varn("c_post") + _varn("c_pre")
    # Degenerate-cell guards: an EMPTY cell makes a mean 0/0 (NaN), a
    # single-row cell makes its variance divide by n-1 = 0 — either
    # would leak NaN into the output. NULL says "not estimable"; 0
    # would lie.
    cells = ["t_pre", "t_post", "c_pre", "c_post"]
    all_nonempty = None
    all_var_ok = None
    for sfx in cells:
        ne = F.col(f"n_{sfx}") > 0
        vo = F.col(f"n_{sfx}") > 1
        all_nonempty = ne if all_nonempty is None else (all_nonempty & ne)
        all_var_ok = vo if all_var_ok is None else (all_var_ok & vo)
    did = F.when(all_nonempty, did_raw)
    est_ok = all_var_ok & (se2 > 0)
    se = F.when(est_ok, F.sqrt(se2))
    t = F.when(est_ok, did_raw / F.sqrt(se2))
    return m.select(
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        F.round(did, 6).alias("did"),
        F.round(se, 6).alias("se"),
        F.round(t, 6).alias("t_stat"),
        F.coalesce(F.abs(t) > F.lit(1.96), F.lit(False)).alias(
            "significant"
        ),
    )


def cache_hit_curve(
    df: DataFrame,
    key_col: str,
    k_values: list[int],
) -> DataFrame:
    """Cache-admission hit-rate curve: if the TOP-k hottest keys were
    pinned (LFU-style), what share of accesses would hit — the
    capacity-planning curve behind dictionary pinning, broadcast-side
    caching, and hot-partition replication ("how much skew can k slots
    absorb?"). Reads next to ``heavy_hitters`` / ``skew_profile``.

    All exact: one key-keyed count collapses the accesses; keys rank
    by (count DESC, key ASC); per k the covered mass is a conditional
    sum and ``hit_micro`` is truncating division. ``k_values`` is the
    bounded contract; the rank window runs over DISTINCT keys (the
    range-partition note of `range_partition_plan` applies when key
    cardinality is extreme).

    → ``(k, n_keys_total, covered_accesses, total_accesses,
    hit_micro)``, one row per requested k.
    """
    if not k_values:
        raise ValueError("cache_hit_curve needs at least one k")
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("key").asc())
    ranked = counts.select(
        "cnt", F.row_number().over(w).cast("long").alias("r")
    )
    spark = df.sparkSession
    ks = spark.createDataFrame(
        [(int(k),) for k in sorted(set(k_values))], "k long"
    )
    tot = ranked.agg(
        F.sum("cnt").cast("long").alias("total_accesses"),
        F.count(F.lit(1)).cast("long").alias("n_keys_total"),
    )
    per_k = (
        ranked.join(F.broadcast(ks), ranked["r"] <= ks["k"])
        .groupBy("k")
        .agg(F.sum("cnt").cast("long").alias("covered_accesses"))
    )
    out = ks.join(per_k, "k", "left").crossJoin(F.broadcast(tot)).select(
        "k",
        "n_keys_total",
        F.coalesce(F.col("covered_accesses"), F.lit(0).cast("long")).alias(
            "covered_accesses"
        ),
        "total_accesses",
    )
    return out.withColumn(
        "hit_micro",
        F.expr("CAST((covered_accesses * 1000000) div total_accesses AS BIGINT)"),
    )


def wilson_intervals(
    df: DataFrame,
    group_col: str,
    success_col: Column,
    z: float = 1.96,
) -> DataFrame:
    """Wilson score interval per group for a binomial proportion — the
    small-n-safe confidence interval (Wilson 1927, public) that the
    naive ±z√(p(1−p)/n) gets wrong exactly where it matters (rates
    near 0/1, small segments): lower/upper =
    ``(p + z²/2n ± z·√(p(1−p)/n + z²/4n²)) / (1 + z²/n)``.

    Counts are exact BIGINT from one conditional agg; the interval is
    fixed double shapes over them, rounded to 6. z is a caller
    constant (1.96 = 95%).

    → ``(group, n, successes, rate, ci_low, ci_high)``.
    """
    m = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(success_col, 1).otherwise(0)).cast("long").alias(
            "successes"
        ),
    )
    n = F.col("n").cast("double")
    p = F.col("successes").cast("double") / n
    z2 = float(z) * float(z)
    center = p + z2 / (2.0 * n)
    half = float(z) * F.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
    denom = 1.0 + z2 / n
    return m.select(
        "group",
        "n",
        "successes",
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("ci_low"),
        F.round((center + half) / denom, 6).alias("ci_high"),
    )


def eb_shrunk_rates(
    df: DataFrame,
    group_col: str,
    success_col: Column,
) -> DataFrame:
    """Empirical-Bayes (beta-binomial) shrinkage of per-group rates:
    fit a Beta(α, β) prior to the OBSERVED group rates by method of
    moments, then report each group's posterior mean
    ``(x + α)/(n + α + β)`` — the smoothed-CTR workhorse that stops a
    2-of-3 segment outranking a 400-of-1000 one (Robbins 1956 /
    the standard MoM recipe, public).

    Determinism: group counts are exact BIGINT; the prior moments are
    computed from the group-rate table (group-cardinality, bounded) as
    fixed double shapes via a 1-row broadcast; the shrunk rate is one
    more fixed shape rounded to 6. Degenerate prior variance (all
    groups identical) falls back to the raw rate.

    → ``(group, n, successes, raw_rate, alpha, beta, shrunk_rate)``
    with the fitted prior repeated (grain: group).
    """
    m = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(success_col, 1).otherwise(0)).cast("long").alias(
            "successes"
        ),
    )
    rate = F.col("successes").cast("double") / F.col("n").cast("double")
    rated = m.withColumn("__r", F.round(rate, 9))
    # prior moments over the GROUP-RATE table (bounded): mean and
    # variance of rates as fixed shapes from 9dp-rounded decimal sums
    stats = rated.agg(
        F.count(F.lit(1)).cast("long").alias("__k"),
        F.sum(F.col("__r").cast("decimal(28,12)")).alias("__sr"),
        F.sum(
            (F.col("__r") * F.col("__r")).cast("decimal(28,12)")
        ).alias("__sr2"),
    )
    j = rated.crossJoin(F.broadcast(stats))
    k = F.col("__k").cast("double")
    mu = F.col("__sr").cast("double") / k
    var = F.col("__sr2").cast("double") / k - mu * mu
    # method of moments: alpha+beta = mu(1-mu)/var - 1 (guarded)
    strength = F.when(
        (var > 0) & (mu > 0) & (mu < 1) & (mu * (1.0 - mu) > var),
        mu * (1.0 - mu) / var - 1.0,
    ).otherwise(F.lit(0.0))
    alpha = mu * strength
    beta = (1.0 - mu) * strength
    # denominator uses `strength` directly, not alpha + beta: the two
    # are equal mathematically but mu·s + (1−mu)·s can drift an ulp
    # from s in IEEE — one fixed shape, mirrored verbatim in the oracle
    shrunk = F.when(
        strength > 0,
        (F.col("successes").cast("double") + alpha)
        / (F.col("n").cast("double") + strength),
    ).otherwise(F.col("__r"))
    return j.select(
        "group",
        "n",
        "successes",
        F.col("__r").alias("raw_rate"),
        F.round(alpha, 6).alias("alpha"),
        F.round(beta, 6).alias("beta"),
        F.round(shrunk, 6).alias("shrunk_rate"),
    )
