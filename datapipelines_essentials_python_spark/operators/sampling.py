"""Deterministic sampling operators for training-data pipelines.

At 100 TB you never want ``rand()`` sampling: it is not reproducible across
retries, recomputations, or engines, and a lost executor re-draws its rows.
Every sampler here derives its keep/drop decision from an md5 hash of the
row's id, so the sample is

- deterministic (same rows on every run, every engine, every cluster size),
- a pure narrow projection (no shuffle, no state, stream-at-scan-speed),
- oracle-checkable (the SQL twin runs the same md5 arithmetic).

The salt string partitions the hash space, so independent samples are drawn
with different salts (e.g. train/validation splits that provably do not
correlate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_fraction(col: Column | str, salt: str = "") -> Column:
    """Uniform [0, 1) value derived from md5(salt|id): the first 8 hex chars
    as a 32-bit integer over 2^32. Deterministic and portable."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.md5(F.concat(F.lit(salt), F.lit("|"), c.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("double") / F.lit(4294967296.0)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str,
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum sampling — the standard rebalancing move
    for training corpora (e.g. downsample English, keep all low-resource
    languages).

    ``fractions`` maps stratum value → keep fraction; strata not listed get
    ``default_fraction``. One narrow projection, no shuffle: the stratum
    rate lookup is a literal CASE chain, the keep decision a hash compare.
    """
    rate: Column = F.lit(float(default_fraction))
    for value, frac in sorted(fractions.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(float(frac))).otherwise(rate)
    return df.where(hash_fraction(id_col, salt) < rate)


def split_train_holdout(
    df: DataFrame, id_col: str, holdout_fraction: float = 0.1, salt: str = "split"
) -> tuple[DataFrame, DataFrame]:
    """Deterministic disjoint train/holdout split (same hash, one compare):
    a row is in exactly one side on every engine and every rerun."""
    frac = hash_fraction(id_col, salt)
    return df.where(frac >= holdout_fraction), df.where(frac < holdout_fraction)


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight: Column,
    salt: str = "",
) -> DataFrame:
    """Deterministic importance sampling: keep each row with probability
    ``weight`` (a per-row Column in [0, 1] — e.g. a quality score, a
    mixture weight, a per-domain rate).

    The keep decision is ``hash_fraction(id) < weight`` — still a pure
    narrow projection, still reproducible across runs/engines/cluster
    sizes, unlike ``df.sample``/``rand()``. This is the standard
    quality-weighted data-mixing move for training corpora: higher-quality
    documents survive proportionally more often, with zero shuffle cost.
    """
    return df.where(hash_fraction(id_col, salt) < weight)


def balance_domains(
    df: DataFrame, domain_col: str, id_col: str, cap: int, salt: str = ""
) -> DataFrame:
    """Domain re-balancing by deterministic downsampling: keep at most
    ``cap`` rows per domain, chosen by md5(salt|id) order (a uniform,
    reproducible draw — NOT "first cap rows seen", which would bias toward
    whatever the scan touched first).

    The standard head-domain flattening move for crawled corpora (cap
    wikipedia/reddit-sized domains so the mixture isn't dominated). One
    shuffle on the domain key + a per-domain ranking window; heavily
    skewed head domains are exactly the rows the cap discards, and the
    window never materializes more than a partition at a time.
    """
    from pyspark.sql import Window

    c = F.col(id_col)
    key = F.md5(F.concat(F.lit(salt), F.lit("|"), c.cast("string")))
    w = Window.partitionBy(domain_col).orderBy(key, c)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )


def curriculum_bins(
    df: DataFrame,
    score: Column,
    id_col: str,
    num_bins: int = 4,
    probs: tuple[float, ...] | None = None,
) -> DataFrame:
    """Curriculum binning: label every row with a difficulty/quality bin
    1..num_bins by exact score quantile boundaries — bin 1 holds the
    lowest scores. Two passes, both scale-safe: ONE exact-percentile
    aggregation producing a 1-row boundary table (broadcast), then a
    narrow per-row boundary compare. No global sort, no single-partition
    ntile window — the classic trap this operator exists to avoid.

    Boundary rows (score == boundary) go to the lower bin on every engine
    (strict ``>`` compare on the identical float), so the binning is
    deterministic and oracle-checkable. → input columns + (score, bin).
    """
    if probs is None:
        probs = tuple((i + 1) / num_bins for i in range(num_bins - 1))
    scored = df.withColumn("score", score)
    bounds = scored.agg(
        *[
            F.expr(f"percentile(score, {p!r})").alias(f"b{i}")
            for i, p in enumerate(probs)
        ]
    )
    bin_col = F.lit(1)
    for i in range(len(probs)):
        bin_col = bin_col + F.when(F.col("score") > F.col(f"b{i}"), 1).otherwise(0)
    return (
        scored.crossJoin(F.broadcast(bounds))
        .withColumn("bin", bin_col.cast("int"))
        .drop(*[f"b{i}" for i in range(len(probs))])
    )


def deterministic_shuffle(
    df: DataFrame, id_col: str, num_shards: int, salt: str = "shuffle"
) -> DataFrame:
    """Deterministic global training-order shuffle: every row gets a
    ``(shard, pos)`` coordinate — shard = md5-hash bucket, pos = rank of
    the md5 key within the shard — giving a reproducible random
    permutation of the corpus for epoch ordering (same order every run,
    every engine, every cluster size; ``df.orderBy(rand())`` gives none of
    that).

    At scale this is exactly ``repartition(num_shards, shard)`` +
    ``sortWithinPartitions(key)``: one all-to-all exchange, per-partition
    sort, no global sort. The window form here emits the same coordinates
    as auditable columns.
    """
    from pyspark.sql import Window

    c = F.col(id_col)
    key = F.md5(F.concat(F.lit(salt), F.lit("|"), c.cast("string")))
    shard = F.conv(F.substring(key, 1, 8), 16, 10).cast("long") % num_shards
    w = Window.partitionBy("shard").orderBy("key", id_col)
    return (
        df.withColumn("key", key)
        .withColumn("shard", shard.cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("key")
    )


def grouped_split(
    df: DataFrame,
    group_col: str,
    fractions: dict[str, float],
    salt: str = "split",
    split_col: str = "split",
) -> DataFrame:
    """Leakage-proof split assignment: the split is decided by a hash of
    the GROUP key, so every row sharing ``group_col`` (same source, same
    site, same conversation) lands in the same split. Row-level splitting
    leaks near-duplicates across train/eval; group-level splitting is the
    standard fix.

    ``fractions`` maps split name → fraction (must sum to ≤ 1; any
    remainder joins the LAST split in sorted-name order). Pure narrow
    projection — the assignment is one md5 per row, no shuffle.
    """
    frac = hash_fraction(group_col, salt)
    names = sorted(fractions)
    # CASE chain over cumulative bounds in sorted-name order — a fixed,
    # oracle-mirrorable assignment
    cum = 0.0
    cases: list[tuple[float, str]] = []
    for name in names[:-1]:
        cum += float(fractions[name])
        cases.append((cum, name))
    label: Column = F.lit(names[-1])
    for bound, name in reversed(cases):
        label = F.when(frac < F.lit(bound), F.lit(name)).otherwise(label)
    return df.withColumn(split_col, label)


def mixture_rates(
    df: DataFrame,
    domain_col: str,
    targets: dict[str, float],
    default_share: float = 0.0,
) -> DataFrame:
    """Data-mixture planner: per-domain sampling rates that reshape the
    corpus toward target proportions (the DoReMi/Pile-style "mixing
    weights" step, computed from actual corpus counts).

    For each domain d: ``rate(d) = min(1, target_share(d) * budget /
    count(d))`` where ``budget`` is the largest total size achievable
    without up-sampling any domain (``min over d of count(d) /
    target_share(d)``) — i.e. the classic waterfilling solution that
    only ever down-samples. → (domain, n_rows, target_share, rate,
    n_keep) with ``n_keep = floor(rate * n_rows)``.

    One domain-keyed count agg (map-side combined) + a 1-row broadcast
    scalar; rates come back as a tiny driver-free projection, ready to
    feed :func:`hash_fraction`-based deterministic sampling.
    """
    shares = F.create_map(
        *[
            x
            for dom, s in sorted(targets.items())
            for x in (F.lit(dom), F.lit(float(s)))
        ]
    )
    counts = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    with_share = counts.select(
        "domain",
        "n_rows",
        F.coalesce(
            F.element_at(shares, F.col("domain")), F.lit(float(default_share))
        ).alias("target_share"),
    )
    # budget = min over targeted domains of n_rows / share, computed as a
    # window-min over the POST-AGG domain table (domain-cardinality rows, so
    # the single-partition window is trivially small at any corpus scale) —
    # a second aggregate branch would rescan the corpus for the same counts.
    from pyspark.sql import Window

    budget = F.min(
        F.when(
            F.col("target_share") > 0,
            F.col("n_rows").cast("double") / F.col("target_share"),
        )
    ).over(Window.partitionBy())
    rate = F.when(
        F.col("target_share") > 0,
        F.least(
            F.lit(1.0),
            F.round(
                F.col("target_share") * budget / F.col("n_rows").cast("double"),
                6,
            ),
        ),
    ).otherwise(F.lit(0.0))
    return with_share.select(
        "domain",
        "n_rows",
        "target_share",
        rate.alias("rate"),
    ).withColumn(
        "n_keep",
        F.floor(F.col("rate") * F.col("n_rows").cast("double")).cast("long"),
    )


def temperature_mixture(
    df: DataFrame,
    domain_col: str,
    sqrt_passes: int = 1,
) -> DataFrame:
    """Temperature-scaled mixture weights — the multilingual/multi-domain
    α-sampling scheme (q_d ∝ p_d^α) that up-weights small domains without
    letting a giant one dominate (α≈0.3–0.5 in the multilingual-pretraining
    literature; α=1 is proportional, α→0 uniform).

    α is restricted to powers of one half (``sqrt_passes``=k → α=0.5^k):
    IEEE ``sqrt`` is correctly rounded and therefore IDENTICAL across
    engines, while general ``pow(x, α)`` is not — this keeps the operator
    oracle-exact. The temperatured masses are quantized to DECIMAL(28,12)
    before the normalizing sum so the 5-term addition is order-independent
    too.

    → (domain, n_rows, p_raw, q_temp, sample_factor): ``p_raw`` the raw
    corpus share, ``q_temp`` the temperature-scaled sampling share,
    ``sample_factor = q_temp / p_raw`` the implied per-domain up/down-
    sampling multiplier. One domain-keyed count agg; everything after is
    arithmetic over the domain-cardinality table.
    """
    if sqrt_passes < 1:
        raise ValueError("sqrt_passes must be >= 1 (alpha = 0.5^k)")
    counts = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    total = counts.agg(F.sum("n_rows").cast("double").alias("total"))
    with_p = counts.crossJoin(F.broadcast(total)).withColumn(
        "p_raw_exact", F.col("n_rows").cast("double") / F.col("total")
    )
    mass = F.col("p_raw_exact")
    for _ in range(sqrt_passes):
        mass = F.sqrt(mass)
    with_mass = with_p.withColumn(
        "__mass", mass.cast("decimal(28,12)")
    )
    norm = with_mass.agg(F.sum("__mass").alias("__z"))
    return (
        with_mass.crossJoin(F.broadcast(norm))
        .select(
            "domain",
            "n_rows",
            F.round(F.col("p_raw_exact"), 6).alias("p_raw"),
            F.round(
                (F.col("__mass").cast("double") / F.col("__z").cast("double")), 6
            ).alias("q_temp"),
            F.round(
                F.col("__mass").cast("double")
                / F.col("__z").cast("double")
                / F.col("p_raw_exact"),
                6,
            ).alias("sample_factor"),
        )
    )


def fixed_size_sample(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    n: int,
    oversample: float = 4.0,
    salt: str = "",
) -> DataFrame:
    """EXACTLY-n-per-group deterministic sample (the quota companion of
    :func:`stratified_sample`, which keeps a *fraction*): per group, the n
    rows with the smallest md5 hash-rank — reproducible across runs,
    engines, and cluster sizes, like every sampler here.

    Scale shape — a naive per-group ``row_number`` funnels each group
    through one partition, so a 10-billion-row group becomes one task.
    Instead, two phases:

    1. group counts (one map-side-combined agg, group-cardinality-sized,
       broadcast back) set a hash PRE-FILTER admitting ~``oversample*n``
       rows per group — the survivor set is ``n``-sized, not group-sized;
    2. the ranking window runs on survivors only, so no partition ever
       holds more than ~``oversample*n`` rows per group.

    The pre-filter admits fewer than n rows with probability
    ``exp(-n*(oversample-1)^2 / (2*oversample))`` per group (Chernoff) —
    ~1e-22 per group at n=100, oversample=4. Determinism is unconditional
    either way: the SQL twin replays the same threshold and hash, so both
    engines produce the identical sample even in the unlucky tail.
    → input columns + (h, rank), rank in [1, n] by (h, id).
    """
    from pyspark.sql import Window

    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt), F.lit("|"), F.col(id_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h")
    )
    counts = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("__gcnt"))
    cut = F.lit(4294967296.0) * F.lit(float(oversample) * n) / F.col("__gcnt")
    survivors = (
        df.select("*", h)
        .join(F.broadcast(counts), group_cols)
        .where(F.col("h").cast("double") < cut)
        .drop("__gcnt")
    )
    w = Window.partitionBy(*group_cols).orderBy("h", id_col)
    return (
        survivors.select("*", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= n)
    )


def embargoed_group_split(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    group_frac: float = 0.2,
    test_frac: float = 0.2,
    embargo_days: int = 3,
    salt: str = "embargo",
) -> DataFrame:
    """Group-aware temporal train/test split with an EMBARGO gap — the
    leakage-proof evaluation split for time-ordered panel data (the
    quant-finance "purged" split adapted to the curation setting): the
    model must not train on a group whose later behavior it is evaluated
    on, nor on events temporally adjacent enough to leak through
    autocorrelation. With panel data where every group is active in
    every window, purging train rows of OBSERVED test groups degenerates
    to an empty train set — so the held-out groups are drawn by
    deterministic hash (:func:`hash_fraction`, fraction ``group_frac``)
    and crossed with the temporal boundary.

    The timeline [min_ts, max_ts] splits at
    ``t* = min + ⌊span·(1−test_frac)⌋`` (integer microsecond arithmetic —
    no float timestamps); ``held = hash(group) < group_frac``:

    - ``test``:    held groups at ts ≥ t*
    - ``embargo``: t* − embargo ≤ ts < t*, any group   (discarded gap)
    - ``train``:   non-held groups before the embargo
    - ``purged``:  everything else — held groups' history (group-level
      leakage) and non-held groups' test-period rows (contemporaneous
      leakage)

    Train and test therefore share NO group and NO adjacent time by
    construction — the two channels `split_train_holdout` (pure hash)
    and a plain date cut each leave open.

    Scale shape: one broadcast 1-row min/max aggregate fixes t*;
    everything else — the md5 group draw included — is a narrow
    projection at scan speed. No distinct, no join, no window.

    → input columns + ``split`` ∈ {train, test, embargo, purged}.
    """
    us = F.unix_micros(F.col(ts_col))
    bounds = df.agg(F.min(us).alias("__min_us"), F.max(us).alias("__max_us"))
    # The train fraction is QUANTIZED to 6 dp before it becomes a literal
    # (ADVICE r07): Python's `1.0 - test_frac` can land one ulp away from
    # the decimal literal a SQL oracle writes (e.g. `0.8`), and when
    # `span_us * factor` falls within ~2 ulp below an integer the floor()
    # disagrees across engines — a dataset-dependent t* boundary flake.
    # round(·, 6) snaps both sides to the same nearest-double.
    train_factor = round(1.0 - float(test_frac), 6)
    t_star = F.col("__min_us") + F.floor(
        (F.col("__max_us") - F.col("__min_us")).cast("double")
        * F.lit(train_factor)
    ).cast("long")
    embargo_us = F.lit(int(embargo_days) * 86400 * 1000000).cast("long")
    held = hash_fraction(F.col(group_col), salt) < F.lit(group_frac)
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("__t_star", t_star)
        .withColumn(
            "split",
            F.when(held & (us >= F.col("__t_star")), F.lit("test"))
            .when(
                (us >= F.col("__t_star") - embargo_us)
                & (us < F.col("__t_star")),
                F.lit("embargo"),
            )
            .when(
                ~held & (us < F.col("__t_star") - embargo_us), F.lit("train")
            )
            .otherwise(F.lit("purged")),
        )
        .drop("__min_us", "__max_us", "__t_star")
    )


def token_budget(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    target_tokens: int = 1_000_000,
    sqrt_passes: int = 1,
) -> DataFrame:
    """Per-domain TOKEN budget for a fixed-size training run — the data-
    recipe step after :func:`temperature_mixture` decides the shares:
    given a target token count and temperature-scaled weights over the
    domains' token mass, how many tokens does each domain contribute and
    how many PASSES over it does that take (``epochs`` > 1 means the
    domain repeats, the small-domain upsampling every published recipe
    reports; < 1 means it is subsampled). Beyond-reference LLM-pipeline
    surface; reference has no notion of token accounting.

    Same numeric contract as ``temperature_mixture`` (α = 0.5^k via
    correctly-rounded ``sqrt`` only, masses quantized to DECIMAL(28,12)
    before the normalizing sum, outputs rounded to 6) so the oracle
    replays every float. Weights are over token mass, not row counts —
    a domain of few huge documents budgets by what it actually feeds
    the tokenizer.

    One domain-keyed agg (tokens per domain ride the parquet scan as
    ``size(split(text))`` — no tokenizer UDF); everything after is
    arithmetic over the domain-cardinality table with two broadcast
    1-row scalars. ``alloc_tokens = floor(target · q)`` is exact-integer
    on both engines.

    → ``(domain, n_docs, n_tokens, q_temp, alloc_tokens, epochs)``.
    """
    if sqrt_passes < 1:
        raise ValueError("sqrt_passes must be >= 1 (alpha = 0.5^k)")
    if target_tokens < 1:
        raise ValueError(f"token_budget needs target_tokens >= 1, got {target_tokens}")
    from .text import tokens as _tokens

    counts = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(_tokens(text_col))).cast("long").alias("n_tokens"),
    )
    total = counts.agg(F.sum("n_tokens").cast("double").alias("__total"))
    with_p = counts.crossJoin(F.broadcast(total)).withColumn(
        "__p_exact", F.col("n_tokens").cast("double") / F.col("__total")
    )
    mass = F.col("__p_exact")
    for _ in range(sqrt_passes):
        mass = F.sqrt(mass)
    with_mass = with_p.withColumn("__mass", mass.cast("decimal(28,12)"))
    norm = with_mass.agg(F.sum("__mass").alias("__z"))
    q = F.col("__mass").cast("double") / F.col("__z").cast("double")
    alloc = F.floor(F.lit(float(target_tokens)) * q).cast("long")
    return (
        with_mass.crossJoin(F.broadcast(norm))
        .select(
            "domain",
            "n_docs",
            "n_tokens",
            F.round(q, 6).alias("q_temp"),
            alloc.alias("alloc_tokens"),
            F.round(
                alloc.cast("double") / F.col("n_tokens").cast("double"), 6
            ).alias("epochs"),
        )
    )


def kfold_assign(
    df: DataFrame,
    id_col: str,
    k: int = 5,
    salt: str = "kfold",
    fold_col: str = "fold",
) -> DataFrame:
    """Deterministic k-fold assignment: ``fold = md5(salt|id) mod k`` —
    the cross-validation splitter that needs NO shuffle, no state, and
    reproduces bit-for-bit on any cluster size or row order (the
    :func:`hash_fraction` discipline applied to fold ids instead of a
    keep threshold; :func:`train_holdout` is its k=2 special case by
    threshold, this one gives every row a fold id so all k folds ride
    ONE pass).

    Pure narrow projection — at 100 TB this is scan-speed; the fold id
    then drives per-fold training jobs or a grouped leakage audit
    downstream.

    → input columns + ``fold`` (BIGINT in [0, k)).
    """
    if k < 2:
        raise ValueError(f"kfold_assign needs k >= 2, got {k}")
    c = F.col(id_col)
    h = F.md5(F.concat(F.lit(salt), F.lit("|"), c.cast("string")))
    fold = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % F.lit(int(k))
    ).alias(fold_col)
    return df.withColumn(fold_col, fold)


def target_encode_oof(
    df: DataFrame,
    id_col: str,
    cat_col: str,
    target_col: str,
    k: int = 5,
    salt: str = "kfold",
) -> DataFrame:
    """Out-of-fold target encoding TABLE: for every (category, fold),
    the mean of the target over all OTHER folds — the leakage-free
    categorical encoding (a row never sees its own fold's targets, so
    the encoding can't memorize it; the standard CV-safe recipe).
    Folds come from :func:`kfold_assign`, so the whole construction is
    deterministic and reproducible on any cluster.

    EXACTNESS: integer targets (the CONTRACT — cents/counts), one
    (cat, fold) keyed moment agg over the corpus, then complements by
    WINDOW over the (cat, fold) table: ``oof_sum = cat_sum −
    fold_sum``, ``oof_cnt = cat_cnt − fold_cnt`` — all BIGINT; the
    mean is one double shape rounded to 6, falling back to the GLOBAL
    mean when a category lives entirely in one fold.

    Scale: corpus cost is the single keyed agg; everything downstream
    is (categories × k)-cardinality arithmetic. The encoding table
    broadcasts back onto rows at apply time.

    → ``(category, fold, n_in_fold, oof_n, oof_mean)``.
    """
    folded = kfold_assign(df, id_col, k=k, salt=salt)
    cf = folded.groupBy(
        F.col(cat_col).alias("category"), F.col("fold")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_in_fold"),
        F.sum(F.col(target_col).cast("long")).cast("long").alias("__s"),
    )
    w_cat = Window.partitionBy("category")
    w_all = Window.partitionBy()
    enriched = (
        cf.withColumn("__cat_n", F.sum("n_in_fold").over(w_cat).cast("long"))
        .withColumn("__cat_s", F.sum("__s").over(w_cat).cast("long"))
        .withColumn("__tot_n", F.sum("n_in_fold").over(w_all).cast("long"))
        .withColumn("__tot_s", F.sum("__s").over(w_all).cast("long"))
    )
    oof_n = (F.col("__cat_n") - F.col("n_in_fold")).cast("long")
    oof_s = (F.col("__cat_s") - F.col("__s")).cast("long")
    global_mean = F.col("__tot_s").cast("double") / F.col("__tot_n").cast(
        "double"
    )
    mean = F.when(
        oof_n > 0, oof_s.cast("double") / oof_n.cast("double")
    ).otherwise(global_mean)
    return enriched.select(
        "category",
        "fold",
        "n_in_fold",
        oof_n.alias("oof_n"),
        F.round(mean, 6).alias("oof_mean"),
    )
