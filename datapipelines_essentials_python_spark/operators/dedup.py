"""Deduplication operators for training-data pipelines.

Beyond-reference surface (driver mandate): exact dedup, n-gram Jaccard
near-dup, MinHash + LSH, SimHash, and embedding-cosine near-dup.

Design rules for 100 TB:

- every per-document stage (shingling, signatures, fingerprints) is a
  narrow Column-expression projection — no shuffle, no Python workers;
- the only shuffles are (a) the band-bucket exchange for LSH candidate
  generation, keyed on the band hash, and (b) final pair verification,
  keyed on doc id — both AQE-coalesced and skew-handled;
- all hashing is md5-derived and therefore deterministic and portable:
  the DuckDB oracle can execute the *same* algorithm, so even LSH is
  hash-match checkable;
- LSH buckets are capped (``max_bucket``) so a degenerate band (e.g. the
  empty document) cannot produce a quadratic pair explosion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datapipelines_essentials_python_spark.operators import text as text_ops
from datapipelines_essentials_python_spark.utils.repartition import (
    loop_parts,
    static_loop_planning,
)


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------
def exact_dedup(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Exact duplicate removal via hash-groupBy (SURVEY §2.4 A6 generalized).

    One shuffle on the dedup key; map-side partial aggregation collapses
    duplicates before the exchange.
    """
    return df.dropDuplicates(columns) if columns else df.dropDuplicates()


def exact_dedup_keep_first(
    df: DataFrame, key_cols: list[str], order_cols: list[str]
) -> DataFrame:
    """Deterministic exact dedup: keep the FIRST row per key under
    ascending ``order_cols`` (window row_number=1) — the ascending twin of
    ``cdc.snapshot`` (which keeps the latest row under descending order).
    """
    from pyspark.sql import Window

    win = Window.partitionBy(*key_cols).orderBy(*[F.asc(c) for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(win))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def release(df: DataFrame) -> None:
    """Unpersist the intermediates a pair-generator persisted for ``df``.

    ``minhash_lsh_pairs`` / ``simhash_pairs`` persist their signature /
    fingerprint base so the self-join doesn't recompute the expensive
    sketch expressions twice. The returned DataFrame is lazy, so they
    cannot unpersist before the caller materializes it — call
    ``release(result)`` after your action (or ``spark.catalog.clearCache()``)
    in long-lived sessions to drop the cached blocks eagerly.
    """
    for dep in getattr(df, "_sg_persisted", ()):  # noqa: SLF001 — own attr
        dep.unpersist()


# --------------------------------------------------------------------------
# shingling + n-gram Jaccard
# --------------------------------------------------------------------------
def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct n-token shingles of a text column.

    tokens = lowercase whitespace tokens; shingle i = tokens[i..i+n-1]
    joined by single spaces. Documents shorter than ``n`` tokens get their
    whole token string as one shingle. The array keeps first-occurrence
    order (NOT sorted): every consumer — Jaccard intersections, MinHash
    min-folds, fingerprint k-min selection — is order-insensitive, so
    sorting here would be pure wasted CPU in the hottest narrow stage.
    """
    toks = text_ops.tokens(col)
    k = F.size(toks)
    # n-grams by left-folding zip_with over shifted slices. ``toks`` is
    # referenced only OUTSIDE lambda bodies: lambda bodies re-evaluate
    # captured outer expressions per element (no CSE), so the old
    # transform(sequence, i -> slice(toks, i, n)) recomputed the token
    # split per shingle — the hottest narrow stage in every LSH pipeline.
    # zip_with pads the shorter (shifted) side with null and concat
    # null-propagates, so the trailing n-1 entries filter away.
    grams = toks
    for j in range(1, n):
        shifted = F.slice(toks, F.lit(j + 1), k)
        grams = F.zip_with(
            grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    grams = F.filter(grams, lambda g: g.isNotNull())
    # documents shorter than n tokens keep their whole token string as the
    # one shingle (the previous contract)
    whole = F.array(F.concat_ws(" ", toks))
    out = (
        F.when(F.size(grams) > 0, grams)
        .when(k > 0, whole)
        .otherwise(F.array().cast("array<string>"))
    )
    return F.array_distinct(out)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    block_col: str | None = None,
) -> DataFrame:
    """All-pairs exact n-gram Jaccard ≥ threshold → (id_a, id_b, jaccard).

    Brute-force O(N²) within a block — the *verification* baseline. At
    scale, pass ``block_col`` (e.g. language or a coarse fingerprint) to
    bound the quadratic term, or use :func:`minhash_lsh_pairs` which
    generates candidates sub-quadratically and only verifies those.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        shingles(text_col, n).alias("sh"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
    )
    left = base.select(
        F.col("id").alias("id_a"),
        F.col("sh").alias("sh_a"),
        *( [F.col("blk").alias("blk_a")] if block_col else [] ),
    )
    right = base.select(
        F.col("id").alias("id_b"),
        F.col("sh").alias("sh_b"),
        *( [F.col("blk").alias("blk_b")] if block_col else [] ),
    )
    cond = left["id_a"] < right["id_b"]
    if block_col:
        cond = cond & (left["blk_a"] == right["blk_b"])
    pairs = left.join(right, cond)
    sim = jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        pairs.select("id_a", "id_b", F.round(sim, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _warn_unblocked_posting_join(fn_name: str, unblocked: bool) -> None:
    """The blocking contract, ENFORCED (VERDICT r07 item 3): an unblocked
    corpus-wide posting join fans hot shingles out quadratically in their
    document frequency and measurably OOMed the 10× stress tier, while
    the blocked join cruised. A docstring alone is advisory — callers who
    really want the corpus-wide join must say so with ``unblocked=True``
    (the ``pareto_frontier_2d(materialize=False)`` warning treatment)."""
    if not unblocked:
        import warnings

        warnings.warn(
            f"{fn_name}(block_col=None) runs an UNBLOCKED corpus-wide "
            "posting join: hot shingles fan out quadratically in their "
            "document frequency and this provably OOMs at scale where the "
            "blocked join cruises. Pass block_col (language or a coarse "
            "fingerprint) at scale, or acknowledge the corpus-wide join "
            "with unblocked=True.",
            RuntimeWarning,
            stacklevel=3,
        )


def ngram_jaccard_pairs_indexed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    block_col: str | None = None,
    unblocked: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via an INVERTED INDEX — result-identical
    to :func:`ngram_jaccard_pairs` for any ``threshold > 0``, without ever
    scoring a pair that shares no shingle.

    Shape: explode each document's (distinct) shingle set into postings,
    equi-join postings on the shingle value (plus ``block_col`` when
    given), and count co-occurrences per (id_a, id_b) — that count IS the
    intersection size, and the union follows from the two set sizes
    (``|A| + |B| - |A∩B|``), so no per-pair array intersection is ever
    evaluated. One posting shuffle keyed on the shingle + one pair-keyed
    count agg (map-side combined) replace the block-clique self-join:
    cost is quadratic only in each shingle's posting list, not in the
    block — at 100 TB the brute variant's O(block²) array-compare work is
    the killer, while hot-shingle fan-out here is bounded by document
    vocabulary overlap (and :func:`minhash_lsh_pairs` remains the
    candidate-capped scale path when even that is too much).

    Pairs with zero shared shingles (Jaccard 0) are structurally absent,
    hence the ``threshold > 0`` requirement.
    """
    if threshold <= 0:
        raise ValueError(
            "ngram_jaccard_pairs_indexed requires threshold > 0 (zero-"
            "overlap pairs are structurally absent from the index join)"
        )
    if block_col is None:
        _warn_unblocked_posting_join("ngram_jaccard_pairs_indexed", unblocked)
    blk = [F.col(block_col).alias("blk")] if block_col else []
    base = df.select(
        F.col(id_col).alias("id"), shingles(text_col, n).alias("sh"), *blk
    ).withColumn("sz", F.size("sh"))
    posting = base.select(
        "id", "sz", *(["blk"] if block_col else []), F.explode("sh").alias("g")
    )
    a = posting.select(
        F.col("id").alias("id_a"),
        F.col("sz").alias("sz_a"),
        *([F.col("blk").alias("blk_a")] if block_col else []),
        F.col("g").alias("g_a"),
    )
    b = posting.select(
        F.col("id").alias("id_b"),
        F.col("sz").alias("sz_b"),
        *([F.col("blk").alias("blk_b")] if block_col else []),
        F.col("g").alias("g_b"),
    )
    cond = (F.col("g_a") == F.col("g_b")) & (F.col("id_a") < F.col("id_b"))
    if block_col:
        cond = cond & (F.col("blk_a") == F.col("blk_b"))
    co = (
        a.join(b, cond)
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.round(
        F.col("inter").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        6,
    )
    return (
        co.select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    block_col: str | None = None,
    unblocked: bool = False,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: n-gram set containment
    ``C = |A∩B| / min(|A|, |B|)`` — the measure that catches a short
    document quoted or embedded inside a long one, which symmetric
    Jaccard misses (a 100-shingle doc fully contained in a 10,000-
    shingle doc has Jaccard ≈ 0.01 but containment 1.0). This is the
    Broder containment coefficient over shingle sets, the standard
    quote/subset filter in training-data pipelines.

    Same inverted-index shape as :func:`ngram_jaccard_pairs_indexed`
    (posting explode → shingle-keyed equi-join → pair-keyed count agg;
    zero-overlap pairs structurally absent, hence ``threshold > 0``);
    only the final ratio differs, so the scale analysis there carries
    over — INCLUDING the ``block_col`` bound: hot shingles fan the
    posting join out quadratically in their document frequency, and an
    UNBLOCKED corpus-wide join measurably OOMs where the blocked one
    cruises (observed at the 10× stress tier, where corpus-common
    shingles appear in thousands of documents — pass a language or
    coarse-fingerprint block at scale, exactly as the Jaccard twin
    does). Documents too short to produce a shingle have no postings
    and appear in no pair — the min-size denominator is always ≥ 1.

    → ``(id_a, id_b, containment)`` with ``id_a < id_b`` and
    ``containment ≥ threshold``.
    """
    if threshold <= 0:
        raise ValueError(
            "ngram_containment_pairs requires threshold > 0 (zero-overlap "
            "pairs are structurally absent from the index join)"
        )
    if block_col is None:
        _warn_unblocked_posting_join("ngram_containment_pairs", unblocked)
    blk = [F.col(block_col).alias("blk")] if block_col else []
    base = df.select(
        F.col(id_col).alias("id"), shingles(text_col, n).alias("sh"), *blk
    ).withColumn("sz", F.size("sh"))
    posting = base.select(
        "id", "sz", *(["blk"] if block_col else []), F.explode("sh").alias("g")
    )
    a = posting.select(
        F.col("id").alias("id_a"),
        F.col("sz").alias("sz_a"),
        *([F.col("blk").alias("blk_a")] if block_col else []),
        F.col("g").alias("g_a"),
    )
    b = posting.select(
        F.col("id").alias("id_b"),
        F.col("sz").alias("sz_b"),
        *([F.col("blk").alias("blk_b")] if block_col else []),
        F.col("g").alias("g_b"),
    )
    cond = (F.col("g_a") == F.col("g_b")) & (F.col("id_a") < F.col("id_b"))
    if block_col:
        cond = cond & (F.col("blk_a") == F.col("blk_b"))
    co = (
        a.join(b, cond)
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    cont = F.round(
        F.col("inter").cast("double")
        / F.least(F.col("sz_a"), F.col("sz_b")).cast("double"),
        6,
    )
    return (
        co.select("id_a", "id_b", cont.alias("containment"))
        .where(F.col("containment") >= threshold)
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------
# Universal-hash family over the Mersenne prime 2^31-1: one md5 per shingle
# (the expensive part), then num_hashes cheap affine maps (a_i·h + b_i) mod p.
# All arithmetic stays below 2^62, so BIGINT is exact in Spark AND DuckDB —
# the oracle replays the identical family. Constants are fixed (Knuth
# multiplicative seeds), not runtime-random: determinism across engines,
# runs, and cluster sizes is the whole point.
MINHASH_P = 2_147_483_647


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Fixed (a_i, b_i) affine coefficients of the hash family."""
    out = []
    for i in range(num_hashes):
        a = (2_654_435_761 * (i + 1)) % MINHASH_P or 1
        b = (40_503 * (i + 1)) % MINHASH_P
        out.append((a, b))
    return out


def shingle_values(shingle_col: Column) -> Column:
    """32-bit md5 prefix of each shingle, reduced mod p — the one-time
    expensive hash per shingle that the whole family reuses."""
    return F.transform(
        shingle_col,
        lambda s: (F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long") % MINHASH_P),
    )


def minhash_signature(shingle_col: Column, num_hashes: int = 16) -> Column:
    """MinHash signature as an array of ``num_hashes`` BIGINTs.

    sig_i = min over shingles of (a_i·h(shingle) + b_i) mod p, with h = the
    32-bit md5 prefix mod p. Min over a universal hash family is the classic
    MinHash estimator. Empty documents sign as the sentinel p (above every
    real value).

    Evaluation shape matters: higher-order lambdas run interpreted (no
    codegen CSE), so the md5 value must be bound to a lambda VARIABLE
    before fan-out — a per-hash ``transform(vals, affine_i)`` family
    re-evaluates the md5 subtree ``num_hashes`` times per shingle. Here
    each shingle is hashed ONCE (``shingle_values``), the 16 affine maps
    read the bound variable, and the signature is an elementwise-min fold
    (``aggregate`` + ``zip_with``/``least``) over the per-shingle rows.
    """
    vals = shingle_values(shingle_col)
    coeffs = minhash_coeffs(num_hashes)
    per_shingle = F.transform(
        vals,
        lambda v: F.array(
            *[(F.lit(a) * v + F.lit(b)) % MINHASH_P for a, b in coeffs]
        ),
    )
    init = F.array(*[F.lit(MINHASH_P).cast("long")] * num_hashes)
    return F.aggregate(
        per_shingle,
        init,
        lambda acc, row: F.zip_with(acc, row, lambda x, y: F.least(x, y)),
    )


def with_minhash(
    df: DataFrame,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """Append ``sh`` (shingles) + ``sig`` (MinHash signature) columns."""
    out = df.withColumn("sh", shingles(text_col, n))
    return out.withColumn("sig", minhash_signature(F.col("sh"), num_hashes))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact-Jaccard verification.

    Stages (shuffle count in brackets):

    1. shingle + sign per doc — narrow projection [0 shuffles]
    2. explode ``bands`` band-keys per doc (band key = md5 of its slice of
       the signature) and group on the band key → candidate pairs
       [1 corpus-sized shuffle keyed on band hash, plus a KB-sized
       post-partial-agg count shuffle]; buckets larger than ``max_bucket``
       docs are dropped (degenerate bands) row-level BEFORE any bucket
       array or pair materializes, bounding both the pair blow-up and the
       collect buffer;
    3. verify candidates with exact Jaccard on the shingle sets and keep
       pairs ≥ ``threshold`` [1 shuffle, keyed on doc id].

    Output: (id_a, id_b, jaccard) — identical to the brute-force operator
    for every pair LSH recalls; candidates below threshold are filtered by
    the exact verification, so output precision is 1.0.
    """
    rows_per_band = max(1, num_hashes // bands)
    signed = with_minhash(df, text_col, n, num_hashes).select(
        F.col(id_col).alias("id"), "sh", "sig"
    )
    signed = signed.persist()
    # Eager: AQE materializes the three consumer exchanges (band explode +
    # both verification join legs) CONCURRENTLY, before a lazy cache is
    # populated — each stage re-runs the full shingle+sign pipeline
    # (measured 3× ~2.4 s stages in the event log). One count() populates
    # the cache first; the consumers then scan it.
    signed.count()

    # Band key: base-p positional combine of the band's signature slice —
    # a BIGINT per (doc, band), no string/md5 work. Exact only while
    # p^rows_per_band < 2^63 (i.e. ≤ 2 rows per band); wider bands fall
    # back to an md5 string key.
    if rows_per_band <= 2:
        def band_key(b):
            return F.aggregate(
                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                F.lit(0).cast("long"),
                lambda acc, v: acc * MINHASH_P + v,
            )
    else:
        def band_key(b):
            return F.md5(
                F.concat_ws("|", F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band))
            )

    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    banded = signed.select(
        "id",
        F.explode(
            F.transform(
                band_idx,
                lambda b: F.struct(b.alias("band"), band_key(b).alias("bucket")),
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))

    # Candidate pairs off ONE (band, bucket) exchange: a window count
    # sizes every bucket in the same pass that collects it — per-bucket
    # size is computed ONCE for both the ≥2 pre-filter and the
    # ``max_bucket`` cap (VERDICT r05 item 4; the previous shape ran a
    # separate count pre-pass and joined it back, re-evaluating the
    # band-key explode from the persisted signatures a second time). The
    # degenerate-bucket filter still runs row-level BEFORE collect_list,
    # which is what matters for memory: WindowExec sort-buffers SPILL to
    # disk, while collect_list's aggregation buffer grows in executor
    # memory — so one hot bucket (millions of identical/empty docs
    # hashing to the same band key) is dropped before any array
    # materializes instead of OOMing a task. The groupBy runs on the
    # window's own (band, bucket) hash partitioning, so the collect adds
    # no second corpus-sized exchange. Sorting the bucket makes
    # (id_a < id_b) positional and the output deterministic.
    from pyspark.sql import Window

    wb = Window.partitionBy("band", "bucket")
    bucketed = (
        banded.withColumn("__bsz", F.count(F.lit(1)).over(wb))
        .where((F.col("__bsz") >= 2) & (F.col("__bsz") <= max_bucket))
        .groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
    )
    triangle = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    candidates = (
        bucketed.select(F.explode(triangle).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )

    sh_a = signed.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = signed.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        candidates.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    verified._sg_persisted = [signed]  # released via dedup.release(result)
    return verified


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------
SIMHASH_BITS = 32  # 8 hex chars of md5; portable arithmetic keeps it exact


def simhash(col: Column | str) -> Column:
    """32-bit SimHash of the token multiset.

    Per token: take the first 8 hex chars of md5(token) (32 bits). For each
    bit b, add +1 if set else -1, weighted by token multiplicity; the
    fingerprint sets bit b when the total is > 0 (strictly positive — exact
    zero sums clear the bit, a deterministic convention).

    Implemented with portable arithmetic only (strpos on a hex alphabet,
    floor/mod powers of two) so the SQL oracle reproduces it bit-for-bit.
    Near-duplicate docs differ in few bits → group by fingerprint or probe
    small Hamming balls.
    """
    toks = text_ops.tokens(col)
    # per-token 32-bit value from md5 hex prefix
    vals = F.transform(toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"))

    # Single pass over the token array: fold a 32-wide vote vector
    # (+1/-1 per bit via shiftright/AND) instead of 32 separate traversals —
    # ~10× less expression work per row, bit-identical result.
    def bit_votes(v):
        return F.array(
            *[
                F.when(F.shiftright(v, b).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long")
                for b in range(SIMHASH_BITS)
            ]
        )

    zero = F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS)
    votes = F.aggregate(vals, zero, lambda acc, v: F.zip_with(acc, bit_votes(v), lambda a, b: a + b))
    powers = F.array(*[F.lit(2 ** b).cast("long") for b in range(SIMHASH_BITS)])
    return F.aggregate(
        F.zip_with(votes, powers, lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Candidate generation uses the block trick: split the 32-bit fingerprint
    into ``max_hamming + 1`` blocks — any pair within distance d must agree
    exactly on ≥ 1 block (pigeonhole), so a self-join per block finds all
    candidates with a plain equi-shuffle instead of an all-pairs scan.
    """
    nblocks = max_hamming + 1
    width = SIMHASH_BITS // nblocks
    # persist: the self-join below references the fingerprint pipeline
    # twice — without this the (expensive) simhash expression runs 2×.
    # Eager count: AQE materializes both self-join exchange legs
    # concurrently, and a lazy cache is not yet populated when they start,
    # so each leg would re-run the simhash pipeline anyway.
    base = df.select(F.col(id_col).alias("id"), simhash(text_col).alias("fp")).persist()
    base.count()
    blocks = base.select(
        "id",
        "fp",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(nblocks - 1)),
                lambda b: F.struct(
                    b.alias("blk"),
                    (F.floor(F.col("fp") / F.pow(F.lit(2.0), b * width).cast("long"))
                     % F.lit(2 ** width)).cast("long").alias("blkval"),
                ),
            )
        ).alias("e"),
    ).select("id", "fp", F.col("e.blk").alias("blk"), F.col("e.blkval").alias("blkval"))

    lhs = blocks.select("blk", "blkval", F.col("id").alias("id_a"), F.col("fp").alias("fp_a"))
    rhs = blocks.select("blk", "blkval", F.col("id").alias("id_b"), F.col("fp").alias("fp_b"))
    cand = (
        lhs.join(rhs, ["blk", "blkval"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    out = cand.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )
    out._sg_persisted = [base]  # released via dedup.release(result)
    return out


# --------------------------------------------------------------------------
# embedding-cosine near-dup
# --------------------------------------------------------------------------
def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    bucket_planes: int = 0,
) -> DataFrame:
    """Pairs of rows whose embedding cosine similarity ≥ threshold.

    ``bucket_planes`` = 0 → exact all-pairs (verification baseline; O(N²)).
    > 0 → random-hyperplane LSH prefilter: docs must share the sign
    pattern of ``bucket_planes`` deterministic hyperplanes (md5-derived
    coefficients), which keeps recall high for near-identical vectors while
    cutting the join quadratically.
    """
    from datapipelines_essentials_python_spark.operators.similarity import (
        cosine_similarity,
        hyperplane_bucket,
    )

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if bucket_planes > 0:
        base = base.withColumn("bkt", hyperplane_bucket(F.col("v"), bucket_planes))
    lhs = base.select(
        F.col("id").alias("id_a"), F.col("v").alias("v_a"),
        *( [F.col("bkt").alias("bkt_a")] if bucket_planes > 0 else [] ),
    )
    rhs = base.select(
        F.col("id").alias("id_b"), F.col("v").alias("v_b"),
        *( [F.col("bkt").alias("bkt_b")] if bucket_planes > 0 else [] ),
    )
    cond = lhs["id_a"] < rhs["id_b"]
    if bucket_planes > 0:
        cond = cond & (lhs["bkt_a"] == rhs["bkt_b"])
    pairs = lhs.join(rhs, cond)
    sim = cosine_similarity(F.col("v_a"), F.col("v_b"))
    return pairs.select(
        "id_a", "id_b", F.round(sim, 6).alias("cosine")
    ).where(F.col("cosine") >= threshold)


# --------------------------------------------------------------------------
# SemDeDup-style semantic dedup (cluster-scoped embedding-cosine pairs)
# --------------------------------------------------------------------------
def semantic_dedup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    centroid_mod: int = 31,
    threshold: float = 0.85,
) -> DataFrame:
    """Semantic near-duplicate pairs à la SemDeDup (Abbas et al., 2023):
    assign every embedding to its nearest centroid, then compare cosines
    only WITHIN a cluster — the quadratic term shrinks from N² to
    Σ(cluster size)², the same inverted-file trick :mod:`similarity`'s IVF
    index uses for search.

    ``centroids`` defaults to the deterministic ``id % centroid_mod == 0``
    subset (pass k-means-trained centroids from :mod:`clustering` in
    production — ``kmeans_train`` exists precisely to feed this). Returns
    ``(id_a, id_b, cell, cosine)`` with ``cosine >= threshold``.

    At 100 TB: centroid assignment is a broadcast pass over the corpus (no
    shuffle); the pair join shuffles on ``cell`` — cluster sizes are the
    skew knob, controlled by centroid count, exactly as in the paper.
    """
    from datapipelines_essentials_python_spark.operators.similarity import (
        assign_to_centroid,
        cosine_similarity,
    )

    if centroids is None:
        centroids = emb.where(F.col(id_col) % centroid_mod == 0).select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
        )
    # persist: both self-join legs read the assignment, which is itself a
    # broadcast pass + a row_number window — without caching the whole
    # pipeline runs twice (same discipline as minhash_lsh_pairs's `signed`)
    assigned = assign_to_centroid(
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        centroids, "id", "v",
    ).persist()
    # Eager count: both self-join exchange legs materialize concurrently
    # under AQE, before a lazy cache fills — each would re-run the
    # broadcast-assign + window pipeline.
    assigned.count()
    lhs = assigned.select("cell", F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    rhs = assigned.select("cell", F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    pairs = lhs.join(rhs, "cell").where(F.col("id_a") < F.col("id_b"))
    cos = F.round(cosine_similarity(F.col("v_a"), F.col("v_b")), 6)
    out = pairs.select(
        "id_a", "id_b", F.col("cell"), cos.alias("cosine")
    ).where(F.col("cosine") >= threshold)
    out._sg_persisted = [assigned]  # released via dedup.release(result)
    return out


def semantic_dedup_keep(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    centroid_mod: int = 31,
    threshold: float = 0.85,
) -> DataFrame:
    """Corpus minus semantic near-duplicates: for every qualifying pair the
    higher id loses (keep-lowest policy, same convention as
    ``near_dedup_keep``). One left-anti join against the loser set."""
    pairs = semantic_dedup_pairs(
        emb, id_col, vec_col, centroids, centroid_mod, threshold
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    kept = emb.join(losers, id_col, "left_anti")
    kept._sg_persisted = getattr(pairs, "_sg_persisted", [])
    return kept


# --------------------------------------------------------------------------
# connected-component dedup clustering
# --------------------------------------------------------------------------
def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    nodes: DataFrame | None = None,
    node_col: str = "id",
    max_iter: int = 30,
) -> DataFrame:
    """Exact connected components over an undirected edge list.

    Returns ``(id, component)`` where ``component`` is the MINIMUM node id
    in the node's component (a canonical, deterministic label). If
    ``nodes`` is given, isolated nodes appear with ``component = id``.

    Algorithm: iterative min-label propagation — each round every node's
    label becomes ``min(own label, min over neighbors' labels)``; converges
    in O(graph diameter) rounds. Near-duplicate graphs have tiny diameters
    (clusters of mutually-similar documents), so 3-5 rounds is typical.
    Convergence is detected by the (monotonically decreasing) sum of all
    labels going stable — one lightweight action per round.

    Scale notes (100 TB): each round is one shuffle (groupBy ``dst``) plus
    one broadcast-eligible join; the edge list is persisted once. Each
    round's labels are ``localCheckpoint``-ed: the round plan references
    ``labels`` twice (join leg + union leg), so without lineage truncation
    the logical plan DOUBLES per round and OOMs the driver JVM on
    deep-diameter graphs long before the data is the problem. For graphs
    with large diameters (paths), switch to pointer-jumping
    (large-star/small-star, O(log n) rounds) — near-dup dedup never needs
    it. This is the exact-closure upgrade of the keep-lowest-per-pair
    approximation used by ``near_dedup_keep``-style one-pass dedup.
    """
    und_cached = (
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    # Size the iteration's parallelism to the graph, not the cluster: dup
    # graphs are usually a tiny fraction of the corpus, and each propagation
    # round is a fixed number of jobs whose per-task overhead dominates when
    # partitions vastly outnumber edges (loop_parts).
    spark = edges.sparkSession
    parts = loop_parts(und_cached)
    und = und_cached.repartition(parts, "src").persist()
    # Round 0 fused into initialization: comp = min(id, direct neighbors).
    labels = (
        und.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("nbr"))
        .select("id", F.least(F.col("id"), F.col("nbr")).alias("comp"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("comp")).collect()[0][0]

    def propagate(lbl: DataFrame) -> DataFrame:
        # One round = one join (attach labels to edge sources) + one
        # groupBy taking the min over {own label} ∪ {neighbors' labels} —
        # the self-contribution rides the same shuffle as a union leg, so
        # each round costs two exchanges, not three.
        contrib = und.join(lbl.withColumnRenamed("id", "src"), "src").select(
            F.col("dst").alias("id"), "comp"
        )
        return (
            contrib.unionByName(lbl)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        )

    for _ in range(max(1, max_iter // 2)):
        # TWO propagation rounds per materialization: min-label rounds are
        # idempotent past convergence, so checking the (monotone) label sum
        # every other round trades at most one no-op round for HALF the
        # per-iteration job count — on near-dup graphs (diameter ≤ ~5) the
        # driver-side action overhead is the loop's dominant cost.
        # localCheckpoint (not persist): the plan references ``labels``
        # twice per round, so un-truncated lineage doubles every iteration
        # and OOMs the driver JVM (same fix as connected_components_star
        # and clustering.kmeans_train). AQE off for the materialization
        # only (static_loop_planning), shuffle partitions bounded to the
        # graph-sized ``parts``: per-exchange AQE stage jobs otherwise
        # dominate the bounded per-round work, and without the bound the
        # static plan would inherit the session-wide partition count.
        with static_loop_planning(spark, parts):
            new_labels = propagate(propagate(labels)).localCheckpoint()
        new_sum = new_labels.agg(F.sum("comp")).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    und.unpersist()
    und_cached.unpersist()
    if nodes is not None:
        all_nodes = nodes.select(F.col(node_col).alias("id"))
        return all_nodes.join(labels, "id", "left").select(
            "id", F.coalesce("comp", F.col("id")).alias("component")
        )
    return labels.select("id", F.col("comp").alias("component"))


def connected_components_star(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    nodes: DataFrame | None = None,
    node_col: str = "id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star / small-star rounds —
    the pointer-jumping upgrade of :func:`connected_components` for graphs
    with large diameters (paths, chains), converging in O(log n) rounds
    instead of O(diameter).

    Algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14):

    - **large-star**: for every node u over its full neighborhood Γ(u)
      (both edge directions), link every larger neighbor v > u to
      m = min(Γ(u) ∪ {u});
    - **small-star**: key every edge on its LARGER endpoint; for node u
      over its smaller neighbors Γ≤(u), link every non-min member of
      Γ≤(u) ∪ {u} to m = min.

    Each half-round is one aggregation + one join, both keyed on the same
    node column (2 exchanges); convergence = the edge multiset's
    (count, hash-sum) signature going stable — one 1-row action per round.
    The fixed point is a depth-1 star per component rooted at its minimum
    node id, so labels read directly off the final edge set and are
    IDENTICAL to min-label propagation's.

    Returns ``(id, component)``; rounds used are exposed on the result as
    ``._sg_rounds`` for diagnostics/tests.
    """
    # localCheckpoint (not persist): each round's plan builds on the last,
    # so without truncating lineage the analyzer's logical plan grows
    # exponentially with rounds and OOMs the driver around round ~8.
    e = (
        edges.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    def _star_round(cur: DataFrame) -> DataFrame:
        # ---- large-star: symmetric neighborhoods, larger nodes re-point
        sym = cur.unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least(F.col("mv"), F.col("u")).alias("m")
        )
        # no distinct here: duplicate (v, m) edges don't change small-star's
        # MIN aggregate and the round's final distinct dedups the output —
        # dropping it saves one full exchange per round
        large = (
            sym.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        # ---- small-star: key on the larger endpoint, all members re-point
        keyed = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins_s = keyed.groupBy("u").agg(F.min("v").alias("m"))
        joined = keyed.join(mins_s, "u")
        return (
            joined.where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins_s.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    prev_sig = None
    rounds = 0
    # ONE star round per materialization + signature action. A composed
    # double round was tried (round 9) and measured 4-5× SLOWER: each
    # round references its input 4× (sym union + both join legs), so the
    # un-materialized inner round's subtree re-executes per reference in
    # the outer round's static plan — exchange reuse does not cover the
    # pre-exchange union/scan work and the blowup compounds.
    spark = edges.sparkSession
    # graph-sized parallelism (loop_parts), refreshed each round from the
    # signature count (the edge set only shrinks toward the star fixpoint)
    n_e = e.count()
    for _ in range(max_iter):
        rounds += 1
        parts = loop_parts(e, rows=n_e)
        # AQE off for the loop-step materialization only: the round's
        # ~6 exchanges otherwise each become a separately planned and
        # scheduled AQE stage job — see static_loop_planning; shuffle
        # partitions bounded to the observed graph size (without the
        # bound the static plan inherits the session-wide count —
        # measured 84 s of empty-task scheduling vs 5 s on the
        # grid-DBSCAN cell graph).
        with static_loop_planning(spark, parts):
            new_e = _star_round(e).localCheckpoint()
        # decimal(38,0) sum: a long sum of 64-bit hashes would overflow
        # under ANSI mode
        cnt, hsum = new_e.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
        ).collect()[0]
        e = new_e
        n_e = int(cnt)
        if (cnt, hsum) == prev_sig:
            break
        prev_sig = (cnt, hsum)
    # fixed point: every non-root points straight at its component min
    labels = e.select(F.col("u").alias("id"), F.col("v").alias("comp"))
    roots = (
        e.select(F.col("v").alias("id"))
        .distinct()
        .join(e.select(F.col("u").alias("id")).distinct(), "id", "left_anti")
        .select("id", F.col("id").alias("comp"))
    )
    labels = labels.unionByName(roots)
    if nodes is not None:
        all_nodes = nodes.select(F.col(node_col).alias("id"))
        labels = all_nodes.join(labels, "id", "left").select(
            "id", F.coalesce("comp", F.col("id")).alias("component")
        )
    else:
        labels = labels.select("id", F.col("comp").alias("component"))
    labels._sg_rounds = rounds
    return labels


# --------------------------------------------------------------------------
# incremental (cross-corpus) dedup
# --------------------------------------------------------------------------
def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    ngram: int = 3,
    keep: int = 4,
) -> DataFrame:
    """Incremental corpus update: admit only the incoming documents whose
    winnowing fingerprint (``text.fingerprint``) appears neither in the
    existing corpus nor earlier (smaller id) in the incoming batch itself.

    This is the steady-state form of corpus dedup at scale: the O(corpus)
    sketch work happened once, historically; each new batch costs only its
    own fingerprints + one anti-join against the corpus fingerprint table
    (batch-sized build side → broadcast when small, shuffle-hash when not)
    + one batch-local keep-first window. The full-corpus LSH pass is never
    re-run.

    Returns the surviving rows of ``new_df`` with their ``fp`` column.

    Either side may carry a precomputed ``fp`` column (the served
    fingerprint-table shape): it is used as-is, so the sketch work isn't
    repeated — pass it when batch and corpus derive from one scan.
    """
    from pyspark.sql import Window

    from datapipelines_essentials_python_spark.operators.text import fingerprint

    fp = fingerprint(text_col, ngram=ngram, keep=keep)
    new_fp = new_df if "fp" in new_df.columns else new_df.withColumn("fp", fp)
    corpus_fp = (
        corpus_df.select("fp")
        if "fp" in corpus_df.columns
        else corpus_df.select(fp.alias("fp"))
    )
    fresh = new_fp.join(corpus_fp.distinct(), "fp", "left_anti")
    w = Window.partitionBy("fp").orderBy(F.col(id_col))
    return (
        fresh.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def keep_best_per_cluster(
    labeled: DataFrame,
    cluster_col: str = "component",
    id_col: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware duplicate-cluster resolution: one keeper per cluster —
    the member with the highest ``score_col``, ties broken by smallest id.

    → (cluster, keeper_id, keeper_score, n_members). Single map-side-
    combinable aggregation: the keeper is ``max(struct(score, -id))``, so
    no per-cluster window/sort and no second shuffle — at 100 TB this is
    ONE keyed exchange over (cluster, 24-byte struct) partial maxes.

    Compose after :func:`connected_components`: near-dup clusters resolve
    to their best-quality member instead of the arbitrary lowest id.
    """
    m = F.max(
        F.struct(
            F.col(score_col).alias("s"), (-F.col(id_col)).alias("nid")
        )
    )
    return (
        labeled.groupBy(F.col(cluster_col).alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            m.alias("_m"),
        )
        .select(
            "cluster",
            (-F.col("_m.nid")).cast("long").alias("keeper_id"),
            F.col("_m.s").alias("keeper_score"),
            "n_members",
        )
    )


def group_minhash_similarity(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """Estimated shingle-Jaccard between every GROUP pair (sources,
    crawls, snapshots) from per-group MinHash signatures — the bounded-
    state scale path next to the exact ``source_overlap_matrix``
    diagnostic (the ``decontamination`` → ``decontamination_bloom``
    pattern). The exact matrix shuffles every distinct shingle in the
    corpus; this keeps ``num_hashes`` BIGINTs per group no matter how
    many shingles feed it, because a group's signature is the
    elementwise MIN of its documents' signatures — MinHash's
    mergeability: min over the union = min of the mins (Broder 1997).

    Spark-first shape: per-doc signatures (one narrow projection, each
    shingle md5-hashed ONCE and fanned through the affine family — the
    :func:`minhash_signature` evaluation discipline), posexploded to
    ``(group, component, value)`` and min-folded by one keyed agg with
    map-side partials; state is groups × num_hashes rows. The pair
    compare self-joins that tiny table on the component index — fanout
    per component is the group count, so the quadratic term is
    groups², never docs².

    ``jaccard_est = n_equal / num_hashes`` rounded to 6 — one
    fixed-shape division, oracle-replayed exactly.

    → ``(grp_a, grp_b, n_equal, jaccard_est)``, one row per unordered
    group pair.
    """
    sigs = with_minhash(
        df.select(F.col(group_col).alias("grp"), text_col),
        text_col, n=n, num_hashes=num_hashes,
    )
    comp = (
        sigs.select("grp", F.posexplode("sig").alias("pos", "v"))
        .groupBy("grp", "pos")
        .agg(F.min("v").alias("mv"))
    )
    a, b = comp.alias("a"), comp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.grp") < F.col("b.grp")),
        )
        .groupBy(
            F.col("a.grp").alias("grp_a"), F.col("b.grp").alias("grp_b")
        )
        .agg(
            F.sum(
                (F.col("a.mv") == F.col("b.mv")).cast("long")
            ).alias("n_equal")
        )
        .select(
            "grp_a",
            "grp_b",
            "n_equal",
            F.round(
                F.col("n_equal").cast("double") / F.lit(float(num_hashes)), 6
            ).alias("jaccard_est"),
        )
    )


def threshold_sensitivity(
    df: DataFrame,
    id_col: str,
    text_col: str,
    thresholds: list[float],
    n: int = 3,
    block_col: str | None = None,
    unblocked: bool = False,
    max_iter: int = 30,
) -> DataFrame:
    """Near-dup THRESHOLD SENSITIVITY report: how many documents, dup
    clusters, and removals each candidate Jaccard threshold would
    produce — the tuning artifact every dedup rollout reads before
    committing a threshold (too low merges unrelated docs into giant
    clusters; too high leaves near-dups in the corpus; the knee of this
    table is the operating point).

    ONE similarity pass at ``min(thresholds)`` (the inverted-index
    :func:`ngram_jaccard_pairs_indexed`, same blocking contract), then
    ONE threshold-tagged components run (round-9 optimization, guide
    §2.4): each pair is replicated once per threshold it survives
    (``explode`` over the threshold literals — pair-table-sized ×
    |thresholds|, never corpus-sized) and min-label propagation runs
    over the union graph keyed on ``(threshold, node)``. The subgraphs
    are disjoint by construction, so the fixpoint labels per threshold
    are IDENTICAL to running :func:`connected_components` per threshold
    (which is what this operator did before); what changes is the loop
    count — one propagation loop of max(diameter) rounds instead of
    |thresholds| sequential loops, i.e. |thresholds|× fewer jobs and
    driver round-trips. Per threshold the output is three numbers, so
    the result is thresholds-cardinality, not corpus-sized.

    → ``(threshold, n_docs_in_pairs, n_clusters, n_dups_removed)``,
    one row per threshold: docs appearing in ≥1 surviving pair, their
    component count, and docs − components (the rows a keep-one-per-
    cluster pass would drop).
    """
    if not thresholds:
        raise ValueError("threshold_sensitivity needs at least one threshold")
    base_t = min(thresholds)
    pairs = ngram_jaccard_pairs_indexed(
        df,
        id_col,
        text_col,
        n=n,
        threshold=base_t,
        block_col=block_col,
        unblocked=unblocked,
    ).persist()
    spark = df.sparkSession
    # ---- threshold-tagged union graph: pair (a, b) appears once per
    # threshold it survives; (t, node) keys keep the per-threshold
    # subgraphs disjoint so one propagation serves every threshold.
    t_lits = F.array(*[F.lit(float(t)) for t in sorted(set(thresholds))])
    e = (
        pairs.withColumn("t", F.explode(t_lits))
        .where(F.col("jaccard") >= F.col("t"))
        .select("t", "id_a", "id_b")
    )
    und_cached = (
        e.select("t", F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            e.select("t", F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    # same graph-sized parallelism heuristic as connected_components
    parts = loop_parts(und_cached)
    und = und_cached.repartition(parts, "t", "src").persist()
    labels = (
        und.groupBy("t", F.col("src").alias("id"))
        .agg(F.min("dst").alias("nbr"))
        .select("t", "id", F.least(F.col("id"), F.col("nbr")).alias("comp"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("comp")).collect()[0][0]

    def _propagate(lbl: DataFrame) -> DataFrame:
        contrib = und.join(lbl.withColumnRenamed("id", "src"), ["t", "src"]).select(
            "t", F.col("dst").alias("id"), "comp"
        )
        return (
            contrib.unionByName(lbl)
            .groupBy("t", "id")
            .agg(F.min("comp").alias("comp"))
        )

    for _ in range(max(1, max_iter // 2)):
        # double-round + monotone label-sum stability check, exactly the
        # connected_components discipline; stability of the GLOBAL sum ⟺
        # every per-threshold subgraph is at its fixpoint (min-label sums
        # decrease strictly until then)
        with static_loop_planning(spark, parts):
            new_labels = _propagate(_propagate(labels)).localCheckpoint()
        new_sum = new_labels.agg(F.sum("comp")).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    stats = {
        row["t"]: (row["n_docs_in_pairs"], row["n_clusters"])
        for row in labels.groupBy("t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_in_pairs"),
            F.countDistinct("comp").cast("long").alias("n_clusters"),
        )
        .collect()
    }
    out_rows = []
    for t in sorted(thresholds):
        n_docs, n_clusters = stats.get(float(t), (0, 0))
        out_rows.append(
            (round(float(t), 6), n_docs, n_clusters, n_docs - n_clusters)
        )
    und.unpersist()
    und_cached.unpersist()
    pairs.unpersist()
    # thresholds-cardinality result — a driver-side literal table, the
    # documented P8 bridge shape (the per-threshold aggregates were the
    # distributed work; this is their 3-number summary).
    return spark.createDataFrame(
        out_rows,
        "threshold double, n_docs_in_pairs long, n_clusters long, "
        "n_dups_removed long",
    )
