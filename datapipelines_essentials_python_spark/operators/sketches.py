"""Deterministic frequency/cardinality sketches (Count-Min, HyperLogLog).

Beyond-reference surface (driver mandate): the sketch structures a 100 TB
profiler actually ships — bounded-memory frequency estimation (Count-Min)
and distinct counting (HyperLogLog) — built from scratch on md5-derived
hashing so every estimate is **deterministic and engine-portable**: the
DuckDB oracle replays the identical construction and gets the identical
estimate, making even the approximate path exactly testable (the same
discipline as the MinHash/SimHash/bloom operators).

Scale notes:

- both sketches reduce to ``groupBy`` over a FIXED key space (``d × w``
  counters for CMS, ``m`` registers for HLL): partial aggregation does
  almost all the work map-side and the shuffled state is sketch-sized
  (KBs), independent of input rows — the whole point of sketching;
- all arithmetic that feeds an estimate is integer (register sums are
  carried as ``2^(rho_max − M)`` scaled bigints) so no float-summation
  order dependence exists; the only doubles appear in the final scalar
  formula, written identically in the SQL oracle.

Spark ships built-in approx variants (``approx_count_distinct``,
``count_min_sketch``) whose seeds/layout are JVM-internal — fine in
production, but unverifiable cross-engine. These operators trade a little
constant-factor speed for exact reproducibility; swap in the built-ins
when cross-engine determinism doesn't matter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 32-bit md5-prefix hash — the family shared by the dedup/similarity ops
def _h32(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------


def cms_build(
    df: DataFrame, item_col: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Build a depth×width Count-Min sketch over ``item_col`` values.

    Row ``(row_idx, bucket, cnt)`` per non-empty counter; the full sketch
    is ≤ ``depth·width`` rows. Each hash row salts the md5 with its index,
    giving ``depth`` independent family members.
    """
    items = df.select(F.col(item_col).cast("string").alias("x"))
    rows = items.select(
        F.explode(
            F.array(*[F.lit(i) for i in range(depth)])
        ).alias("row_idx"),
        F.col("x"),
    )
    bucket = (
        _h32(F.concat(F.col("row_idx").cast("string"), F.lit("|"), F.col("x")))
        % width
    )
    return (
        rows.select("row_idx", bucket.alias("bucket"))
        .groupBy("row_idx", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame, queries: DataFrame, item_col: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Point-frequency estimates: for each query item, min over the
    ``depth`` counters it hashes to (the classic CMS upper bound —
    never under the true count). Sketch side is tiny → broadcast join."""
    q = queries.select(F.col(item_col).cast("string").alias("x")).distinct()
    probes = q.select(
        "x",
        F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row_idx"),
    ).select(
        "x",
        "row_idx",
        (
            _h32(F.concat(F.col("row_idx").cast("string"), F.lit("|"), F.col("x")))
            % width
        ).alias("bucket"),
    )
    joined = probes.join(F.broadcast(sketch), ["row_idx", "bucket"], "left")
    return (
        joined.groupBy("x")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
        .select(F.col("x").alias(item_col), F.col("cms_est").cast("long").alias("cms_est"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog (p=8 → m=256 registers, 32-bit md5-prefix hash)
# ---------------------------------------------------------------------------

HLL_P = 8
HLL_M = 1 << HLL_P          # 256 registers
_SUFFIX_BITS = 32 - HLL_P   # 24-bit register payload
_RHO_MAX = _SUFFIX_BITS + 1  # rho ∈ [1, 25]


def hll_registers(
    df: DataFrame, item_col: str, group_cols: list[str] | None = None
) -> DataFrame:
    """Per-group HLL register table ``(group…, idx, M)``.

    ``idx`` = low ``p`` bits of the 32-bit hash; ``rho`` = leading-zero
    count of the 24-bit suffix + 1, computed with INTEGER bit-length
    (``length(conv(v, 10, 2))``) — no float log anywhere. ``M`` is the
    per-register max; absent registers mean M = 0.
    """
    group_cols = group_cols or []
    h = _h32(F.col(item_col).cast("string"))
    v = (h / HLL_M).cast("long")  # 24-bit suffix
    rho = F.when(v == 0, F.lit(_RHO_MAX)).otherwise(
        F.lit(_SUFFIX_BITS + 1) - F.length(F.conv(v, 10, 2))
    )
    return (
        df.select(*group_cols, (h % HLL_M).cast("int").alias("idx"), rho.alias("rho"))
        .groupBy(*group_cols, "idx")
        .agg(F.max("rho").cast("int").alias("M"))
    )


def hll_estimate(
    registers: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Cardinality estimate from a register table, with the standard
    small-range (linear counting) correction.

    The harmonic sum is carried as the exact integer
    ``Σ 2^(rho_max − M)`` (absent registers contribute ``2^rho_max``), so
    the only floating-point is the final scalar formula — written
    token-for-token identically in the SQL oracle. Estimates are rounded
    to 3 decimals to absorb last-ulp ``ln`` differences across engines.
    """
    group_cols = group_cols or []
    denom = F.expr(f"shiftleft(cast(1 as bigint), {_RHO_MAX} - M)")
    agged = registers.groupBy(*group_cols).agg(
        F.sum(denom).alias("denom_obs"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    m = HLL_M
    missing = F.lit(m) - F.col("n_obs")
    denom_scaled = F.col("denom_obs") + missing * F.lit(1 << _RHO_MAX)
    # alpha_256 — same literal expression both engines
    alpha = 0.7213 / (1.0 + 1.079 / m)
    raw = (
        F.lit(alpha)
        * F.lit(float(m))
        * F.lit(float(m))
        * F.lit(float(1 << _RHO_MAX))
        / denom_scaled.cast("double")
    )
    zeros = missing  # every observed register has M ≥ 1
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    est = F.when((raw <= 2.5 * m) & (zeros > 0), linear).otherwise(raw)
    return agged.select(*group_cols, F.round(est, 3).alias("hll_est"))


# ---------------------------------------------------------------------------
# Sketch merging — the property that makes sketches work at 100 TB: build
# per partition / per batch / per day, merge cheaply, estimate once.
# ---------------------------------------------------------------------------


def hll_merge(
    a: DataFrame, b: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Merge two HLL register tables: per-register MAX. Exactly lossless —
    ``estimate(merge(regs(X), regs(Y))) == estimate(regs(X ∪ Y))`` by
    construction, which is why HLL profiles can be kept incrementally
    (per day / per batch) and only merged at query time."""
    group_cols = group_cols or []
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "idx")
        .agg(F.max("M").cast("int").alias("M"))
    )


# ---------------------------------------------------------------------------
# Fixed-range histogram quantile sketch
# ---------------------------------------------------------------------------
# Exact per-group quantiles (Spark's `percentile`, the `quantile_profile`
# query) buffer every group value in one aggregation buffer — fine for
# small groups, not for a 100 TB column. The scalable shape is the same
# one CMS/HLL use: reduce to a FIXED key space. A fixed-range histogram
# bins the column into `n_bins` counters per group (map-side combined,
# shuffled state = bins x groups rows, independent of input size), and a
# quantile estimate reads the cumulative bin counts. Error is bounded by
# one bin width; histograms are linear, so per-day/per-batch sketches
# merge by counter addition (histogram_merge). All binning arithmetic is
# written identically in the SQL oracle, so estimates hash-match.


def value_histogram(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    n_bins: int = 256,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """(group, bin) -> cnt over a fixed [lo, hi) range; out-of-range
    values clamp into the edge bins. One map-side-combined groupBy whose
    shuffled state is at most ``n_bins`` rows per group."""
    span = hi - lo
    raw = F.floor(
        (F.col(value_col) - F.lit(lo)) / F.lit(span) * F.lit(n_bins)
    )
    b = F.least(F.lit(n_bins - 1), F.greatest(F.lit(0), raw)).cast("int")
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*group_cols, b.alias("bin"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def histogram_quantile(
    bins: DataFrame,
    group_cols: list[str],
    qs: list[float],
    n_bins: int = 256,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Per-group quantile estimates off a :func:`value_histogram` table:
    for each q, the right edge of the first bin whose cumulative count
    reaches ``ceil(q * n)`` (type-1 rank). True quantile lies inside that
    bin, so |est - exact| <= bin width + the gap to the interpolated
    order statistic. Windows run over <= ``n_bins`` rows per group —
    bounded whatever the corpus size. → (group, q, n, est)."""
    from pyspark.sql import Window

    span = hi - lo
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy(*group_cols)
    c = bins.select(
        *group_cols,
        "bin",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wt).alias("tot"),
    )
    qlit = F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    hit = (
        c.select(*group_cols, "bin", "cum", "tot", qlit)
        .where(F.col("cum") >= F.ceil(F.col("q") * F.col("tot")))
        .groupBy(*group_cols, "q")
        .agg(F.min("bin").alias("bin"), F.max("tot").cast("long").alias("n"))
    )
    est = F.round(
        F.lit(lo) + (F.col("bin") + 1) * F.lit(span) / F.lit(n_bins), 6
    )
    return hit.select(*group_cols, "q", "n", est.alias("est"))


def histogram_merge(a: DataFrame, b: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge two histogram tables (same binning required): counter-wise
    SUM — histograms are linear sketches, like CMS."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "bin")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
