"""Count-Min and HyperLogLog sketch operators."""

from pyspark.sql import functions as F

from datapipelines_essentials_python_spark.operators import sketches


def test_cms_never_underestimates(spark):
    rows = [(f"tok{i % 7}",) for i in range(700)] + [("rare",)]
    df = spark.createDataFrame(rows, "x string")
    sk = sketches.cms_build(df, "x", depth=4, width=32)
    true = {r["x"]: r["c"] for r in df.groupBy("x").agg(F.count(F.lit(1)).alias("c")).collect()}
    est = {
        r["x"]: r["cms_est"]
        for r in sketches.cms_estimate(sk, df, "x", depth=4, width=32).collect()
    }
    assert set(est) == set(true)
    for k, t in true.items():
        assert est[k] >= t  # CMS is an upper bound
    # 8 distinct keys in 4x32 counters: collisions rare, est close to truth
    assert est["rare"] <= true["rare"] + 700


def test_cms_sketch_is_bounded(spark):
    df = spark.createDataFrame([(str(i),) for i in range(5000)], "x string")
    sk = sketches.cms_build(df, "x", depth=4, width=64)
    assert sk.count() <= 4 * 64
    # total mass per row equals input size
    per_row = sk.groupBy("row_idx").agg(F.sum("cnt").alias("s")).collect()
    assert all(r["s"] == 5000 for r in per_row)


def test_hll_estimate_accuracy(spark):
    # m=256 → typical rel. error ~1.04/sqrt(256) ≈ 6.5%
    df = spark.createDataFrame(
        [(i % 2000,) for i in range(10000)], "user_id long"
    )
    regs = sketches.hll_registers(df, "user_id")
    est = sketches.hll_estimate(regs).collect()[0]["hll_est"]
    assert 2000 * 0.8 <= est <= 2000 * 1.2


def test_hll_small_range_linear_counting(spark):
    df = spark.createDataFrame([(i,) for i in range(20)], "user_id long")
    regs = sketches.hll_registers(df, "user_id")
    est = sketches.hll_estimate(regs).collect()[0]["hll_est"]
    assert 15 <= est <= 25


def test_hll_grouped_and_deterministic(spark):
    rows = [("a", i % 50) for i in range(500)] + [("b", i % 300) for i in range(600)]
    df = spark.createDataFrame(rows, "g string, user_id long")
    regs = sketches.hll_registers(df, "user_id", ["g"])
    e1 = {r["g"]: r["hll_est"] for r in sketches.hll_estimate(regs, ["g"]).collect()}
    e2 = {r["g"]: r["hll_est"] for r in sketches.hll_estimate(
        sketches.hll_registers(df, "user_id", ["g"]), ["g"]).collect()}
    assert e1 == e2  # fully deterministic
    assert 50 * 0.75 <= e1["a"] <= 50 * 1.25
    assert 300 * 0.75 <= e1["b"] <= 300 * 1.25


def test_hll_merge_is_lossless(spark):
    df = spark.createDataFrame([(i,) for i in range(3000)], "user_id long")
    a = df.where(F.col("user_id") < 1500)
    b = df.where(F.col("user_id") >= 1500)
    merged = sketches.hll_merge(
        sketches.hll_registers(a, "user_id"),
        sketches.hll_registers(b, "user_id"),
    )
    full = sketches.hll_registers(df, "user_id")
    est_m = sketches.hll_estimate(merged).collect()[0]["hll_est"]
    est_f = sketches.hll_estimate(full).collect()[0]["hll_est"]
    assert est_m == est_f  # merge is exactly lossless


def test_histogram_merge_is_linear_and_quantiles_bounded(spark):
    """Histogram sketches are linear (per-split sketches sum to the full
    sketch) and the quantile estimate sits within one bin width above the
    type-1 exact quantile."""
    import random

    rng = random.Random(7)
    vals = [(i, rng.uniform(0.0, 100.0)) for i in range(2000)]
    df = spark.createDataFrame(vals, "id long, v double")
    a = df.where(F.col("id") < 900)
    b = df.where(F.col("id") >= 900)
    grp = df.withColumn("g", F.lit("all"))
    bins_full = sketches.value_histogram(grp, ["g"], "v", 128, 0.0, 100.0)
    merged = sketches.histogram_merge(
        sketches.value_histogram(a.withColumn("g", F.lit("all")), ["g"], "v", 128, 0.0, 100.0),
        sketches.value_histogram(b.withColumn("g", F.lit("all")), ["g"], "v", 128, 0.0, 100.0),
        ["g"],
    )
    m = {r["bin"]: r["cnt"] for r in merged.collect()}
    f = {r["bin"]: r["cnt"] for r in bins_full.collect()}
    assert m == f
    qs = [0.1, 0.5, 0.9, 0.99]
    est = {
        r["q"]: r["est"]
        for r in sketches.histogram_quantile(
            bins_full, ["g"], qs, 128, 0.0, 100.0
        ).collect()
    }
    ordered = sorted(v for _, v in vals)
    width = 100.0 / 128
    for q in qs:
        exact = ordered[max(0, -(-int(q * 2000) // 1) - 1)]  # type-1 rank
        assert exact <= est[q] <= exact + width + 1e-9, (q, exact, est[q])


def test_value_histogram_clamps_out_of_range(spark):
    df = spark.createDataFrame(
        [(1, -5.0), (2, 0.0), (3, 99.9), (4, 250.0), (5, None)],
        "id long, v double",
    ).withColumn("g", F.lit("all"))
    rows = {
        r["bin"]: r["cnt"]
        for r in sketches.value_histogram(df, ["g"], "v", 10, 0.0, 100.0).collect()
    }
    assert rows == {0: 2, 9: 2}  # -5 and 0 clamp low; 99.9 and 250 clamp high
