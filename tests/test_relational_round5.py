"""Unit tests for the round-5 analytics operators: Markov transition
matrix, time-weighted mean, linear interpolation gap fill, 2-D Pareto
frontier, and bigram PMI collocations.

Hand-computed small fixtures plus a brute-force dominance check for the
frontier (the distributed sweep must match the O(n²) definition).
"""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from datapipelines_essentials_python_spark.operators import relational, text


def _ts(s: int) -> datetime:
    return datetime(2024, 1, 1, 0, 0, 0).replace(second=s % 60, minute=s // 60)


def test_transition_counts_normalizes_per_from_state(spark):
    """u1: a→b→a→c, u2: a→b. Counts: a→b 2, b→a 1, a→c 1; rows of the
    matrix sum to 1 and p is n over the from-state total."""
    rows = [
        ("u1", 1, "a"),
        ("u1", 2, "b"),
        ("u1", 3, "a"),
        ("u1", 4, "c"),
        ("u2", 1, "a"),
        ("u2", 2, "b"),
    ]
    df = spark.createDataFrame(rows, "user string, seq long, state string")
    out = {
        (r["from_state"], r["to_state"]): (r["n"], r["p"])
        for r in relational.transition_counts(df, "user", ["seq"], "state").collect()
    }
    assert out == {
        ("a", "b"): (2, pytest.approx(2 / 3)),
        ("a", "c"): (1, pytest.approx(1 / 3)),
        ("b", "a"): (1, pytest.approx(1.0)),
    }


def test_transition_counts_no_cross_key_pairs(spark):
    """The first event of each key has no predecessor — transitions never
    leak across keys even when sequences interleave in input order."""
    rows = [("u1", 1, "x"), ("u2", 1, "y"), ("u1", 2, "y"), ("u2", 2, "x")]
    df = spark.createDataFrame(rows, "user string, seq long, state string")
    out = relational.transition_counts(df, "user", ["seq"], "state").collect()
    assert sorted((r["from_state"], r["to_state"]) for r in out) == [
        ("x", "y"),
        ("y", "x"),
    ]


def test_time_weighted_mean_locf_weighting(spark):
    """v=10 holds 2s then v=20 holds 8s → twa (10·2+20·8)/10 = 18; the
    final observation (v=99) carries no weight. A second group with one
    point has no intervals and is absent."""
    rows = [
        ("k1", _ts(0), 10.0, "g1"),
        ("k1", _ts(2), 20.0, "g1"),
        ("k1", _ts(10), 99.0, "g1"),
        ("k2", _ts(0), 7.0, "g2"),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double, g string")
    out = relational.time_weighted_mean(df, "k", "ts", "value", "g").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["group"], r["n_intervals"], r["total_seconds"]) == ("g1", 2, 10)
    assert r["twa"] == pytest.approx(18.0)


def test_time_weighted_mean_differs_from_plain_avg(spark):
    """Chatty low values must not dominate: nine 1-second samples at 0
    then one value at 100 held 91s → twa weights by duration."""
    rows = [("k", _ts(s), 0.0, "g") for s in range(9)] + [
        ("k", _ts(9), 100.0, "g"),
        ("k", _ts(100), 0.0, "g"),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double, g string")
    r = relational.time_weighted_mean(df, "k", "ts", "value", "g").collect()[0]
    assert r["total_seconds"] == 100
    assert r["twa"] == pytest.approx(91.0)  # 100·91 / 100s


def test_transition_counts_null_interior_state_bridged(spark):
    """ADVICE r05: a NULL interior event neither emits a transition nor
    breaks the chain — a, NULL, b yields exactly one a→b pair and never
    an a→NULL row."""
    rows = [("u1", 1, "a"), ("u1", 2, None), ("u1", 3, "b")]
    df = spark.createDataFrame(rows, "user string, seq long, state string")
    out = relational.transition_counts(df, "user", ["seq"], "state").collect()
    assert [(r["from_state"], r["to_state"], r["n"]) for r in out] == [("a", "b", 1)]


def test_ngram_paths_null_interior_state_bridged(spark):
    """ADVICE r05: NULL states drop before the lags, so an interior NULL
    can't slip through the deepest-lag completeness check as a NULL
    middle column — a, NULL, b, c counts the trigram (a, b, c)."""
    rows = [("u", 1, "a"), ("u", 2, None), ("u", 3, "b"), ("u", 4, "c")]
    df = spark.createDataFrame(rows, "u string, seq long, s string")
    out = relational.ngram_paths(df, "u", ["seq"], "s", n=3).collect()
    assert [(r["s1"], r["s2"], r["s3"], r["cnt"]) for r in out] == [("a", "b", "c", 1)]
    assert all(
        r["s1"] is not None and r["s2"] is not None and r["s3"] is not None
        for r in out
    )


def test_time_weighted_mean_null_value_holds_through(spark):
    """ADVICE r05: a NULL reading contributes neither value nor
    interval — the prior observation holds THROUGH it. 10 holds t0→t10
    (across the NULL at t2) and 20 holds t10→t20 → twa 15, not the
    zero-biased 9 that counting the NULL's 8-second interval in the
    denominator would give."""
    rows = [
        ("k", _ts(0), 10.0, "g"),
        ("k", _ts(2), None, "g"),
        ("k", _ts(10), 20.0, "g"),
        ("k", _ts(20), 5.0, "g"),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double, g string")
    r = relational.time_weighted_mean(df, "k", "ts", "value", "g").collect()[0]
    assert (r["n_intervals"], r["total_seconds"]) == (2, 20)
    assert r["twa"] == pytest.approx(15.0)


def test_pareto_frontier_emits_no_warning(spark):
    """The range partitioning is always pinned, so the sweep has no
    unsafe mode left to warn about."""
    import warnings

    df = spark.createDataFrame([(1.0, 1.0)], "cost double, gain double")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        relational.pareto_frontier_2d(df, "cost", "gain")


def test_interpolate_linear_midpoints(spark):
    """Observed day1=10, day4=40 → day2=20, day3=30 on the straight line,
    flagged filled; observed days keep their value unflagged."""
    rows = [
        ("k", datetime(2024, 1, 1), 10.0),
        ("k", datetime(2024, 1, 4), 40.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {
        str(r["day"]): (r["value"], r["filled"])
        for r in relational.interpolate_linear(df, "k", "ts", "v").collect()
    }
    assert out == {
        "2024-01-01": (10.0, False),
        "2024-01-02": (20.0, True),
        "2024-01-03": (30.0, True),
        "2024-01-04": (40.0, False),
    }


def test_interpolate_linear_sums_same_day_first(spark):
    """Multiple observations on one day aggregate (sum) before the
    interpolation grid is built."""
    rows = [
        ("k", datetime(2024, 1, 1, 1), 3.0),
        ("k", datetime(2024, 1, 1, 2), 7.0),
        ("k", datetime(2024, 1, 3), 30.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {
        str(r["day"]): r["value"]
        for r in relational.interpolate_linear(df, "k", "ts", "v").collect()
    }
    assert out == {"2024-01-01": 10.0, "2024-01-02": 20.0, "2024-01-03": 30.0}


def _brute_frontier(points):
    keep = []
    for c, g in points:
        dominated = any(
            (c2 <= c and g2 >= g and (c2 < c or g2 > g)) for c2, g2 in points
        )
        if not dominated:
            keep.append((c, g))
    return sorted(keep)


def test_pareto_frontier_matches_brute_force(spark):
    pts = [
        (1.0, 1),
        (1.0, 5),  # dominates (1.0, 1)
        (2.0, 7),
        (3.0, 6),  # dominated by (2.0, 7)
        (3.0, 9),
        (4.0, 9),  # dominated by (3.0, 9): same gain, higher cost
        (5.0, 10),
    ]
    df = spark.createDataFrame(
        [(i, c, g) for i, (c, g) in enumerate(pts)], "id long, cost double, gain long"
    )
    out = sorted(
        (r["cost"], r["gain"])
        for r in relational.pareto_frontier_2d(df, "cost", "gain").collect()
    )
    assert out == _brute_frontier(pts) == [(1.0, 5), (2.0, 7), (3.0, 9), (5.0, 10)]


def test_pareto_frontier_duplicates_all_survive(spark):
    """Equal (cost, gain) rows are mutually non-dominating — both original
    rows come back (the rejoin keeps every matching id)."""
    df = spark.createDataFrame(
        [(1, 1.0, 5), (2, 1.0, 5), (3, 2.0, 4)], "id long, cost double, gain long"
    )
    out = relational.pareto_frontier_2d(df, "cost", "gain").collect()
    assert sorted(r["id"] for r in out) == [1, 2]


def test_pareto_frontier_many_partitions_cross_range_dominance(spark):
    """Dominance must propagate across range partitions: a high-gain cheap
    point kills every later partition's candidates."""
    pts = [(float(i), 100 - i) for i in range(1, 65)]  # strictly worse as cost grows
    df = spark.createDataFrame(
        [(i, c, g) for i, (c, g) in enumerate(pts)], "id long, cost double, gain long"
    )
    out = relational.pareto_frontier_2d(df, "cost", "gain", rank_partitions=8).collect()
    assert [(r["cost"], r["gain"]) for r in out] == [(1.0, 99)]


def test_bigram_pmi_counts_and_lift(spark):
    """Corpus 'a b' ×3 + 'a c b': tokens N=9 (a×4,b×4,c×1), pairs M=5
    (a b ×3, a c, c b). lift(a,b) = (3/5)/((4/9)(4/9)) = 3.0375."""
    docs = [("a b",), ("a b",), ("a b",), ("a c b",)]
    df = spark.createDataFrame(docs, "text string")
    out = {(r["w1"], r["w2"]): r for r in text.bigram_pmi(df, "text", min_count=2).collect()}
    assert set(out) == {("a", "b")}
    r = out[("a", "b")]
    assert (r["n_joint"], r["n_w1"], r["n_w2"]) == (3, 4, 4)
    assert r["lift"] == pytest.approx((3 / 5) / ((4 / 9) * (4 / 9)), abs=1e-6)


def test_bigram_pmi_single_token_docs_contribute_no_pairs(spark):
    df = spark.createDataFrame([("solo",), ("a b",), ("a b",)], "text string")
    out = text.bigram_pmi(df, "text", min_count=1).collect()
    assert sorted((r["w1"], r["w2"], r["n_joint"]) for r in out) == [("a", "b", 2)]
