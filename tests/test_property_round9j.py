"""Round-9 property batch J: randomized invariants for the round-10
rotation-pool SAMPLING/ENCODING operators, each checked against a
driver-side pure-Python reference built on hashlib.md5 — kfold_assign,
target_encode_oof, balance_domains, grouped_split, temperature_mixture.

Same conventions as test_property_round9.py — bounded examples, one
shared Spark session, O(1) Spark jobs per example.
"""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import given, settings, strategies as st

from datapipelines_essentials_python_spark.operators import sampling as smp


def _close(a, b, tol=1e-6):
    return math.isclose(a, b, rel_tol=0.0, abs_tol=tol)


def _round6(x: float) -> float:
    """Spark's ``round(x, 6)`` on a double: half-up on the shortest decimal
    form. Python's ``round`` is half-to-even on the exact binary value, so
    it differs on ties such as 1/128 = 0.0078125 (Spark: 0.007813)."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _md5_u32(salt: str, ident) -> int:
    h = hashlib.md5(f"{salt}|{ident}".encode()).hexdigest()
    return int(h[:8], 16)


# --------------------------------------------------------------- kfold_assign


@settings(max_examples=8, deadline=None)
@given(
    ids=st.sets(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=30),
    k=st.sampled_from([2, 3, 5]),
)
def test_kfold_assign_matches_md5_reference(spark, ids, k):
    """fold = first-8-hex-chars(md5(salt|id)) mod k — bit-reproducible
    against hashlib on the driver."""
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {r["id"]: r["fold"] for r in smp.kfold_assign(df, "id", k=k).collect()}
    assert got == {i: _md5_u32("kfold", i) % k for i in ids}


# ---------------------------------------------------------- target_encode_oof


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            st.sampled_from(["c1", "c2"]),
            st.integers(min_value=-100, max_value=100),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda r: r[0],
    ),
    k=st.sampled_from([2, 3]),
)
def test_target_encode_oof_matches_reference(spark, rows, k):
    """Per (category, fold): the complement mean over all OTHER folds,
    global-mean fallback when a category lives in one fold only."""
    df = spark.createDataFrame(rows, "id long, cat string, y long")
    out = smp.target_encode_oof(df, "id", "cat", "y", k=k).collect()

    per = {}
    tot_n = tot_s = 0
    for i, c, y in rows:
        f = _md5_u32("kfold", i) % k
        stt = per.setdefault((c, f), [0, 0])
        stt[0] += 1
        stt[1] += y
        tot_n += 1
        tot_s += y
    cat_tot = {}
    for (c, f), (n, s) in per.items():
        ct = cat_tot.setdefault(c, [0, 0])
        ct[0] += n
        ct[1] += s
    got = {(r["category"], r["fold"]): r for r in out}
    assert set(got) == set(per)
    for (c, f), (n, s) in per.items():
        r = got[(c, f)]
        oof_n = cat_tot[c][0] - n
        oof_s = cat_tot[c][1] - s
        want = oof_s / oof_n if oof_n > 0 else tot_s / tot_n
        assert r["n_in_fold"] == n
        assert r["oof_n"] == oof_n
        assert _close(r["oof_mean"], round(want, 6)), ((c, f), r["oof_mean"], want)


# ------------------------------------------------------------ balance_domains


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["d1", "d2"]),
            st.integers(min_value=0, max_value=1000),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda r: r[1],
    ),
    cap=st.sampled_from([1, 3, 7]),
)
def test_balance_domains_matches_md5_order(spark, rows, cap):
    """Keeps exactly the cap smallest rows per domain in md5(salt|id)
    order — a uniform reproducible draw, not scan order."""
    df = spark.createDataFrame(rows, "d string, id long")
    kept = {
        (r["d"], r["id"])
        for r in smp.balance_domains(df, "d", "id", cap=cap).collect()
    }
    by_d = {}
    for d, i in rows:
        by_d.setdefault(d, []).append(i)
    want = set()
    for d, ids in by_d.items():
        order = sorted(
            ids, key=lambda i: (hashlib.md5(f"|{i}".encode()).hexdigest(), i)
        )
        want.update((d, i) for i in order[:cap])
    assert kept == want


# -------------------------------------------------------------- grouped_split


@settings(max_examples=8, deadline=None)
@given(
    groups=st.sets(
        st.integers(min_value=0, max_value=2000), min_size=1, max_size=25
    )
)
def test_grouped_split_is_group_pure_and_matches_hash(spark, groups):
    """Split labels derive from the GROUP hash fraction: every row of a
    group gets one label, and the label matches the driver-side
    cumulative-bound walk in sorted-name order."""
    fractions = {"train": 0.7, "dev": 0.1, "test": 0.2}
    rows = [(g, j) for g in groups for j in range(2)]
    df = spark.createDataFrame(rows, "g long, j int")
    out = smp.grouped_split(df, "g", fractions, salt="split").collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], set()).add(r["split"])
    names = sorted(fractions)  # dev, test, train
    for g in groups:
        frac = _md5_u32("split", g) / 4294967296.0
        cum = 0.0
        label = names[-1]
        for nm in names[:-1]:
            cum += fractions[nm]
            if frac < cum:
                label = nm
                break
        assert by_g[g] == {label}, (g, by_g[g], label)


# -------------------------------------------------------- temperature_mixture


@settings(max_examples=8, deadline=None)
@given(
    counts=st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(min_value=1, max_value=400),
        min_size=1,
        max_size=4,
    ),
    passes=st.sampled_from([1, 2]),
)
def test_temperature_mixture_matches_reference(spark, counts, passes):
    """q_d ∝ p_d^(0.5^k) with decimal-quantized masses; shares sum to
    ~1 and small domains get sample_factor ≥ 1 when any skew exists."""
    rows = [(d,) for d, n in counts.items() for _ in range(n)]
    df = spark.createDataFrame(rows, "d string")
    out = {
        r["domain"]: r
        for r in smp.temperature_mixture(df, "d", sqrt_passes=passes).collect()
    }
    total = sum(counts.values())
    mass = {}
    for d, n in counts.items():
        p = n / total
        for _ in range(passes):
            p = math.sqrt(p)
        mass[d] = Decimal(p).quantize(
            Decimal("1.000000000000"), rounding=ROUND_HALF_UP
        )
    z = sum(mass.values())
    assert set(out) == set(counts)
    for d, n in counts.items():
        r = out[d]
        p_raw = n / total
        q = float(mass[d]) / float(z)
        assert r["n_rows"] == n
        assert _close(r["p_raw"], _round6(p_raw))
        assert _close(r["q_temp"], _round6(q), tol=2e-6)
        assert _close(r["sample_factor"], _round6(q / p_raw), tol=2e-5)
