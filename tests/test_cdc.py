"""Hash-diff CDC (SURVEY §2.9) including the reference's broken-guard fixes."""

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from datapipelines_essentials_python_spark.operators.cdc import (
    apply_cdc_pipeline,
    merge_cdc,
    snapshot,
    with_hashcode,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id int, val string, ver int")


def test_initial_load_none_and_empty(spark):
    new = with_hashcode(_df(spark, [(1, "a", 1), (1, "a", 1)]), ["id", "val"])
    out = merge_cdc(None, new, ["id"])
    assert out.count() == 1  # dropDuplicates on initial load
    empty = with_hashcode(_df(spark, []), ["id", "val"])
    assert merge_cdc(empty, new, ["id"]).count() == 1


def test_inserts_and_updates(spark):
    old = with_hashcode(_df(spark, [(1, "a", 1), (2, "b", 1)]), ["id", "val"])
    new = with_hashcode(
        _df(spark, [(2, "b2", 2), (3, "c", 1)]), ["id", "val"]
    )
    out = merge_cdc(old, new, ["id"])
    got = {(r["id"], r["val"]) for r in out.collect()}
    assert got == {(2, "b2"), (3, "c")}  # update + insert; unchanged 1 absent


def test_unchanged_rows_excluded(spark):
    old = with_hashcode(_df(spark, [(1, "a", 1)]), ["id", "val"])
    new = with_hashcode(_df(spark, [(1, "a", 99)]), ["id", "val"])
    assert merge_cdc(old, new, ["id"]).count() == 0  # hash over payload only


def test_old_side_deduped_to_latest(spark):
    old = with_hashcode(
        _df(spark, [(1, "stale", 1), (1, "fresh", 2)]), ["id", "val"]
    )
    new = with_hashcode(_df(spark, [(1, "fresh", 3)]), ["id", "val"])
    # vs latest(old)="fresh" → no change; without dedup it would look changed
    assert merge_cdc(old, new, ["id"], order_cols=["ver"]).count() == 0


def test_study_cdc_compares_with_the_latest_staged_row(spark):
    """Staging holds study N1 twice (hash A, then the later hash B); a
    re-sent N1 with hash B is unchanged against its latest staged row and
    yields no delta row. Diffing against every staged row would re-send
    it as an update."""
    from datetime import datetime

    from datapipelines_essentials_python_spark.pipelines.clinical_trial import (
        study_cdc,
    )

    schema = (
        "pk_nct_id string, xml_file_name string, hashcode string, "
        "spark_timestamp timestamp"
    )
    t1, t2, t3 = (datetime(2024, 1, d) for d in (1, 2, 3))
    staging = spark.createDataFrame(
        [("N1", "N1.xml", "A", t1), ("N1", "N1.xml", "B", t2)], schema
    )
    incoming = spark.createDataFrame([("N1", "N1.xml", "B", t3)], schema)
    delta, active = study_cdc(staging, incoming)
    assert delta.count() == 0
    assert [r["hashcode"] for r in active.collect()] == ["B"]


def test_snapshot(spark):
    df = _df(spark, [(1, "a", 1), (1, "b", 2), (2, "c", 1)])
    snap = {r["id"]: r["val"] for r in snapshot(df, ["id"], ["ver"]).collect()}
    assert snap == {1: "b", 2: "c"}


def test_snapshot_global_order(spark):
    df = _df(spark, [(1, "a", 1), (2, "b", 2)])
    out = snapshot(df, [], ["ver"]).collect()
    assert len(out) == 1 and out[0]["val"] == "b"


def test_apply_cdc_pipeline(spark):
    history = _df(spark, [(1, "a", 1), (2, "b", 1)])
    incoming = _df(spark, [(2, "b2", 2), (3, "c", 2)])
    delta, snap = apply_cdc_pipeline(
        history, incoming, ["id"], ["ver"], payload_cols=["id", "val"]
    )
    assert {(r["id"], r["val"]) for r in delta.collect()} == {(2, "b2"), (3, "c")}
    assert {(r["id"], r["val"]) for r in snap.collect()} == {
        (1, "a"),
        (2, "b2"),
        (3, "c"),
    }


def test_snapshot_diff_classifies_all_statuses(spark):
    from datapipelines_essentials_python_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, "h1"), (2, "h2"), (3, "h3")], "id long, hashcode string"
    )
    new = spark.createDataFrame(
        [(2, "h2"), (3, "h3x"), (4, "h4")], "id long, hashcode string"
    )
    got = {r["id"]: r["status"] for r in snapshot_diff(old, new, ["id"]).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_snapshot_diff_composite_keys(spark):
    from datapipelines_essentials_python_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", "h1")], "k1 long, k2 string, hashcode string"
    )
    new = spark.createDataFrame(
        [(1, "a", "h1"), (1, "b", "h2")], "k1 long, k2 string, hashcode string"
    )
    got = {(r["k1"], r["k2"]): r["status"]
           for r in snapshot_diff(old, new, ["k1", "k2"]).collect()}
    assert got == {(1, "a"): "unchanged", (1, "b"): "added"}


def test_changed_columns_null_safe(spark):
    from datapipelines_essentials_python_spark.operators.cdc import changed_columns

    old = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5.0), (3, "c", 1.0)],
        "pk long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", None), (2, "B", None), (3, "c", 1.0)],
        "pk long, s string, v double",
    )
    out = {r["pk"]: r for r in changed_columns(old, new, ["pk"], ["s", "v"]).collect()}
    # pk 1: NULL == NULL → unchanged → absent; pk 3 identical → absent
    assert set(out) == {2}
    assert out[2]["changed_cols"] == "s,v" and out[2]["n_changed"] == 2


def test_matched_key_with_null_history_hash_is_no_change(spark):
    old = spark.createDataFrame([(1, None)], "id int, hashcode string")
    new = spark.createDataFrame([(1, "h1")], "id int, hashcode string")
    # matched on the key, hashes not comparable → neither insert nor update
    assert merge_cdc(old, new, ["id"]).count() == 0


def test_null_pk_in_new_is_insert(spark):
    old = spark.createDataFrame([(1, "h1")], "id int, hashcode string")
    new = spark.createDataFrame([(None, "h9"), (1, "h1")], "id int, hashcode string")
    assert [tuple(r) for r in merge_cdc(old, new, ["id"]).collect()] == [(None, "h9")]


def test_duplicate_history_pks_yield_each_changed_row_once(spark):
    old = spark.createDataFrame(
        [(1, "h1"), (1, "h2"), (2, "h2"), (2, "h3")], "id int, hashcode string"
    )
    new = spark.createDataFrame([(1, "h9"), (2, "h2")], "id int, hashcode string")
    # id 1 differs from both history rows; id 2 equals one of them and
    # differs from the other — each changed new row comes back once
    got = sorted(tuple(r) for r in merge_cdc(old, new, ["id"]).collect())
    assert got == [(1, "h9"), (2, "h2")]


def test_empty_history_returns_new_deduplicated(spark):
    old = spark.createDataFrame([], "id int, hashcode string")
    new = spark.createDataFrame(
        [(1, "h1"), (1, "h1"), (None, "h2")], "id int, hashcode string"
    )
    got = merge_cdc(old, new, ["id"], order_cols=["hashcode"])
    assert Counter(map(tuple, got.collect())) == Counter(
        map(tuple, new.dropDuplicates().collect())
    )
    assert got.count() == 2


def test_delta_keeps_the_new_side_types(spark):
    # the union with history widens int to bigint; the delta stays int
    old = spark.createDataFrame([(1, "h1"), (2, "h2")], "id bigint, hashcode string")
    new = spark.createDataFrame([(2, "h9"), (3, "h3")], "id int, hashcode string")
    out = merge_cdc(old, new, ["id"])
    assert out.dtypes == new.dtypes
    assert sorted(tuple(r) for r in out.collect()) == [(2, "h9"), (3, "h3")]


def _initial_plan(df):
    """The physical plan Spark starts from (AQE's initial plan, before it
    runs), as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def test_cdc_outputs_are_one_shuffle_each(spark):
    history = _df(spark, [(1, "a", 1), (2, "b", 1), (2, "b", 0)])
    incoming = _df(spark, [(2, "b2", 2), (3, "c", 2)])
    delta, snap = apply_cdc_pipeline(
        history, incoming, ["id"], ["ver"], payload_cols=["id", "val"]
    )
    old = with_hashcode(history, ["id", "val"])
    new = with_hashcode(incoming, ["id", "val"])
    for df in (delta, snap, merge_cdc(old, new, ["id"]), merge_cdc(old, new, ["id"], ["ver"])):
        plan = _initial_plan(df)
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "BroadcastExchange" not in plan, plan


def test_delta_reads_only_history_keys_order_and_hash(spark, tmp_path):
    # the delta's window needs no history payload, so its shuffle moves
    # none; the snapshot keeps every history column
    path = str(tmp_path / "history")
    with_hashcode(_df(spark, [(1, "a", 1), (2, "b", 1)]), ["id", "val"]).write.parquet(path)
    incoming = _df(spark, [(2, "b2", 2), (3, "c", 2)])
    delta, snap = apply_cdc_pipeline(
        spark.read.parquet(path), incoming, ["id"], ["ver"], payload_cols=["id", "val"]
    )

    def history_read_schema(df):
        [scan] = [line for line in _initial_plan(df).splitlines() if "FileScan" in line]
        return scan.split("ReadSchema: ")[1]

    assert history_read_schema(delta) == "struct<id:int,ver:int,hashcode:string>"
    assert history_read_schema(snap) == "struct<id:int,val:string,ver:int,hashcode:string>"


# -- equivalence with a pure-Python reference ---------------------------------

_ROW = "k1 int, k2 string, val string, ver int"


def _random_rows(rng, n, vers):
    """``n`` rows over small key/value domains (so keys repeat and payloads
    collide), NULL pks sprinkled in, one distinct ``ver`` each."""
    def maybe_null(v):
        return None if rng.random() < 0.1 else v

    return [
        (maybe_null(rng.randint(1, 6)), maybe_null(rng.choice("xy")),
         rng.choice(["a", "b", None]), vers.pop())
        for _ in range(n)
    ]


def _ref_merge(old, new, pk, order):
    """Inserts + updates by the reference's definition, row by row; the
    hash is each row's last field."""
    def key(r):
        return tuple(r[i] for i in pk)

    by_key = {}
    for r in old:
        by_key.setdefault(key(r), []).append(r)
    if order is not None:
        by_key = {k: [max(rs, key=lambda r: r[order])] for k, rs in by_key.items()}
    out = set()
    for r in new:
        matches = by_key.get(key(r), [])
        if None in key(r) or not matches:
            out.add(r)
        elif r[-1] is not None and any(o[-1] is not None and o[-1] != r[-1] for o in matches):
            out.add(r)
    return out


def _ref_snapshot(rows, pk, order):
    latest = {}
    for r in rows:
        k = tuple(r[i] for i in pk)
        if k not in latest or r[order] > latest[k][order]:
            latest[k] = r
    return set(latest.values())


def _hashed(rows, rng):
    """``rows`` with an explicit hash of ``val`` (equal values share a
    hash), a few of them NULL."""
    return [(*r, None if rng.random() < 0.1 else f"h{r[2]}") for r in rows]


@pytest.mark.parametrize("pk_cols", [["k1"], ["k1", "k2"]])
@pytest.mark.parametrize("order_cols", [None, ["ver"]])
def test_merge_cdc_matches_python_reference(spark, pk_cols, order_cols):
    cols = ["k1", "k2", "val", "ver", "hashcode"]
    pk = [cols.index(c) for c in pk_cols]
    order = cols.index("ver") if order_cols else None
    for seed in range(4):
        rng = random.Random(seed)
        vers = rng.sample(range(1000), 60)
        old = _hashed(_random_rows(rng, 30, vers), rng)
        new = _hashed(_random_rows(rng, 20, vers), rng)
        schema = f"{_ROW}, hashcode string"
        got = merge_cdc(
            spark.createDataFrame(old, schema), spark.createDataFrame(new, schema),
            pk_cols, order_cols,
        ).collect()
        want = _ref_merge(old, new, pk, order)
        assert sorted(map(tuple, got), key=repr) == sorted(want, key=repr), seed


@pytest.mark.parametrize("pk_cols", [["k1"], ["k1", "k2"]])
def test_apply_cdc_pipeline_matches_python_reference(spark, pk_cols):
    cols = ["k1", "k2", "val", "ver", "hashcode"]
    pk = [cols.index(c) for c in pk_cols]
    payload = ["k1", "k2", "val"]
    for seed in range(4):
        rng = random.Random(100 + seed)
        vers = rng.sample(range(1000), 60)
        # history carries the hashes with_hashcode gives its payload, some
        # blanked to NULL; incoming is hashed by the pipeline itself
        history = [
            (*r[:4], None if rng.random() < 0.1 else r[4])
            for r in with_hashcode(
                spark.createDataFrame(_random_rows(rng, 30, vers), _ROW), payload
            ).collect()
        ]
        incoming = _random_rows(rng, 20, vers)
        hashed_in = [
            tuple(r)
            for r in with_hashcode(spark.createDataFrame(incoming, _ROW), payload).collect()
        ]
        delta, snap = apply_cdc_pipeline(
            spark.createDataFrame(history, f"{_ROW}, hashcode string"),
            spark.createDataFrame(incoming, _ROW), pk_cols, ["ver"], payload_cols=payload,
        )
        want_delta = _ref_merge(history, hashed_in, pk, 3)
        got_delta = [tuple(r) for r in delta.collect()]
        assert sorted(got_delta, key=repr) == sorted(want_delta, key=repr), seed
        want_snap = _ref_snapshot(history + sorted(want_delta, key=repr), pk, 3)
        got_snap = [tuple(r) for r in snap.collect()]
        assert sorted(got_snap, key=repr) == sorted(want_snap, key=repr), seed
