"""Hash-diff CDC (SURVEY §2.9) including the reference's broken-guard fixes."""

from collections import Counter

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
