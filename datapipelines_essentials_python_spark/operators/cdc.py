"""Hash-diff change-data-capture over batch snapshots.

Capability parity (SURVEY.md §2.9, §2.3 J3/J4, §2.5 W1-W3, §2.7 U1): the
reference's incremental story is batch CDC —
``identify_new_records`` (``change_data_capture.py:45-77``) computes

- inserts: ``new LEFT JOIN old ON pks WHERE old.pk IS NULL``
- updates: ``new INNER JOIN old ON pks WHERE new.hashcode <> old.hashcode``
- result: union + dropDuplicates

and ``add_row_number_to_dataframe`` (``change_data_capture.py:18-30``)
builds latest-per-key snapshots with ``row_number() = 1``.

Fixes over the reference, specced per SURVEY §7.5:

- broken None-guard on the initial load (``change_data_capture.py:53-60``
  would throw on a None old side) → explicit None contract; an empty old
  side needs no guard (every new row is then unmatched);
- positional ``union`` → ``unionByName``;
- global-order dedup without partition keys (W2) funnels everything through
  one partition — allowed here but only via an explicit flag.

Scale design: inserts and updates come out of ONE ``left`` join on the pks
(a match marker tells unmatched rows from matched ones), so ``new`` is
scanned and shuffled once and no Spark action runs until the caller writes
or counts the result; the hash column is computed once at read time
(``io.readers.read_with_audit_columns``) so change detection never re-reads
payload columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datapipelines_essentials_python_spark.functions.hashing import row_hash_md5


def with_hashcode(df: DataFrame, payload_cols: list[str] | None = None) -> DataFrame:
    """Add the md5 ``hashcode`` change-detection column (F8)."""
    return df.withColumn("hashcode", row_hash_md5(df, payload_cols))


def snapshot(
    df: DataFrame,
    pk_cols: list[str],
    order_cols: list[str],
    keep_row_number: bool = False,
    row_number_col: str = "row_num",
) -> DataFrame:
    """Latest row per key: ``row_number() over (partition by pks order by
    order desc) = 1`` (parity: change_data_capture.py:18-30).

    With empty ``pk_cols`` this degrades to a single global window
    (reference W2, ``change_data_capture.py:52``) — correct but
    single-partition; callers should pass keys at scale.
    """
    order = [F.desc(c) for c in order_cols]
    win = (
        Window.partitionBy(*pk_cols).orderBy(*order)
        if pk_cols
        else Window.partitionBy().orderBy(*order)
    )
    out = df.withColumn(row_number_col, F.row_number().over(win)).where(
        F.col(row_number_col) == 1
    )
    return out if keep_row_number else out.drop(row_number_col)


def merge_cdc(
    old: DataFrame | None,
    new: DataFrame,
    pk_cols: list[str],
    order_cols: list[str] | None = None,
    hash_col: str = "hashcode",
) -> DataFrame:
    """Inserts + updates of ``new`` vs ``old`` (parity:
    change_data_capture.py:45-77). Lazy: builds the plan, runs no action.

    - ``old`` None → ``new.dropDuplicates()`` (initial-load shortcut,
      reference ``:57-60``, with the broken guard fixed); an empty ``old``
      gives the same rows through the join;
    - old side is first deduped to latest-per-pk when ``order_cols`` given
      (reference ``:63-66``);
    - one ``left`` join on the pks keeps the new rows with no match
      (inserts) and the matched rows whose hashes differ (updates), then
      ``dropDuplicates``. A matched key whose old hash is NULL is neither:
      the unmatched test reads the match marker, not the old hash.
    """
    if old is None:
        return new.dropDuplicates()
    if order_cols:
        old = snapshot(old, pk_cols, order_cols)
    old_keyed = old.select(
        *[F.col(c).alias(f"__old_{c}") for c in pk_cols],
        F.col(hash_col).alias("__old_hash"),
        F.lit(True).alias("__old_matched"),
    )
    cond = None
    for c in pk_cols:
        clause = new[c] == old_keyed[f"__old_{c}"]
        cond = clause if cond is None else (cond & clause)
    return (
        new.join(old_keyed, cond, "left")
        .where(
            old_keyed["__old_matched"].isNull()
            | (new[hash_col] != old_keyed["__old_hash"])
        )
        .select(*[new[c] for c in new.columns])
        .dropDuplicates()
    )


def apply_cdc_pipeline(
    history: DataFrame | None,
    incoming: DataFrame,
    pk_cols: list[str],
    order_cols: list[str],
    payload_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full reference CDC lifecycle (SURVEY §2.9): returns
    ``(delta_to_append, snapshot_view)`` where delta is the insert/update
    set vs history and snapshot is latest-per-key over history ∪ delta."""
    incoming = with_hashcode(incoming, payload_cols)
    if history is not None and "hashcode" not in history.columns:
        history = with_hashcode(history, payload_cols)
    delta = merge_cdc(history, incoming, pk_cols, order_cols)
    full = delta if history is None else history.unionByName(delta, allowMissingColumns=True)
    return delta, snapshot(full, pk_cols, order_cols)


def scd2_merge(
    dim: DataFrame,
    snap: DataFrame,
    pk_cols: list[str],
    tracked_cols: list[str],
    load_date: str,
    from_col: str = "effective_from",
    to_col: str = "effective_to",
    current_col: str = "is_current",
    open_end_date: str = "9999-12-31",
    close_deletes: bool = True,
) -> DataFrame:
    """Slowly-changing-dimension type 2 merge: evolve a versioned dimension
    (validity intervals + ``is_current`` flag) against a fresh snapshot.

    The natural upgrade of :func:`merge_cdc` when history must be queryable
    (reference §2.9 keeps only latest-per-key; SCD2 keeps every version):

    - unchanged current rows are kept as-is;
    - changed keys close the current row (``effective_to = load_date``,
      ``is_current = false``) and open a new one;
    - keys only in the snapshot open a new row;
    - keys missing from the snapshot are soft-deleted (closed) when
      ``close_deletes``.

    ``open_end_date`` is the sentinel high date for open rows (avoids
    NULL-end-date semantics in downstream BETWEEN filters).

    Scale: one full-outer shuffle join on the pk between the *current* slice
    and the snapshot; closed history rides through untouched (union, no
    shuffle). Change detection is an md5 hash over ``tracked_cols`` computed
    once per side. The five merge outcomes (kept / closed / opened /
    inserted / soft-deleted) are emitted in ONE pass over the joined rows
    via a case-built array explode (round-9 shape, guide §2.4) — the
    previous five-way filtered union re-executed the full-outer join and
    both hashed input scans once per branch (5× the join work for the
    identical output multiset).
    """
    out_cols = pk_cols + tracked_cols + [from_col, to_col, current_col]
    hist = dim.where(~F.col(current_col)).select(*out_cols)
    cur = dim.where(F.col(current_col))

    cur_h = cur.withColumn("__h", row_hash_md5(cur, tracked_cols)).select(
        *[F.col(c).alias(f"__c_{c}") for c in out_cols], F.col("__h").alias("__c_h")
    )
    snap_h = snap.withColumn("__h", row_hash_md5(snap, tracked_cols)).select(
        *[F.col(c).alias(f"__s_{c}") for c in pk_cols + tracked_cols],
        F.col("__h").alias("__s_h"),
    )
    cond = None
    for c in pk_cols:
        clause = cur_h[f"__c_{c}"] == snap_h[f"__s_{c}"]
        cond = clause if cond is None else (cond & clause)
    j = cur_h.join(snap_h, cond, "full_outer")

    in_cur = F.col(f"__c_{pk_cols[0]}").isNotNull()
    in_snap = F.col(f"__s_{pk_cols[0]}").isNotNull()
    changed = in_cur & in_snap & (F.col("__c_h") != F.col("__s_h"))
    load = F.lit(load_date).cast("date")
    open_end = F.lit(open_end_date).cast("date")

    def _cur_struct(close: bool) -> Column:
        cols = [F.col(f"__c_{c}").alias(c) for c in pk_cols + tracked_cols]
        cols.append(F.col(f"__c_{from_col}").alias(from_col))
        cols.append((load if close else F.col(f"__c_{to_col}")).alias(to_col))
        cols.append(F.lit(not close).alias(current_col))
        return F.struct(*cols)

    def _snap_struct() -> Column:
        cols = [F.col(f"__s_{c}").alias(c) for c in pk_cols + tracked_cols]
        cols.append(load.alias(from_col))
        cols.append(open_end.alias(to_col))
        cols.append(F.lit(True).alias(current_col))
        return F.struct(*cols)

    emitted = (
        F.when(
            in_cur & in_snap & (F.col("__c_h") == F.col("__s_h")),
            F.array(_cur_struct(close=False)),
        )
        .when(changed, F.array(_cur_struct(close=True), _snap_struct()))
        .when(in_snap & ~in_cur, F.array(_snap_struct()))
        .otherwise(F.array(_cur_struct(close=close_deletes)))
    )
    merged = j.select(F.explode(emitted).alias("__r")).select("__r.*")
    return hist.unionByName(merged)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    pk_cols: list[str],
    hash_col: str = "hashcode",
) -> DataFrame:
    """Full reconciliation between two snapshots: one full-outer join on
    the keys classifying every key as ``added`` (new only), ``removed``
    (old only), ``changed`` (both, hashes differ), or ``unchanged``.

    The audit twin of :func:`merge_cdc` — merge produces the rows to
    apply, diff produces the report you reconcile row counts against
    (reference lifecycle: `clinical_trial_etl.py` CDC steps). Cost is the
    same single shuffle the merge pays: both sides hash-partitioned on
    the key columns, no extra passes.

    → pk columns + ``status``.
    """
    o = old.select(
        *[F.col(c).alias(f"__o_{c}") for c in pk_cols],
        F.col(hash_col).alias("__o_hash"),
    )
    n = new.select(
        *[F.col(c).alias(f"__n_{c}") for c in pk_cols],
        F.col(hash_col).alias("__n_hash"),
    )
    cond = None
    for c in pk_cols:
        clause = o[f"__o_{c}"] == n[f"__n_{c}"]
        cond = clause if cond is None else (cond & clause)
    joined = o.join(n, cond, "full_outer")
    status = (
        F.when(F.col(f"__o_{pk_cols[0]}").isNull(), F.lit("added"))
        .when(F.col(f"__n_{pk_cols[0]}").isNull(), F.lit("removed"))
        .when(F.col("__o_hash") != F.col("__n_hash"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        *[
            F.coalesce(F.col(f"__n_{c}"), F.col(f"__o_{c}")).alias(c)
            for c in pk_cols
        ],
        status.alias("status"),
    )


def changed_columns(
    old: DataFrame,
    new: DataFrame,
    pk_cols: list[str],
    tracked_cols: list[str],
) -> DataFrame:
    """Column-level CDC drill-down: for every key present in both
    snapshots, WHICH tracked columns changed (null-safe compare), as a
    deterministic comma-joined list plus a count. Rows with no changes
    are dropped — the output is exactly the update audit trail.

    One equi-join on the keys; per-column comparison is a narrow
    projection (no per-column shuffles, no unpivot). At 100 TB prefer
    running it AFTER a hash-diff prefilter (``merge_cdc``'s update set)
    so only known-changed rows pay the wide compare.
    """
    o = old.select(
        *[F.col(c) for c in pk_cols],
        *[F.col(c).alias(f"__old_{c}") for c in tracked_cols],
    )
    n = new.select(
        *[F.col(c) for c in pk_cols],
        *[F.col(c).alias(f"__new_{c}") for c in tracked_cols],
    )
    flags = [
        F.when(
            ~F.col(f"__old_{c}").eqNullSafe(F.col(f"__new_{c}")), F.lit(c)
        )
        for c in tracked_cols
    ]
    changed = F.array_compact(F.array(*flags))
    return (
        o.join(n, pk_cols)
        .select(
            *pk_cols,
            F.concat_ws(",", changed).alias("changed_cols"),
            F.size(changed).cast("long").alias("n_changed"),
        )
        .where(F.col("n_changed") > 0)
    )
