"""Row hashing and salting.

Capability parity (SURVEY.md §2.8 F8/F9):

- the reference computes ``hashlib.md5`` over whole XML documents on the
  driver and injects the digest back into the text
  (``change_data_capture.py:9-15``) — here the digest is a distributed
  column expression over a canonical row payload;
- salted repartition keys ``concat_ws('~', cols, floor(rand()*n))``
  (``utils/spark.py:142-147``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _cols(df_or_cols: DataFrame | list[str], exclude: set[str] | None = None) -> list[str]:
    cols = df_or_cols.columns if isinstance(df_or_cols, DataFrame) else list(df_or_cols)
    exclude = exclude or set()
    return sorted(c for c in cols if c not in exclude)


def row_hash_md5(df: DataFrame, columns: list[str] | None = None) -> Column:
    """md5 over a canonical JSON of the (sorted) selected columns.

    Sorted column order makes the digest stable under projection reordering
    — the reference's whole-file md5 was sensitive to raw byte layout.
    NULL fields are kept in the JSON (``ignoreNullFields=false``) so two
    rows differing only in which nullable column is NULL never collide.
    """
    cols = sorted(columns) if columns else _cols(df)
    return F.md5(
        F.to_json(
            F.struct(*[F.col(c) for c in cols]), {"ignoreNullFields": "false"}
        )
    )


def salted_key(columns: list[str], num_buckets: int, sep: str = "~") -> Column:
    """Composite repartition key with a random salt bucket appended
    (parity: ``spark.py:142-147``). Prefer AQE skew handling for joins; this
    remains useful to spread skewed *writes*."""
    salt = F.floor(F.rand() * num_buckets).cast("string")
    return F.concat_ws(sep, *[F.col(c).cast("string") for c in columns], salt)


def zorder_key(x, y, bits: int = 10):
    """Z-order (Morton) key: interleave the low ``bits`` bits of two
    non-negative integer columns — the space-filling-curve sort key used
    to cluster data files on two dimensions at once, so min/max pruning
    works for predicates on EITHER column after
    ``sortWithinPartitions(zorder_key(...))`` + write.

    Pure integer arithmetic (shift/mod/multiply) → deterministic and
    portable to any SQL engine.
    """
    from pyspark.sql import functions as F

    xc = (F.col(x) if isinstance(x, str) else x).cast("long")
    yc = (F.col(y) if isinstance(y, str) else y).cast("long")
    key = F.lit(0).cast("long")
    for b in range(bits):
        xbit = F.shiftright(xc, b).bitwiseAND(F.lit(1))
        ybit = F.shiftright(yc, b).bitwiseAND(F.lit(1))
        key = key + xbit * F.lit(2 ** (2 * b)) + ybit * F.lit(2 ** (2 * b + 1))
    return key


def with_hilbert_key(df, x, y, bits: int = 10, out_col: str = "hkey"):
    """Append a Hilbert-curve key column to ``df``: map two non-negative
    ``bits``-bit integer columns onto the Hilbert space-filling curve —
    the layout key with strictly better locality than
    :func:`zorder_key`'s Morton order (Hilbert never takes the long
    diagonal jumps Morton takes at block boundaries, so file min/max
    ranges after ``sortWithinPartitions(out_col)`` + write are tighter
    and prune more; see Moon et al., "Analysis of the Clustering
    Properties of the Hilbert Space-Filling Curve", TKDE 2001 — public).

    The standard xy→d walk (rotate-and-fold, one level per bit from the
    top), unrolled into pure integer/CASE column arithmetic — no UDF, no
    loop state, deterministic and portable, so a SQL oracle can replay
    it level by level. Per level: quadrant = CASE(rx, ry) (the Gray-code
    cell index), then the rotation that keeps the curve continuous
    (ry=0 swaps axes; ry=0 ∧ rx=1 also reflects).

    A DataFrame transform, not a Column: the per-level rotation reads
    the previous level's (x, y) MULTIPLE times, so the state must live
    as NAMED columns (each level is one cheap projection over
    attributes; Catalyst keeps the layers because CollapseProject
    refuses to duplicate non-trivial aliases) — a pure Column unroll
    re-expands the whole subtree at every reference and the expression
    grows exponentially in ``bits`` (observed as a driver OOM while
    constructing the expression).

    Still zero shuffles, zero UDFs: ``bits`` stacked narrow projections
    riding the scan.
    """
    from pyspark.sql import functions as F

    n = 1 << bits
    xc = (F.col(x) if isinstance(x, str) else x).cast("long")
    yc = (F.col(y) if isinstance(y, str) else y).cast("long")
    out = df.withColumns(
        {"__hx": xc, "__hy": yc, "__hd": F.lit(0).cast("long")}
    )
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        hx, hy, hd = F.col("__hx"), F.col("__hy"), F.col("__hd")
        rx = F.shiftright(hx, i).bitwiseAND(F.lit(1))
        ry = F.shiftright(hy, i).bitwiseAND(F.lit(1))
        # (3*rx) XOR ry over {0,1}² without bitwise XOR: rx=0 → ry,
        # rx=1 → 3−ry — the Gray-code quadrant index.
        quad = F.when(rx == 1, F.lit(3) - ry).otherwise(ry)
        # rotate/reflect so the sub-curve keeps its orientation
        # (reflection is over the FULL grid side n — the coordinates
        # still carry their high bits at lower levels): ry=0 ∧ rx=1 →
        # reflect both then swap; ry=0 ∧ rx=0 → plain swap; ry=1 →
        # unchanged.
        out = out.withColumns(
            {
                "__hd": hd + F.lit(s).cast("long") * F.lit(s) * quad,
                "__hx": (
                    F.when((ry == 1), hx)
                    .when(rx == 1, F.lit(n - 1) - hy)
                    .otherwise(hy)
                ),
                "__hy": (
                    F.when((ry == 1), hy)
                    .when(rx == 1, F.lit(n - 1) - hx)
                    .otherwise(hx)
                ),
            }
        )
    return out.withColumn(out_col, F.col("__hd")).drop("__hx", "__hy", "__hd")
