"""Seeded input generator for the benchmark's workloads.

Everything is derived from one ``--seed`` with numpy's PCG64 and written
with pyarrow / plain text, so the same seed always gives byte-identical
files. No file outside the output directory is read. The tables follow the
shapes measured on the sf0.1 test tables (``TESTDATA.md``) with
``shapes.py``: row ratios, value ranges and distributions, document
lengths, vocabulary and near-duplicate rate, embedding geometry. The
figures are listed in README.md, "Inputs"; the constants below name them.

``generate(workload, root, seed, scale)`` returns an ``Inputs`` record with
the rows and bytes written per table and, for ``etl_batch``, the ground
truth the correctness gate compares the pipeline's output against.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes at scale 1.0: the sf0.01 test tables' row counts (15,000 orders;
# 500 documents and 500 embeddings), not sf0.1's. A run must fit a ~70 s
# process budget that includes a ~10 s JVM start and a cold warm-up pass
# (see README.md, "Sizes").
ANALYTICS_ORDERS = 15_000
CURATION_DOCS = 500
CURATION_VECTORS = 500
CURATION_ORDERS = 1_500  # the co-purchase graph reads an sf0.001-sized lineitem
CURATION_CORPORA = 8  # distinct corpora; a run never re-feeds one to LSH
# ETL churn and violation rates have no counterpart in the test tables (they
# hold no updates, no nulls and no negative prices): they are arbitrary.
ETL_BASE_ORDERS = 6_000
ETL_INSERTS = 600  # 10% of the base snapshot
ETL_UPDATES = 600  # 10%
ETL_RESENDS = 300  # 5%, unchanged rows the CDC must drop
ETL_BLANK_PRIORITY = 0.02  # of inserted and updated orders
ETL_NEGATIVE_PRICE = 0.025  # of inserted orders
ETL_EVENTS = 1_500

# Measured sf0.1 shapes. Row ratios per order: 0.1 customers, 2/15 parts,
# 1/150 suppliers, 4 lineitems whose order key is drawn uniformly (so an
# order has Poisson(4) lines, 1.8% none). Every other column is uniform
# and independent over the ranges below.
ORDER_DAYS = 2404  # o_orderdate 1995-01-01 .. 2001-08-01
SHIP_DAYS = (1, 2499)  # l_shipdate 1995-01-02 .. 2001-11-04
LINES_PER_ORDER = 4
MAX_LINENUMBER = 7
ORDER_PRICE = (1_000.0, 500_000.0)
LINE_PRICE = (900.0, 105_000.0)
ACCTBAL = (-999.99, 9_999.99)
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
# documents: 10-100 tokens (uniform), drawn uniformly from a 30-word
# vocabulary; 5% are a copy of an earlier document with " dup" appended
# (3-shingle Jaccard ~0.98 to their source); languages 41% en, ~15% each
# of de/es/fr/zh; sources round-robin over 20.
DOC_TOKENS = (10, 100)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
DOC_DUP_RATE = 0.05
LANGS = {"de": 0.14, "en": 0.41, "es": 0.15, "fr": 0.15, "zh": 0.15}
SOURCES = 20
# embeddings: 64-d unit vectors with no cluster structure (nearest
# neighbour cosine ~0.41, no pair above 0.95) and 10 uniform labels
EMBED_DIM = 64
EMBED_LABELS = 10
# events: 5 uniform types, values exponential with mean 50, ``props``
# {"k": 0..99}, timestamps ascending over the 30 days of January 2024,
# one user per ~67 events
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENT_VALUE_MEAN = 50.0
EVENTS_PER_USER = 67
EPOCH = dt.date(1995, 1, 1)


@dataclass
class Inputs:
    """What the generator wrote: where, how much, and (ETL) the truth."""

    root: Path
    tables: dict[str, dict[str, int]] = field(default_factory=dict)  # name -> rows, bytes
    dirs: list[str] = field(default_factory=list)
    truth: dict = field(default_factory=dict)

    def add(self, name: str, path: Path, rows: int) -> None:
        self.tables[name] = {"rows": rows, "bytes": path.stat().st_size}

    @property
    def rows(self) -> int:
        return sum(t["rows"] for t in self.tables.values())

    @property
    def bytes(self) -> int:
        return sum(t["bytes"] for t in self.tables.values())


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, *stream]))


def _write_parquet(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _ts(days: np.ndarray) -> pa.Array:
    micros = (np.datetime64(EPOCH, "us") + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(micros, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo_hi: tuple[float, float], n: int) -> np.ndarray:
    return np.round(rng.uniform(*lo_hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.array(values)[rng.integers(0, len(values), n)]


# ---------------------------------------------------------------------------
# TPC-H-shaped star schema (relational queries and the curation graph stage)
# ---------------------------------------------------------------------------
def tpch_tables(rng: np.random.Generator, n_orders: int) -> dict[str, pa.Table]:
    n_cust = max(10, n_orders // 10)
    n_part = max(20, n_orders * 2 // 15)
    n_supp = max(5, n_orders // 150)
    n_lines = LINES_PER_ORDER * n_orders
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, ACCTBAL, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, ACCTBAL, n_supp),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(_pick(rng, PART_ADJ, n_part), " "),
                              _pick(rng, PART_NOUN, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, ORDER_PRICE, n_orders),
        "o_orderdate": _ts(rng.integers(0, ORDER_DAYS + 1, n_orders)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_lines).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_lines).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_lines).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, MAX_LINENUMBER + 1, n_lines), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": _money(rng, LINE_PRICE, n_lines),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n_lines), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_lines), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_lines),
        "l_linestatus": _pick(rng, ["F", "O"], n_lines),
        "l_shipdate": _ts(rng.integers(SHIP_DAYS[0], SHIP_DAYS[1] + 1, n_lines)),
    })
    return {
        "region": region, "nation": nation, "customer": customer, "part": part,
        "supplier": supplier, "orders": orders, "lineitem": lineitem,
    }


def _write_tables(inputs: Inputs, tables: dict[str, pa.Table], d: Path, prefix: str = "") -> None:
    for name, table in tables.items():
        path = d / f"{name}.parquet"
        _write_parquet(table, path)
        inputs.add(prefix + name, path, table.num_rows)


# ---------------------------------------------------------------------------
# Curation corpus: documents with planted near-duplicates, embeddings
# ---------------------------------------------------------------------------
def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < DOC_DUP_RATE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        k = int(rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1))
        texts.append(" ".join(_pick(rng, WORDS, k).tolist()))
    langs = sorted(LANGS)
    lang = np.array(langs)[rng.choice(len(langs), n, p=[LANGS[k] for k in langs])]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % SOURCES}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, EMBED_LABELS, n), pa.int32()),
    })


# ---------------------------------------------------------------------------
# ETL landing batches with planted updates and DQ violations
# ---------------------------------------------------------------------------
ETL_PAYLOAD = [
    "o_custkey", "o_orderstatus", "o_totalprice_cents", "o_orderdate",
    "o_orderpriority", "gross_cents", "n_lines", "total_qty",
]
SNAPSHOT_COLS = ["o_orderkey", *ETL_PAYLOAD, "batch_id"]
EVENTS_DDL = (
    "event_id BIGINT, order_key BIGINT, ts STRING, user_id BIGINT, type STRING, "
    "value DOUBLE, props STRUCT<k: INT>, items ARRAY<STRUCT<sku: STRING, qty: INT>>"
)


def _order_payload(o: dict) -> tuple:
    """The ETL_PAYLOAD values the plan derives for order ``o``."""
    valid = [(q, p) for q, p in o["lines"] if q >= 1]
    return (
        o["custkey"], o["status"], o["price"], o["date"], o["priority"],
        sum(p for _, p in valid), len(valid), sum(q for q, _ in valid),
    )


def _line(rng: np.random.Generator) -> tuple[int, int]:
    """(quantity, price in cents) of one order line."""
    lo, hi = (int(100 * v) for v in LINE_PRICE)
    return int(rng.integers(1, 51)), int(rng.integers(lo, hi))


def _new_order(rng: np.random.Generator, n_cust: int) -> dict:
    # an order joins to its lines, so it gets at least one
    lines = [_line(rng) for _ in range(max(1, int(rng.poisson(LINES_PER_ORDER))))]
    if rng.random() < 0.1:  # a cancelled (quantity 0) line the plan filters out
        lines.append((0, _line(rng)[1]))
    lo, hi = (int(100 * v) for v in ORDER_PRICE)
    return {
        "custkey": int(rng.integers(0, n_cust)),
        "status": ["F", "O", "P"][int(rng.integers(0, 3))],
        "price": int(rng.integers(lo, hi)),
        "date": (EPOCH + dt.timedelta(days=int(rng.integers(0, ORDER_DAYS + 1)))).isoformat(),
        "priority": PRIORITIES[int(rng.integers(0, 5))],
        "lines": lines,
    }


def _mutate(rng: np.random.Generator, o: dict) -> dict:
    o = dict(o, lines=list(o["lines"]))
    kind = int(rng.integers(0, 3))
    if kind == 0:
        o["status"] = {"F": "O", "O": "P", "P": "F"}[o["status"]]
    elif kind == 1:
        nxt = PRIORITIES.index(o["priority"]) + 1 if o["priority"] else 0
        o["priority"] = PRIORITIES[nxt % 5]
    else:
        o["lines"].append(_line(rng))
    return o


def _canon(v) -> str:
    return "\\N" if v is None else str(v)


def rows_digest(rows: list[tuple]) -> str:
    """Order-independent digest of a row set (rows sorted, then sha256)."""
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: tuple(_canon(v) for v in r)):
        h.update(("|".join(_canon(v) for v in r) + "\n").encode())
    return h.hexdigest()


def _csv(rows: list[list], header: list[str], path: Path) -> None:
    lines = [",".join(header)]
    lines += [",".join("" if v is None else str(v) for v in r) for r in rows]
    path.write_text("\n".join(lines) + "\n", encoding="utf-8")


def _events(rng: np.random.Generator, path: Path, order_keys: list[int], n: int,
            n_users: int) -> int:
    """Write ``n`` nested JSON events of one day; returns their item count."""
    seconds = np.sort(rng.integers(0, 86_400, n))
    n_items = 0
    with open(path, "w", encoding="utf-8") as fh:
        for i in range(n):
            # the items array is the nesting flatten_nested unrolls; the
            # test tables have none, so its 1-3 items per event are arbitrary
            items = [
                {"sku": f"SKU-{int(rng.integers(0, 500))}", "qty": int(rng.integers(1, 9))}
                for _ in range(int(rng.integers(1, 4)))
            ]
            n_items += len(items)
            s = int(seconds[i])
            fh.write(json.dumps({
                "event_id": i,
                "order_key": order_keys[int(rng.integers(0, len(order_keys)))],
                "ts": f"2024-01-01T{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}Z",
                "user_id": int(rng.integers(0, n_users)),
                "type": EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))],
                "value": round(float(rng.exponential(EVENT_VALUE_MEAN)), 2),
                "props": {"k": int(rng.integers(0, 100))},
                "items": items,
            }, sort_keys=True) + "\n")
    return n_items


def etl_batch(inputs: Inputs, rng: np.random.Generator, d: Path, scale: float) -> None:
    """A base snapshot and one landing batch diffed against it."""
    n0 = max(50, int(ETL_BASE_ORDERS * scale))
    n_cust = max(10, n0 // 10)
    n_ins, n_upd, n_res = (max(5, int(x * scale)) for x in (ETL_INSERTS, ETL_UPDATES, ETL_RESENDS))
    n_ev = max(10, int(ETL_EVENTS * scale))
    state = {k: _new_order(rng, n_cust) for k in range(1, n0 + 1)}

    base = d / "base"
    snap = {c: [] for c in SNAPSHOT_COLS}
    for k, o in state.items():
        for c, v in zip(SNAPSHOT_COLS, (k, *_order_payload(o), -1)):
            snap[c].append(v)
    _write_parquet(_etl_table(snap), base / "snapshot" / "part-0.parquet")
    inputs.add("etl_base_snapshot", base / "snapshot" / "part-0.parquet", n0)

    bd = d / "batch"
    bd.mkdir(parents=True, exist_ok=True)
    picked = rng.choice(n0, n_upd + n_res, replace=False) + 1
    upd, res = picked[:n_upd].tolist(), picked[n_upd:].tolist()
    ins = list(range(n0 + 1, n0 + 1 + n_ins))
    incoming: dict[int, dict] = {}
    for k in upd:
        incoming[k] = _mutate(rng, state[k])
    for k in res:
        incoming[k] = state[k]
    for k in ins:
        incoming[k] = _new_order(rng, n_cust)
    # planted DQ violations: blank priorities and negative prices on
    # rows that change anyway (inserts/updates), never on re-sends
    changing = upd + ins
    n_blank = max(1, round(len(changing) * ETL_BLANK_PRIORITY))
    n_neg = max(1, round(len(ins) * ETL_NEGATIVE_PRICE))
    for k in rng.choice(changing, n_blank, replace=False).tolist():
        incoming[k] = dict(incoming[k], priority=None)
    for k in rng.choice(ins, n_neg, replace=False).tolist():
        incoming[k] = dict(incoming[k], price=-incoming[k]["price"])

    order_rows, line_rows = [], []
    for k in rng.permutation(sorted(incoming)).tolist():
        o = incoming[k]
        order_rows.append([k, o["custkey"], o["status"], o["price"], o["date"], o["priority"], 0])
        for ln, (q, p) in enumerate(o["lines"], start=1):
            line_rows.append([k, ln, q, p])
    _csv(order_rows, ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice_cents",
                      "o_orderdate", "o_orderpriority", "batch_id"], bd / "orders.csv")
    _csv(line_rows, ["l_orderkey", "l_linenumber", "l_quantity", "l_price_cents"],
         bd / "lineitem.csv")
    n_items = _events(rng, bd / "events.json", sorted(incoming), n_ev,
                      max(5, n_ev // EVENTS_PER_USER))

    changed = [
        k for k in sorted(incoming)
        if k not in state or _order_payload(incoming[k]) != _order_payload(state[k])
    ]
    n_inserts = sum(1 for k in changed if k not in state)
    landed = {"orders.csv": len(order_rows), "lineitem.csv": len(line_rows), "events.json": n_ev}
    for name, rows in landed.items():
        inputs.add(f"etl_batch_{name.split('.')[0]}", bd / name, rows)
    inputs.truth = {
        "base": str(base),
        "dir": str(bd),
        "landed_rows": sum(landed.values()),
        "landed_bytes": sum((bd / name).stat().st_size for name in landed),
        "incoming": len(incoming),
        "inserts": n_inserts,
        "updates": len(changed) - n_inserts,
        "delta_digest": rows_digest([(k, *_order_payload(incoming[k]), 0) for k in changed]),
        "snapshot_rows": n0 + n_inserts,
        "dq": {
            "nn_priority": sum(1 for o in incoming.values() if o["priority"] is None),
            "uniq_key": 0,
            "neg_price": sum(1 for o in incoming.values() if o["price"] < 0),
        },
        "events": n_ev,
        "event_items": n_items,
    }


def _etl_table(cols: dict[str, list]) -> pa.Table:
    types = {
        "o_orderkey": pa.int64(), "o_custkey": pa.int64(), "o_orderstatus": pa.string(),
        "o_totalprice_cents": pa.int64(), "o_orderdate": pa.date32(),
        "o_orderpriority": pa.string(), "gross_cents": pa.int64(), "n_lines": pa.int64(),
        "total_qty": pa.int64(), "batch_id": pa.int32(),
    }
    arrays = {}
    for c, vals in cols.items():
        if c == "o_orderdate":
            vals = [dt.date.fromisoformat(v) for v in vals]
        arrays[c] = pa.array(vals, types[c])
    return pa.table(arrays)


# ---------------------------------------------------------------------------
def generate(workload: str, root: Path, seed: int, scale: float = 1.0) -> Inputs:
    """Write ``workload``'s inputs for ``seed`` under ``root``.

    ``analytics_curation``: ``dirs[0]`` holds the TPC-H-shaped tables; each
    of ``dirs[1:]`` is one curation corpus (documents, embeddings and a
    small lineitem for the co-purchase graph), a fresh one for every pass.
    """
    inputs = Inputs(root=root)
    root.mkdir(parents=True, exist_ok=True)
    if workload == "analytics_curation":
        d = root / "tpch"
        tables = tpch_tables(_rng(seed, 1), max(200, int(ANALYTICS_ORDERS * scale)))
        _write_tables(inputs, tables, d)
        inputs.dirs = [str(d)]
        for c in range(CURATION_CORPORA):
            d = root / f"corpus{c}"
            rng = _rng(seed, 2, c)
            tables = {
                "documents": documents(rng, max(40, int(CURATION_DOCS * scale))),
                "embeddings": embeddings(rng, max(40, int(CURATION_VECTORS * scale))),
                "lineitem": tpch_tables(rng, max(100, int(CURATION_ORDERS * scale)))["lineitem"],
            }
            _write_tables(inputs, tables, d, prefix=f"corpus{c}_")
            inputs.dirs.append(str(d))
    elif workload == "etl_batch":
        etl_batch(inputs, _rng(seed, 3), root / "etl", scale)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return inputs
