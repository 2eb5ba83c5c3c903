"""Print the shapes of a test-table directory that ``gen.py`` reproduces.

    python3 perfbench/shapes.py <dir with the sf0.1 test tables>

Row ratios, the distribution of every column the generator draws,
document lengths, vocabulary and near-duplicate rate (3-shingle Jaccard
>= 0.9, the registry's LSH shingle size) and embedding geometry. The
figures were taken once from the sf0.1 tables; README.md lists them and
gen.py's constants name them. The benchmark itself never runs this.
"""

from __future__ import annotations

import collections
import json
import sys
from itertools import combinations

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = "customer supplier part orders lineitem events documents embeddings".split()


def counts(values) -> dict:
    c = collections.Counter(values)
    return {k: round(v / sum(c.values()), 3) for k, v in sorted(c.items())}


def near_duplicates(texts: list[str], threshold: float = 0.9) -> tuple[int, int]:
    """(documents with a near-duplicate, near-duplicate pairs) by 3-shingle Jaccard."""
    shingles = [set(zip(t, t[1:], t[2:])) for t in (s.split() for s in texts)]
    postings = collections.defaultdict(list)
    for i, sh in enumerate(shingles):
        for s in sh:
            postings[s].append(i)
    shared = collections.Counter()
    for docs in postings.values():
        shared.update(combinations(docs, 2))
    pairs = [
        (i, j) for (i, j), n in shared.items()
        if n / (len(shingles[i]) + len(shingles[j]) - n) >= threshold
    ]
    return len({d for p in pairs for d in p}), len(pairs)


def main(d: str) -> None:
    t = {n: pq.read_table(f"{d}/{n}.parquet") for n in TABLES}
    rows = {n: x.num_rows for n, x in t.items()}
    print("rows", rows)
    print("per order", {n: round(rows[n] / rows["orders"], 4)
                        for n in ("customer", "part", "supplier", "lineitem")})
    lines = collections.Counter(t["lineitem"].column("l_orderkey").to_pylist())
    print("lines per order", counts(lines.get(k, 0) for k in range(rows["orders"])))
    print("nulls", sum(x.column(c).null_count for x in t.values() for c in x.column_names))
    for name, cols in {
        "orders": ["o_totalprice", "o_orderdate", "o_orderstatus", "o_orderpriority"],
        "lineitem": ["l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                     "l_shipdate", "l_returnflag", "l_linestatus"],
        "customer": ["c_acctbal", "c_mktsegment"],
        "part": ["p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
        "events": ["event_type", "value", "ts"],
    }.items():
        for c in cols:
            col = t[name].column(c)
            distinct = pc.count_distinct(col).as_py()
            shape = counts(col.to_pylist()) if distinct <= 8 else f"{distinct} distinct"
            print(f"{name}.{c}: {pc.min(col)} .. {pc.max(col)}, {shape}")
    ev = t["events"]
    print("events: users", pc.count_distinct(ev.column("user_id")).as_py(),
          "value mean", round(pc.mean(ev.column("value")).as_py(), 2),
          "props keys", counts(tuple(json.loads(p)) for p in ev.column("props").to_pylist()))

    docs = t["documents"]
    texts = docs.column("text").to_pylist()
    tokens = np.array([len(s.split()) for s in texts])
    vocab = collections.Counter(w for s in texts for w in s.split())
    print("documents: tokens", tokens.min(), "..", tokens.max(), "quartiles",
          np.percentile(tokens, [25, 50, 75]).tolist(), "vocabulary", len(vocab),
          "rarest", vocab.most_common()[-3:])
    print("documents: lang", counts(docs.column("lang").to_pylist()),
          "sources", pc.count_distinct(docs.column("source")).as_py())
    with_dup, pairs = near_duplicates(texts)
    print(f"documents: {with_dup} ({with_dup / len(texts):.3f}) in {pairs} near-duplicate pairs")

    emb = t["embeddings"]
    v = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    norms = np.linalg.norm(v, axis=1)
    cos = (v / norms[:, None]) @ (v / norms[:, None]).T
    np.fill_diagonal(cos, -1.0)
    print("embeddings: dim", v.shape[1], "norm", norms.min().round(4), "..", norms.max().round(4),
          "nearest-neighbour cosine quartiles", np.percentile(cos.max(1), [25, 50, 75]).round(3),
          "pairs > 0.95", int((cos > 0.95).sum() // 2), "labels", len(set(emb.column("label"))))


if __name__ == "__main__":
    main(sys.argv[1])
