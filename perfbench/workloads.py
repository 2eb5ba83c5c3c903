"""The benchmark's workloads and their correctness gates.

A workload is a sequence of passes; a pass is the same list of ops every
time (``analytics_curation`` permutes its order per pass). One op is one
call a user of the package would make and wait for: a landing batch
through the ETL loop, one analytics query, one curation stage. ``check`` compares every op's
output with an independent answer and returns the indices of the ops that
failed.
"""

from __future__ import annotations

import importlib.util
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen
from tracer import sink_output


@dataclass
class Op:
    name: str
    run: Callable[[], Any]
    rows: int  # input rows the op reads
    in_bytes: int  # input bytes the op reads


@dataclass
class Record:
    name: str
    pass_no: int
    seconds: float  # wall
    cpu_s: float  # CPU of this process and the JVM while the op ran, JIT compiler excluded
    ok: bool
    rows: int
    in_bytes: int
    result: Any = None
    problems: list[str] = field(default_factory=list)


def _load_check_parity(repo_root: Path):
    """The repository's own Spark-vs-DuckDB comparator (tools/check_parity.py)."""
    spec = importlib.util.spec_from_file_location(
        "check_parity", repo_root / "tools" / "check_parity.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class AnalyticsCuration:
    """Read-only: TPC-H-shaped scans, joins and aggregates over one table set,
    and the curation stages (text quality, MinHash-LSH, ANN recall, graph
    communities) over a fresh corpus each pass. Every op is a registry
    query collected to the client and gated on its DuckDB oracle."""

    #: a pass of six ops averages out op-to-op noise; two passes suffice
    min_timed_passes = 2
    #: (registry query, layer charged with its final collect, tables it reads)
    relational = (
        ("q1_pricing_summary", "operators.relational", ("lineitem",)),
        ("q5_nation_revenue", "operators.relational",
         ("lineitem", "orders", "customer", "nation", "region")),
    )
    curation = (
        ("text_quality", "operators.text", ("documents",)),
        ("minhash_lsh", "operators.dedup", ("documents",)),
        ("ann_recall_lsh", "operators.similarity", ("embeddings",)),
        ("lpa_communities", "operators.graph", ("lineitem",)),
    )

    def __init__(self, spark, entry, inputs: gen.Inputs, tracer, repo_root: Path, seed: int):
        self.spark, self.entry, self.inputs, self.tracer = spark, entry, inputs, tracer
        self.repo_root, self.seed = repo_root, seed
        self._fns = entry.queries()

    def has_pass(self, pass_no: int) -> bool:
        # every pass needs a corpus the dedup family has never seen
        return pass_no + 1 < len(self.inputs.dirs)

    def corpus(self, pass_no: int) -> str:
        return self.inputs.dirs[pass_no + 1]

    def ops(self, pass_no: int) -> list[Op]:
        tpch, corpus = self.inputs.dirs[0], self.corpus(pass_no)
        ops = [self._op(*q, tpch, "") for q in self.relational]
        ops += [self._op(*q, corpus, f"{Path(corpus).name}_") for q in self.curation]
        order = np.random.default_rng([self.seed, pass_no]).permutation(len(ops))
        return [ops[i] for i in order]

    def _op(self, name: str, layer: str, tables: tuple[str, ...], d: str, prefix: str) -> Op:
        def run():
            if name == "minhash_lsh":
                # the registry caches the LSH stage per (application, corpus);
                # a hit would time a dictionary lookup, not the stage
                key = (self.spark.sparkContext.applicationId, d)
                if key in getattr(self.entry, "_LSH_PAIRS_CACHE", {}):
                    raise RuntimeError(f"LSH pairs already cached for {d}")
            df = self._fns[name](self.spark, d)
            with self.tracer.span(layer, f"collect.{name}"):
                return d, df.toPandas()

        meta = [self.inputs.tables[prefix + t] for t in tables]
        return Op(name, run, sum(m["rows"] for m in meta), sum(m["bytes"] for m in meta))

    def check(self, records: list[Record]) -> set[int]:
        parity = _load_check_parity(self.repo_root)
        oracles = self.entry.oracle_sql()
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        expected: dict[tuple[str, str], Any] = {}
        failed = set()
        for i, rec in enumerate(records):
            if not rec.ok:
                failed.add(i)
                continue
            d, pdf = rec.result
            key = (rec.name, d)
            if key not in expected:
                for view in sorted(Path(d).glob("*.parquet")):
                    con.execute(
                        f"CREATE OR REPLACE VIEW {view.stem} AS "
                        f"SELECT * FROM read_parquet('{view}')"
                    )
                expected[key] = con.execute(oracles[rec.name]).fetchdf()
            rec.problems = parity.compare(rec.name, pdf, expected[key])
            if rec.problems:
                failed.add(i)
        return failed

    def lsh_pair_counts(self, d: str) -> tuple[int, int]:
        """(candidate pairs, verified pairs) of a corpus's LSH stage: the
        registry's call, once more with verification disabled."""
        from datapipelines_essentials_python_spark.operators import dedup as dedup_ops

        docs = self.entry.load_table(self.spark, d, "documents", parallelize=True)
        counts = []
        for threshold in (0.0, 0.5):
            pairs = dedup_ops.minhash_lsh_pairs(
                docs, "doc_id", "text", n=3, num_hashes=16, bands=8,
                threshold=threshold, max_bucket=self.entry.LSH_MAX_BUCKET,
            )
            counts.append(pairs.count())
            dedup_ops.release(pairs)
        return counts[0], counts[1]


# ---------------------------------------------------------------------------
# ETL: landing batch → plan → flatten → CDC → DQ → parquet
# ---------------------------------------------------------------------------
class EtlBatch:
    """The paper's core loop, one landing batch per pass; the only workload
    that writes. The batch is compiled from metadata, its nested events
    flattened, diffed against the base snapshot, DQ-checked and written
    as parquet. Every pass replays the same batch into its own lake
    directory, so every pass does the same work."""

    #: a pass is a single op; the median of three passes sets aside one
    #: pass hit by a burst of load on the host (each costs ~6-9 s)
    min_timed_passes = 3

    def __init__(self, spark, entry, inputs: gen.Inputs, tracer, repo_root: Path, seed: int):
        from datapipelines_essentials_python_spark.dq.rules import DQConfig, Rule

        self.spark, self.inputs, self.tracer = spark, inputs, tracer
        self.truth = inputs.truth
        self.out_root = inputs.root / "lake"
        self.dq_config = DQConfig(dq_id="orders_batch", rules=[
            Rule("nn_priority", "priority present", "not null", columns=("o_orderpriority",)),
            Rule("uniq_key", "one row per order", "unique", columns=("o_orderkey",)),
            Rule("neg_price", "price not negative", "query",
                 query="select * from temp where o_totalprice_cents < 0"),
        ])

    def has_pass(self, pass_no: int) -> bool:
        return True

    def _specs(self, batch_dir: str):
        from datapipelines_essentials_python_spark.plans.datamodel import DataModel
        from datapipelines_essentials_python_spark.plans.metadata import ColumnSpec, TableSpec

        def col(table, src, target, ttype, **kw):
            return ColumnSpec(table, src, target, target_type=ttype, **kw)

        csv = {"header": "true"}
        orders = TableSpec("orders", "csv", f"{batch_dir}/orders.csv", csv, columns=[
            col("orders", "o_orderkey", "o_orderkey", "bigint", is_pk=True),
            col("orders", "o_custkey", "o_custkey", "bigint"),
            col("orders", "o_orderstatus", "o_orderstatus", "string", filter="in('F','O','P')"),
            col("orders", "o_totalprice_cents", "o_totalprice_cents", "bigint"),
            col("orders", "o_orderdate", "o_orderdate", "date"),
            col("orders", "o_orderpriority", "o_orderpriority", "string"),
            col("orders", "batch_id", "batch_id", "int"),
        ])
        lineitem = TableSpec("lineitem", "csv", f"{batch_dir}/lineitem.csv", csv, columns=[
            col("lineitem", "l_price_cents", "gross_cents", "bigint", aggregator="sum"),
            col("lineitem", "l_linenumber", "n_lines", "bigint", aggregator="count"),
            col("lineitem", "l_quantity", "total_qty", "bigint", aggregator="sum",
                filter="gte(1)"),
        ])
        model = DataModel()
        model.add_table("orders", ["o_orderkey"])
        model.add_table("lineitem", ["l_orderkey", "l_linenumber"])
        model.add_fk("lineitem", "orders", ["l_orderkey"], ["o_orderkey"], "inner")
        return [lineitem, orders], model

    def ops(self, pass_no: int) -> list[Op]:
        # imported here, after a traced run has wrapped the package
        from datapipelines_essentials_python_spark.dq.engine import execute_rules
        from datapipelines_essentials_python_spark.io.readers import read_data
        from datapipelines_essentials_python_spark.io.writers import write_data
        from datapipelines_essentials_python_spark.operators.cdc import apply_cdc_pipeline
        from datapipelines_essentials_python_spark.operators.flatten import flatten_nested
        from datapipelines_essentials_python_spark.plans.compiler import PipelineCompiler

        t, out, spark = self.truth, self.out_root / f"pass{pass_no}", self.spark

        def run():
            specs, model = self._specs(t["dir"])
            incoming = PipelineCompiler(spark, specs, model, main_table="lineitem").compile()
            events = read_data(spark, "json", f"{t['dir']}/events.json", schema=gen.EVENTS_DDL)
            flat = flatten_nested(events, "events", cascade_keys={"event_id": "pk_event_id"})
            history = read_data(spark, "parquet", f"{t['base']}/snapshot")
            delta, snapshot = apply_cdc_pipeline(
                history, incoming, ["o_orderkey"], ["batch_id"], payload_cols=gen.ETL_PAYLOAD
            )
            _, results = execute_rules(spark, incoming, self.dq_config)
            write_data(delta, "parquet", str(out / "delta"))
            write_data(snapshot, "parquet", str(out / "snapshot"))
            for name, table in flat.tables.items():
                write_data(table, "parquet", str(out / "events" / name))
            return {"out": str(out), "dq": {r.rule_id: r.violation_count for r in results}}

        return [Op("batch", run, t["landed_rows"], t["landed_bytes"])]

    def output_bytes(self, result) -> int:
        return sink_output(result["out"])[0]

    def check(self, records: list[Record]) -> set[int]:
        base_keys = set(pq.read_table(Path(self.truth["base"]) / "snapshot",
                                      columns=["o_orderkey"]).column(0).to_pylist())
        failed = set()
        for i, rec in enumerate(records):
            rec.problems = ["op raised"] if not rec.ok else self._check_batch(rec.result, base_keys)
            if rec.problems:
                failed.add(i)
        return failed

    def _check_batch(self, res: dict, base_keys: set[int]) -> list[str]:
        t, out, problems = self.truth, Path(res["out"]), []

        def expect(what, got, want):
            if got != want:
                problems.append(f"{what}: got {got}, expected {want}")

        delta = pq.read_table(out / "delta", columns=gen.SNAPSHOT_COLS)
        keys = delta.column("o_orderkey").to_pylist()
        inserts = sum(1 for k in keys if k not in base_keys)
        expect("cdc inserts", inserts, t["inserts"])
        expect("cdc updates", len(keys) - inserts, t["updates"])
        rows = [tuple(r[c] for c in gen.SNAPSHOT_COLS) for r in delta.to_pylist()]
        expect("delta digest", gen.rows_digest(rows), t["delta_digest"])
        expect("snapshot rows", pq.read_table(out / "snapshot").num_rows, t["snapshot_rows"])
        expect("dq violations", res["dq"], t["dq"])
        events = {p.name: pq.read_table(p) for p in (out / "events").iterdir()}
        expect("event rows", events["events"].num_rows if "events" in events else None, t["events"])
        items = [tb.num_rows for tb in events.values() if "sku" in tb.column_names]
        expect("event item rows", items, [t["event_items"]])
        return problems


WORKLOADS = {"etl_batch": EtlBatch, "analytics_curation": AnalyticsCuration}
