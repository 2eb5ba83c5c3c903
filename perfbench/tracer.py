"""Layer tracing from outside the package.

``Tracer.install()`` imports every layer module of the package and
replaces its public functions (and the public methods of its classes) with
wrappers, then rebinds any copy a sibling module took with ``from ...
import``. It must run before ``__spark_entry__`` is imported so the entry
module binds the wrappers too. While ``Tracer.active`` is false a wrapper is
a plain pass-through.

An active wrapper records a span (name, layer, start, end, parent, run id)
and tags the Spark jobs it launches with its own job group. Spark is lazy,
so a span also materialises the DataFrames its call returns (persist +
count): downstream spans then read cached input and each layer's self time
holds its own work. That loses cross-layer fusion, which is why the
end-to-end metrics come from untraced runs.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import statistics
import sys
import time
from collections import defaultdict
from pathlib import Path

PKG = "datapipelines_essentials_python_spark"

#: layer name -> modules whose public callables belong to it
LAYERS: dict[str, tuple[str, ...]] = {
    "session": ("session",),
    "io": ("io.readers", "io.writers"),
    "plans": ("plans.compiler", "plans.join_planner", "plans.datamodel"),
    "expr": ("expr.filter_dsl", "expr.registry"),
    "tables": ("tables",),
    "operators.flatten": ("operators.flatten",),
    "operators.cdc": ("operators.cdc",),
    "dq": ("dq.engine",),
    "operators.relational": ("operators.relational",),
    "operators.text": ("operators.text",),
    "operators.dedup": ("operators.dedup",),
    "operators.similarity": ("operators.similarity",),
    "operators.graph": ("operators.graph",),
}
BASE_METRICS = ("calls", "self_s", "spark_jobs", "tasks", "failed_tasks")
EXTRA_METRICS = {
    "session.start_s": "s",
    "io.bytes_written": "bytes",
    "io.files_written": "count",
    "io.out_bytes_per_in_byte": "ratio",
    "plans.compile_s": "s",
    "expr.compile_s": "s",
    "operators.flatten.child_tables": "count",
    "operators.cdc.changed_frac": "ratio",
    "dq.rules": "count",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_frac": "ratio",
    "operators.similarity.recall_at_k": "ratio",
    "operators.graph.iterations": "count",
    "trace.overhead_s": "s",
}
BASE_UNITS = {"calls": "count", "self_s": "s", "spark_jobs": "count", "tasks": "count",
              "failed_tasks": "count"}
#: layers whose calls only build plans or expressions: never materialised
DRIVER_ONLY = {"session", "expr"}


def per_layer_metric_units() -> dict[str, str]:
    """Every per-layer metric name the traced run reports, with its unit."""
    out = {f"{layer}.{m}": BASE_UNITS[m] for layer in LAYERS for m in BASE_METRICS}
    out.update(EXTRA_METRICS)
    return out


def _frames(result) -> list:
    from pyspark.sql import DataFrame

    if isinstance(result, DataFrame):
        return [result]
    if isinstance(result, (tuple, list)):
        return [r for r in result if isinstance(r, DataFrame)]
    tables = getattr(result, "tables", None)  # operators.flatten.FlattenResult
    if isinstance(tables, dict):
        return [t for t in tables.values() if isinstance(t, DataFrame)]
    return []


def sink_output(location: str) -> tuple[int, int]:
    """(bytes, files) of the data files a sink wrote under ``location``."""
    files = [
        p for p in Path(location).rglob("*")
        if p.is_file() and not p.name.startswith((".", "_"))
    ]
    return sum(p.stat().st_size for p in files), len(files)


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.run_id: str | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._persisted: list = []
        self._counts: dict[int, int] = {}
        self._sums: dict[str, float] = defaultdict(float)
        self._seen_stages: set[int] = set()
        self._unresolved: list[dict] = []

    # -- installation ------------------------------------------------------
    def install(self) -> None:
        modules = {}
        for layer, names in LAYERS.items():
            for name in names:
                modules[f"{PKG}.{name}"] = (importlib.import_module(f"{PKG}.{name}"), layer)
        replaced: dict[int, object] = {}
        for modname, (mod, layer) in modules.items():
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != modname:
                    continue
                qualname = f"{modname[len(PKG) + 1:]}.{attr}"
                if inspect.isfunction(obj):
                    wrapper = self._wrap(obj, layer, qualname)
                    replaced[id(obj)] = wrapper
                    setattr(mod, attr, wrapper)
                elif inspect.isclass(obj):
                    for m, fn in list(vars(obj).items()):
                        if not m.startswith("_") and inspect.isfunction(fn):
                            setattr(obj, m, self._wrap(fn, layer, f"{qualname}.{m}"))
        # rebind copies taken with ``from module import name`` before wrapping
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                if id(obj) in replaced and inspect.isfunction(obj):
                    setattr(mod, attr, replaced[id(obj)])

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            return tracer._call(layer, name, fn, args, kwargs)

        return traced

    # -- spans ---------------------------------------------------------------
    def _sc(self):
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def _open(self, layer: str, name: str) -> dict:
        span = {
            "id": len(self.spans), "name": name, "layer": layer, "run": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
        }
        sc = self._sc()
        if sc is not None:
            span["group"] = f"perfbench-{span['id']}"
            span["_prev_group"] = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", span["group"])
        self.spans.append(span)
        self._stack.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        span.setdefault("call_end", span["end"])
        self._stack.pop()
        if "group" in span:
            sc = self._sc()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", span.pop("_prev_group"))
            self._unresolved.append(span)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        """A span around the benchmark's own calls (a no-op while inactive)."""
        if not self.active:
            yield None
            return
        s = self._open(layer, name)
        try:
            yield s
        finally:
            self._close(s)

    def _call(self, layer, name, fn, args, kwargs):
        span = self._open(layer, name)
        try:
            result = fn(*args, **kwargs)
            span["call_end"] = time.perf_counter()
            if layer not in DRIVER_ONLY:
                for df in _frames(result):
                    df.persist()
                    self._counts[id(df)] = df.count()
                    self._persisted.append(df)
        finally:
            self._close(span)
        self._after(name, fn, args, kwargs, result)
        return result

    def _after(self, name, fn, args, kwargs, result) -> None:
        """Layer-specific counts, taken at the layer boundary."""
        bound = None
        try:
            bound = inspect.signature(fn).bind(*args, **kwargs)
            bound.apply_defaults()
        except TypeError:
            pass
        params = bound.arguments if bound else {}
        if name == "io.writers.write_data" and params.get("location"):
            nbytes, nfiles = sink_output(params["location"])
            self._sums["io.bytes_written"] += nbytes
            self._sums["io.files_written"] += nfiles
        elif name == "operators.flatten.flatten_nested":
            self._sums["operators.flatten.child_tables"] += len(result.tables)
        elif name == "operators.cdc.apply_cdc_pipeline":
            delta, incoming = result[0], params["incoming"]
            self._sums["operators.cdc.delta_rows"] += self._counts[id(delta)]
            n_incoming = self._counts.get(id(incoming)) or incoming.count()
            self._sums["operators.cdc.incoming_rows"] += n_incoming
        elif name == "dq.engine.execute_rules":
            self._sums["dq.rules"] += len(params["config"].rules)
        elif name.startswith("operators.graph.") and "iterations" in params:
            self._sums["operators.graph.iterations"] += int(params["iterations"])
        elif name == "operators.similarity.recall_at_k":
            from pyspark.sql import functions as F

            mean = result.agg(F.avg("recall")).collect()[0][0]
            self._sums["operators.similarity.recall_sum"] += float(mean or 0.0)
            self._sums["operators.similarity.recall_calls"] += 1

    def note(self, key: str, value: float) -> None:
        self._sums[key] += value

    def end_op(self) -> None:
        """Release what the op's spans cached and resolve their Spark counts."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()
        self._counts.clear()
        self.resolve()

    def resolve(self) -> None:
        sc = self._sc()
        if sc is None or not self._unresolved:
            return
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        st = sc.statusTracker()
        for span in self._unresolved:
            jobs = st.getJobIdsForGroup(span["group"])
            tasks = failed = 0
            for jid in jobs:
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    if sid in self._seen_stages:
                        continue
                    self._seen_stages.add(sid)
                    si = st.getStageInfo(sid)
                    if si is not None:
                        tasks += si.numCompletedTasks + si.numFailedTasks
                        failed += si.numFailedTasks
            span.update(spark_jobs=len(jobs), tasks=tasks, failed_tasks=failed)
        self._unresolved.clear()

    # -- reporting ---------------------------------------------------------
    def layer_metrics(
        self, traced_runs: list[str], pass_walls: dict[str, list[float]]
    ) -> dict[str, float]:
        """Per-layer metrics per traced pass (ratios are not divided)."""
        runs = set(traced_runs)
        n = max(1, len(runs))
        out = {name: 0.0 for name in per_layer_metric_units()}
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        for s in self.spans:
            layer = s["layer"]
            if layer not in LAYERS:
                continue
            # the session starts once, before any pass: report it whole
            share = 1.0 if layer == "session" else (1.0 / n if s["run"] in runs else 0.0)
            if not share:
                continue
            own = (s["end"] - s["start"]) - child_time[s["id"]]
            out[f"{layer}.calls"] += share
            out[f"{layer}.self_s"] += own * share
            for m in ("spark_jobs", "tasks", "failed_tasks"):
                out[f"{layer}.{m}"] += s.get(m, 0) * share
            if layer in ("plans", "expr"):
                call_s = s["call_end"] - s["start"] - child_time[s["id"]]
                out[f"{layer}.compile_s"] += call_s * share
        sessions = [s for s in self.spans if s["layer"] == "session"]
        if sessions:
            out["session.start_s"] = max(s["end"] - s["start"] for s in sessions)
        for key in ("io.bytes_written", "io.files_written", "operators.flatten.child_tables",
                    "dq.rules", "operators.graph.iterations"):
            out[key] = self._sums[key] / n
        if self._sums["operators.cdc.incoming_rows"]:
            out["operators.cdc.changed_frac"] = (
                self._sums["operators.cdc.delta_rows"] / self._sums["operators.cdc.incoming_rows"]
            )
        if self._sums["operators.similarity.recall_calls"]:
            out["operators.similarity.recall_at_k"] = (
                self._sums["operators.similarity.recall_sum"]
                / self._sums["operators.similarity.recall_calls"]
            )
        candidates = self._sums["operators.dedup.candidate_pairs"]
        out["operators.dedup.candidate_pairs"] = candidates
        if candidates:
            out["operators.dedup.verified_frac"] = (
                self._sums["operators.dedup.verified_pairs"] / candidates
            )
        traced = pass_walls.get("traced", [])
        untraced = pass_walls.get("untraced", [])
        if traced and untraced:
            out["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        return out

    def dump(self, path: Path) -> None:
        import json

        keep = ("id", "name", "layer", "run", "parent", "start", "end", "call_end",
                "spark_jobs", "tasks", "failed_tasks")
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([{k: s.get(k) for k in keep} for s in self.spans]))
