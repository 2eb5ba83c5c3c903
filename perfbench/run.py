"""Seeded closed-loop benchmark of the package's ETL write path, analytics
and curation workloads.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 5 --trace 0

Run from the repository root. One client (this process) submits ops one
after another to a ``local[N]`` session, N = the CPU count. The run
generates its inputs from ``--seed``, starts the session, runs one warm-up
pass, then runs whole passes until ``--seconds`` have elapsed (and at
least the workload's ``min_timed_passes``), checks every op's output, and
prints each metric with its unit. The
last line of stdout is one JSON object: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. The exit code is 1
when any output was wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
from procstat import CpuMeter, PeakRss  # noqa: E402
from tracer import Tracer, per_layer_metric_units  # noqa: E402
from workloads import WORKLOADS, AnalyticsCuration, EtlBatch, Record  # noqa: E402

PKG = "datapipelines_essentials_python_spark"
#: untimed passes before the timed region: the first run of a plan shape
#: pays class loading, Spark code generation and most of the JVM's JIT
#: compilation; the JIT's tail is left out of the timings instead
#: (see README.md, "Warm-up and the JIT")
WARMUP_PASSES = 1
END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "rows_per_cpu_s": "1/s",
    "op_gmean_cpu_s": "s",
    "success_rate": "ratio",
}


def cpu_steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU ticks the hypervisor stole between two /proc/stat reads."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / max(1, sum(delta[:8]))


def proc_stat_cpu() -> list[int]:
    return [int(v) for v in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]


def process_age_s() -> float:
    """Seconds since this process was started (from /proc)."""
    ticks = os.sysconf("SC_CLK_TCK")
    start = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start / ticks


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["etl_batch", "analytics_curation"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (tests use a tiny scale)")
    return p.parse_args(argv)


def work_cpu(cpu: CpuMeter) -> float:
    """CPU seconds of the process tree outside the JVM's JIT compiler threads."""
    total, jit = cpu.read()
    return total - jit


def run_op(op, pass_no, tracer, traced, cpu: CpuMeter):
    t0, c0 = time.perf_counter(), work_cpu(cpu)
    ok, result = True, None
    try:
        with tracer.span("bench", op.name):
            result = op.run()
    except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
        traceback.print_exc(file=sys.stderr)
        ok = False
    seconds, cpu_s = time.perf_counter() - t0, work_cpu(cpu) - c0
    if traced:
        tracer.end_op()
    return Record(op.name, pass_no, seconds, cpu_s, ok, op.rows, op.in_bytes, result=result)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin (our end of the pipe) closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    repo = Path.cwd()
    if not (repo / PKG / "__init__.py").is_file() or not (repo / "__spark_entry__.py").is_file():
        print(f"run from the repository root: {PKG}/ and __spark_entry__.py not found in {repo}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(repo))
    rss = PeakRss().start()

    work = HERE / "_work" / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")

    tracer = Tracer()
    if args.trace:
        tracer.install()
        tracer.active = True  # covers the session start
    try:
        return _run(args, repo, work, tracer, rss)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, repo, work, tracer, rss) -> int:
    t_gen = time.perf_counter()
    inputs = gen.generate(args.workload, work / "inputs", args.seed, args.scale)
    gen_s = time.perf_counter() - t_gen

    from datapipelines_essentials_python_spark import get_or_create_spark_session

    t_session = time.perf_counter()
    # - compiler threads that live as long as the JVM, so that CpuMeter
    #   sees all JIT work; the JVM otherwise starts and retires them on
    #   demand and the CPU of one that lives between two reads counts as work
    # - C1 only: its compilation settles within the warm-up pass, where the
    #   C2 compiler still takes a third to a half of the CPU eight passes in
    # - a code cache large enough for every class Spark generates, never
    #   flushed: C1 alone gets a 48 MB cache that fills, and its sweeper
    #   and the recompiles after a flush cost up to 5 CPU s in random passes
    #   (see README.md, "Warm-up and the JIT")
    java_opts = (f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
                 " -XX:-UseDynamicNumberOfCompilerThreads -XX:TieredStopAtLevel=1"
                 " -XX:ReservedCodeCacheSize=512m -XX:-UseCodeCacheFlushing")
    spark = get_or_create_spark_session(extra_confs={
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    })
    session_s = time.perf_counter() - t_session
    tracer.active = False
    cpu = CpuMeter()
    try:
        import __spark_entry__ as entry

        wl = WORKLOADS[args.workload](spark, entry, inputs, tracer, repo, args.seed)
        records, passes = [], []  # passes: (kind, rows, wall s, work CPU s, JIT CPU s)

        def run_pass(pass_no: int, kind: str) -> list[Record]:
            traced = kind == "traced"
            tracer.active, tracer.run_id = traced, f"pass{pass_no}"
            c0, t0 = cpu.read(), time.perf_counter()
            recs = [run_op(op, pass_no, tracer, traced, cpu) for op in wl.ops(pass_no)]
            (cpu_s, jit_s), wall = (b - a for a, b in zip(c0, cpu.read())), time.perf_counter() - t0
            tracer.active = False
            passes.append((kind, sum(r.rows for r in recs), wall, cpu_s - jit_s, jit_s))
            print(f"  pass {pass_no} {kind}: {wall:.2f} s wall, {cpu_s - jit_s:.2f} s CPU "
                  f"+ {jit_s:.2f} s JIT compiler ({100 * jit_s / max(cpu_s, 1e-9):.0f}% JIT)",
                  flush=True)
            records.extend(recs)
            return recs

        for pass_no in range(WARMUP_PASSES):
            run_pass(pass_no, "warm-up")
        setup_wall_s, setup_cpu_s = process_age_s(), cpu.read()[0]

        timed: list[Record] = []
        t_region, stat0 = time.perf_counter(), proc_stat_cpu()
        pass_no = WARMUP_PASSES
        while wl.has_pass(pass_no) and (
            time.perf_counter() - t_region < args.seconds
            or pass_no - WARMUP_PASSES < wl.min_timed_passes
        ):
            # trace mode alternates untraced and traced passes; the
            # difference of their medians is the tracing overhead
            traced = bool(args.trace) and (pass_no - WARMUP_PASSES) % 2 == 1
            timed += run_pass(pass_no, "traced" if traced else "untraced")
            pass_no += 1
        region_s = time.perf_counter() - t_region
        steal = cpu_steal_share(stat0, proc_stat_cpu())
        untraced = [p for p in passes if p[0] == "untraced"]
        walls = {k: [p[2] for p in passes if p[0] == k] for k in ("untraced", "traced")}

        extra_counts = {}
        traced_passes = [p for p in range(WARMUP_PASSES, pass_no)
                         if (p - WARMUP_PASSES) % 2 == 1]
        if args.trace and isinstance(wl, AnalyticsCuration):
            last_traced = traced_passes[-1]
            extra_counts = dict(zip(("candidate_pairs", "verified_pairs"),
                                    wl.lsh_pair_counts(wl.corpus(last_traced))))
        if isinstance(wl, EtlBatch):
            out_bytes = sum(wl.output_bytes(r.result) for r in timed if r.ok)
        failed = wl.check(records)
    finally:
        stop_spark(spark)
    peak_mb = rss.stop()

    for i in sorted(failed):
        print(f"FAILED {records[i].name} (pass {records[i].pass_no}): {records[i].problems}",
              file=sys.stderr)
    attempted = len(records)
    print(f"workload {args.workload} seed {args.seed}: inputs {inputs.rows} rows, "
          f"{inputs.bytes} bytes generated in {gen_s:.2f} s; session start {session_s:.2f} s; "
          f"ready after {setup_wall_s:.2f} s wall, {setup_cpu_s:.2f} s CPU; "
          f"{WARMUP_PASSES} warm-up passes; {pass_no - WARMUP_PASSES} timed passes, "
          f"{len(timed)} timed ops in {region_s:.2f} s; "
          f"hypervisor stole {100 * steal:.1f}% of the CPUs meanwhile")
    for name, t in sorted(inputs.tables.items()):
        print(f"  input {name}: {t['rows']} rows, {t['bytes']} bytes")
    by_op: dict[str, list[Record]] = {}
    for r in records:
        by_op.setdefault(r.name, []).append(r)
    for name, recs in by_op.items():
        rest = [r for r in recs if r.pass_no >= WARMUP_PASSES]
        print(f"  op {name}: first {recs[0].seconds:.3f} s wall / {recs[0].cpu_s:.3f} s CPU; "
              f"timed median {statistics.median(r.seconds for r in rest):.3f} s wall"
              f" / {statistics.median(r.cpu_s for r in rest):.3f} s CPU over {len(rest)}")

    if args.trace:
        for k, v in extra_counts.items():
            tracer.note(f"operators.dedup.{k}", v)
        values = tracer.layer_metrics([f"pass{p}" for p in traced_passes], walls)
        if isinstance(wl, EtlBatch):
            landed = sum(r.in_bytes for r in records if r.pass_no in traced_passes)
            values["io.out_bytes_per_in_byte"] = (
                values["io.bytes_written"] * len(traced_passes) / landed
            )
        units = per_layer_metric_units()
        spans = HERE / "_work" / "spans" / f"{args.workload}-s{args.seed}.json"
        tracer.dump(spans)
        print(f"  {len(tracer.spans)} spans written to {spans.relative_to(repo)}")
    else:
        # wall-clock and memory figures are printed for reading, not gated: see README
        print(f"  wall_s = {statistics.median(p[2] for p in untraced):.6g} s (median pass)")
        print(f"  rows_per_s = {statistics.median(p[1] / p[2] for p in untraced):.6g} 1/s")
        print(f"  op_p50_s = {statistics.median(r.seconds for r in timed):.6g} s")
        print(f"  error_rate = {len(failed) / attempted:.6g} ratio")
        print(f"  peak_rss_mb = {peak_mb:.6g} MB")
        if isinstance(wl, EtlBatch):
            landed = sum(r.in_bytes for r in timed)
            print(f"  out_bytes_per_in_byte = {out_bytes / landed:.6g} ratio")
        values = {
            "setup_s": setup_cpu_s,
            "pass_cpu_s": statistics.median(p[3] for p in untraced),
            "rows_per_cpu_s": statistics.median(p[1] / p[3] for p in untraced),
            # ops differ in cost by up to 8x, so a median over all of them
            # jumps between ops; each op's own median is steady
            "op_gmean_cpu_s": statistics.geometric_mean(
                statistics.median(r.cpu_s for r in recs if r.pass_no >= WARMUP_PASSES)
                for recs in by_op.values()
            ),
            "success_rate": 1.0 - len(failed) / attempted,
        }
        units = END_TO_END_UNITS
    for name in units:
        print(f"  {name} = {values[name]:.6g} {units[name]}")
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
