"""The benchmark's own tests: seeded inputs, metric names, smoke runs.

    python -m pytest perfbench/tests -q      # from the repository root

The smoke runs start a Spark session each (about a minute apiece).
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
REPO = BENCH.parent
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from tracer import per_layer_metric_units  # noqa: E402

SPEC = json.loads((REPO / "BENCHMARK.json").read_text())


def _tree_digest(root: Path) -> dict[str, str]:
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*")) if p.is_file()
    }


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_generator_is_deterministic(tmp_path, workload):
    a = gen.generate(workload, tmp_path / "a", seed=5, scale=0.05)
    b = gen.generate(workload, tmp_path / "b", seed=5, scale=0.05)
    c = gen.generate(workload, tmp_path / "c", seed=6, scale=0.05)
    assert _tree_digest(tmp_path / "a") == _tree_digest(tmp_path / "b")
    assert _tree_digest(tmp_path / "a") != _tree_digest(tmp_path / "c")
    assert a.tables == b.tables and a.rows > 0 and a.bytes > 0
    assert json.dumps(a.truth, sort_keys=True).replace("/a/", "/b/") == json.dumps(
        b.truth, sort_keys=True
    )


def test_etl_truth_has_planted_changes_and_violations(tmp_path):
    truth = gen.generate("etl_batch", tmp_path, seed=1, scale=0.1).truth
    assert truth["inserts"] > 0 and truth["updates"] > 0
    assert truth["inserts"] + truth["updates"] < truth["incoming"]  # re-sends are not deltas
    assert truth["dq"]["nn_priority"] > 0 and truth["dq"]["neg_price"] > 0


def test_metric_names_match_benchmark_json():
    assert {w["name"] for w in SPEC["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == per_layer_metric_units()
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


def _run(workload: str, trace: int, cwd: Path = REPO) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=cwd, capture_output=True, text=True, timeout=300, check=False,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def test_smoke_etl_batch_untraced():
    code, lines = _run("etl_batch", trace=0)
    result = json.loads(lines[-1])
    assert code == 0, lines
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    metrics = result["metrics"]
    assert set(metrics) == set(run.END_TO_END_UNITS)
    assert metrics["success_rate"]["value"] == 1.0  # error rate 0
    assert all(m["value"] > 0 for m in metrics.values())


def test_smoke_etl_batch_traced():
    code, lines = _run("etl_batch", trace=1)
    result = json.loads(lines[-1])
    assert code == 0, lines
    assert result["correct"] and result["failed"] == 0
    metrics = {k: m["value"] for k, m in result["metrics"].items()}
    assert set(metrics) == set(per_layer_metric_units())
    for layer in ("io", "plans", "expr", "operators.flatten", "operators.cdc", "dq"):
        assert metrics[f"{layer}.calls"] > 0, layer
        # expr only builds expressions on the driver
        assert (metrics[f"{layer}.spark_jobs"] > 0) == (layer != "expr"), layer
    assert metrics["plans.compile_s"] > 0 and metrics["expr.compile_s"] > 0
    assert 0 < metrics["operators.cdc.changed_frac"] < 1  # re-sent orders are not deltas
    assert metrics["dq.rules"] == 3
    assert metrics["operators.flatten.child_tables"] >= 2  # events + items
    assert metrics["io.bytes_written"] > 0 and metrics["io.files_written"] > 0
    assert metrics["io.out_bytes_per_in_byte"] > 0
    assert metrics["trace.overhead_s"] > 0


def test_smoke_analytics_curation_traced():
    code, lines = _run("analytics_curation", trace=1)
    result = json.loads(lines[-1])
    assert code == 0, lines
    assert result["correct"] and result["failed"] == 0
    metrics = result["metrics"]
    assert set(metrics) == set(per_layer_metric_units())
    for layer in ("tables", "operators.text", "operators.dedup", "operators.similarity",
                  "operators.graph", "operators.relational"):
        assert metrics[f"{layer}.calls"]["value"] > 0, layer
    assert metrics["operators.dedup.candidate_pairs"]["value"] >= 1
    assert 0 < metrics["operators.dedup.verified_frac"]["value"] <= 1
    assert 0 < metrics["operators.similarity.recall_at_k"]["value"] <= 1


def test_fails_without_the_package(tmp_path):
    shutil.copy(REPO / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__", "tests"))
    code, lines = _run("etl_batch", trace=0, cwd=tmp_path)
    assert code != 0
    assert not any(line.startswith("{") for line in lines)
