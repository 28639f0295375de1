"""Self-tests for the benchmark: ``python3 -m pytest perfbench -q`` from the
repository root (about three minutes; the smoke runs start Spark)."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

from tracing import LAYER_MAP  # noqa: E402
from language_identification_spark.fixtures import build_pages  # noqa: E402
from workloads import SPECS, stage  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _staged_bytes(seed: int, path: Path) -> list[bytes]:
    stage(build_pages(300, seed), str(path))
    return [f.read_bytes() for f in sorted(path.glob("*.parquet"))]


def test_generator_is_deterministic_per_seed():
    tmp = ROOT / ".perfbench_work" / "selftest"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        first = _staged_bytes(5, tmp / "a")
        assert first == _staged_bytes(5, tmp / "b")
        assert first != _staged_bytes(6, tmp / "c")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_declared_workloads_and_layer_map():
    # docs_text runs under --workload all but is not declared: the runs of
    # three workloads would not fit the benchmark's time budget
    assert {w["name"] for w in BENCH["workloads"]} <= set(SPECS)
    assert {m["name"] for m in BENCH["per_layer"]} == set(LAYER_MAP)


def _smoke(trace: int) -> list[dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "all", "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    return [json.loads(line) for line in proc.stdout.splitlines() if line.startswith('{"correct"')]


@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_passes_checks_and_prints_declared_metrics(trace):
    results = _smoke(trace)
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert len(results) == len(SPECS)
    for res in results:
        assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
        assert {k: v["unit"] for k, v in res["metrics"].items()} == {
            m["name"]: m["unit"] for m in declared
        }
