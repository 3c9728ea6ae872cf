"""The benchmark's own tests: output schema, generators, and that each
correctness gate, and an over-capacity live phase, makes the command fail.

    python3 -m pytest perfbench -q

The gate tests run the benchmark end to end (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import datagen, run  # noqa: E402

EXPECTED_METRICS = {
    "setup_s": "s", "sweep_s": "s", "op_geomean_s": "s", "op_p50_s": "s",
    "op_p75_s": "s", "peak_rss_mb": "MB",
}


def test_schema_matches_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END == EXPECTED_METRICS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_generators_are_seeded(tmp_path):
    for d in ("a", "b"):
        datagen.write_tables(str(tmp_path / d), seed=7, sf=0.001)
    for f in (tmp_path / "a").iterdir():
        assert f.read_bytes() == (tmp_path / "b" / f.name).read_bytes(), f.name
    one = datagen.StreamFiles(3, 20, 0, late_from=1)
    two = datagen.StreamFiles(3, 20, 0, late_from=1)
    files = [one.render(k) for k in range(3)]
    assert [f.text for f in files] == [two.render(k).text for k in range(3)]
    assert files[0].late == 0 and sum(f.late for f in files[1:]) > 0
    assert len(one.records) == 3 * 20 * 5


def _run(workload: str, fault: str | None, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    env = dict(os.environ)
    env.pop("PERFBENCH_FAULT", None)
    if fault:
        env["PERFBENCH_FAULT"] = fault
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "4", "--trace", "0"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["relational", "alert_stream"])
def test_clean_run_passes_and_prints_every_metric(workload):
    proc = _run(workload, None)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = _result(proc)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == EXPECTED_METRICS
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize(
    "workload,fault,gate",
    [("relational", "batch_result", '"q1_pricing_summary"'),
     ("alert_stream", "drop_alert", '"alerts"'),
     ("alert_stream", "extra_malformed", '"parse_dropped"'),
     ("alert_stream", "overload", '"over_capacity"')],
)
def test_gate_fires(workload, fault, gate):
    proc = _run(workload, fault)
    assert proc.returncode == 1, proc.stderr[-2000:]
    out = _result(proc)
    assert out["correct"] is False and out["failed"] >= 1
    assert gate in proc.stderr  # the run's failures, printed by name


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("relational", None, cwd=tmp_path)
    assert proc.returncode not in (0, None)
    assert '"correct"' not in proc.stdout
