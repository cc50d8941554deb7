"""Smoke test of the benchmark: every workload at sf0.001 with one short warm
pass (two when traced), checking the result line against BENCHMARK.json.

    python3 -m pytest perfbench/test_smoke.py -q
"""

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_one_short_pass(workload, trace, tmp_path):
    record = tmp_path / "run.json"
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "3", "--seconds", "0",
           "--trace", str(trace), "--scale", "smoke", "--out", str(record)]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = [json.loads(line) for line in proc.stdout.splitlines()]  # stdout holds JSON lines only
    result = lines[-1]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {m["name"]: m["unit"] for m in declared}
    assert all(isinstance(m["value"], (int, float)) for m in result["metrics"].values())
    rec = json.loads(record.read_text())
    assert len(rec["warm"]) == 1 + trace and rec["sf"] == "sf0.001"
    if trace:
        layers = result["metrics"]
        assert layers["spark.jobs"]["value"] > 0 and layers["catalyst.planning_ms"]["value"] > 0
        if workload == "interactive_mix":
            assert layers["server.requests"]["value"] > 0 and layers["writes.files_written"]["value"] > 0
        if workload == "batch":
            assert layers["queries.build_ms"]["value"] > 0 and layers["exec.python_rows"]["value"] > 0
            assert layers["dialect.translate_ms"]["value"] > 0 and layers["exec.scan_rows"]["value"] > 0


def test_fails_without_the_program(tmp_path):
    """Run from a copy holding only BENCHMARK.json and perfbench/: no result, non-zero exit."""
    import shutil

    shutil.copy(HERE.parent / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".run", "__pycache__"))
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "batch", "--seed", "1",
                           "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0 and proc.stdout == ""
