"""Smoke test of the benchmark at tiny size.

    python3 -m pytest perfbench/tests -q

Runs every workload once with ``--tiny`` (sf0.001 tables, a short live
window, a short backlog) and checks the output contract, then checks that a
planted wrong output is counted as a failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_every_end_to_end_metric_printed_with_unit(workload):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", "0", "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_planted_missing_alert_is_a_failure(tmp_path):
    from alerts import _check
    from gen import expected_table

    alerts = [
        {"file": "f-00000.csv", "due_ms": 1000, "user_id": "u1", "warning": "simple"},
        {"file": "f-00000.csv", "due_ms": 1000, "user_id": "u2", "warning": "critical"},
        {"file": "f-00001.csv", "due_ms": 1100, "user_id": "u1", "warning": "critical"},
    ]
    table = expected_table(alerts)
    assert table["u1"]["warning"] == "critical"  # the later alert wins

    def window(rows):
        out = tmp_path / f"sink{len(rows)}"
        out.mkdir()
        with open(out / "table.jsonl", "w") as f:
            for r in rows:
                f.write(json.dumps(r, sort_keys=True) + "\n")
        return {"expected": {"alerts": alerts}, "out": str(out), "missing": 0}

    assert _check(window(list(table.values())))[:2] == (3, 0)
    del table["u2"]  # one alert deleted from the sink before the check
    attempted, failed, _ = _check(window(list(table.values())))
    assert (attempted, failed) == (3, 1)
    assert failed / attempted > 0
