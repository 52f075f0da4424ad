"""Smoke tests of the benchmark itself: every workload at sf0.001 with
the shortest length, untraced and traced.

    python3 -m pytest perfbench/test_smoke.py -q

Each case is one full benchmark process (about 40 s).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import declared_metrics  # noqa: E402

PRINTED_ALWAYS = ("op_tail_s", "failed_frac")
PRINTED_ETL = ("backfill_s", "read_p50_s", "stored_bytes_per_day")


def _run(workload: str, trace: int) -> tuple[list[str], dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["catalog", "daily_etl"])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_with_unit_and_nothing_failed(workload, trace):
    lines, result = _run(workload, trace)
    declared = declared_metrics()["per_layer" if trace else "end_to_end"]

    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert result["metrics"].keys() == declared.keys()
    for name, m in result["metrics"].items():
        assert m["unit"] == declared[name]
        assert isinstance(m["value"], (int, float)) and m["value"] >= 0

    printed = {}
    for line in lines:
        if m := re.match(r"metric (\S+) = (\S+) (\S+)", line):
            printed[m[1]] = (float(m[2]), m[3])
    expected = set(declared_metrics()["end_to_end"]) | set(PRINTED_ALWAYS)
    if workload == "daily_etl":
        expected |= set(PRINTED_ETL)
    assert expected <= printed.keys()
    assert printed["failed_frac"][0] == 0
    assert any(re.search(r"op_tail_s = .*\(p\d+, n=\d+ warm ops\)", ln) for ln in lines)
    assert any(ln.startswith("host nproc=") and "calibration_s=" in ln for ln in lines)
    if trace:
        assert any(ln.startswith("op wall time not covered") for ln in lines)


def test_fails_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    run must exit non-zero without printing a result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "catalog", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
