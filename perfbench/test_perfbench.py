"""Tests of the benchmark itself, on tiny inputs (``--smoke``).

    python3 -m pytest perfbench/test_perfbench.py -q

Each case starts its own Spark driver, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
#: report lines each workload prints, named as users of the pipeline know them
REPORTED = {
    "ingest_small_batch": ("msgs_per_s", "cycle_p50_s", "stored_bytes_per_msg_byte"),
    "query_mix": ("query_p50_s", "query_p90_s", "mix_pass_s"),
}
COMMON = ("setup_s", "peak_rss_mb", "failed_ratio")


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_printed_once_with_unit(workload, trace):
    p = bench("--workload", workload, "--trace", trace, "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace == "1" else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    report = [ln.split() for ln in lines[:-1] if ln.startswith(f"perfbench {workload} ")]
    names = [parts[2] for parts in report]
    for name in (*REPORTED[workload], *COMMON):
        assert names.count(name) == 1, (name, names)
    assert all(len(parts) >= 5 for parts in report), report  # value and unit
    if trace == "1":
        assert any(ln.startswith("perfbench traced end_to_end ") for ln in lines)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_broken_output_check_is_a_failure(workload):
    p = bench("--workload", workload, "--trace", "0", "--smoke", "--break-check")
    assert p.returncode != 0
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is False and result["failed"] >= 1


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = bench("--workload", WORKLOADS[0], "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert not any(ln.startswith("{") for ln in p.stdout.splitlines())
