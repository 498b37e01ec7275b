"""Tracing overhead: run each workload untraced and traced on one seed and
print, per end-to-end metric, the traced value minus the untraced one.

    python3 perfbench/overhead.py --seed 5 [--workload query_mix]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TRACED_PREFIX = "perfbench traced end_to_end "


def end_to_end(workload: str, seed: int, seconds: int, trace: int) -> dict[str, float]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if p.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} failed:\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    if trace:
        line = next(ln for ln in lines if ln.startswith(TRACED_PREFIX))
        metrics = json.loads(line[len(TRACED_PREFIX):])
    else:
        metrics = json.loads(lines[-1])["metrics"]
    return {k: v["value"] for k, v in metrics.items()}


def main() -> None:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, default=5)
    p.add_argument("--workload", action="append", choices=[w["name"] for w in spec["workloads"]])
    args = p.parse_args()
    for workload in args.workload or [w["name"] for w in spec["workloads"]]:
        plain = end_to_end(workload, args.seed, spec["run_seconds"], 0)
        traced = end_to_end(workload, args.seed, spec["run_seconds"], 1)
        for m in spec["end_to_end"]:
            name = m["name"]
            delta = traced[name] - plain[name]
            print(f"{workload} {name} untraced={plain[name]:.6g} traced={traced[name]:.6g} "
                  f"overhead={delta:+.6g} {m['unit']} ({delta / plain[name]:+.1%})")


if __name__ == "__main__":
    main()
