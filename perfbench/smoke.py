#!/usr/bin/env python3
"""Smoke test of the benchmark's own code, at tiny scale.

    python3 perfbench/smoke.py [workload ...]

For each workload (default: all of them) two tiny runs, one after the
other:

- clean, untraced: the checks pass and every end-to-end metric of
  BENCHMARK.json is reported, with a positive value;
- corrupted (--corrupt), traced: every per-layer metric is reported and
  the corrupted output is counted, so ops_failed_frac > 0.

Exits 1 if any run breaks these rules. Takes about ten minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("flagship_batch", "commit_job", "gate_queries")


def run(workload: str, trace: int, corrupt: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "5",
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    if corrupt:
        cmd.append("--corrupt")
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        raise RuntimeError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def problems(result: dict, wanted: list[dict], corrupt: bool) -> list[str]:
    out = []
    metrics = result["metrics"]
    if sorted(metrics) != sorted(m["name"] for m in wanted):
        out.append(f"metrics {sorted(metrics)} are not those of BENCHMARK.json")
    if corrupt:
        if result["correct"] or result["failed"] == 0:
            out.append("a corrupted output passed the checks")
        if not metrics.get("ops_failed_frac", {}).get("value"):
            out.append("ops_failed_frac is not > 0 on a corrupted output")
    else:
        if not result["correct"] or result["failed"]:
            out.append(f"checks failed: {result['failed']} of {result['attempted']}")
        out += [f"{k} = {v['value']}" for k, v in metrics.items() if not v["value"] or v["value"] <= 0]
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = 0
    for workload in sys.argv[1:] or WORKLOADS:
        for trace, corrupt, wanted in ((0, False, spec["end_to_end"]), (1, True, spec["per_layer"])):
            label = f"{workload} {'corrupted, traced' if corrupt else 'clean, untraced'}"
            found = problems(run(workload, trace, corrupt), wanted, corrupt)
            bad += bool(found)
            print(f"{'FAIL' if found else 'ok'}  {label}" + "".join(f"\n      {p}" for p in found))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
