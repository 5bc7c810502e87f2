#!/usr/bin/env python3
"""Benchmark of the transcript feature engine.

    python3 perfbench/run.py --workload commit_job --seed 1 --seconds 20 --trace 0

Runs one workload on local[nproc] from the root of a checkout, checks
its outputs, and prints as the last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. The line before it is a self-describing record (host,
config, seed, rep counts, per-workload figures). Inputs, Spark scratch
and tables live in .perfbench_work/ and are removed at exit.

BENCHMARK.json lists commit_job and gate_queries. flagship_batch (the
read-only pipeline over 30k turns, noop sink) runs the same way but is
not listed: with commit_job it would not fit the time a full set of
benchmark runs may take on a 4-CPU host.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170


def code_digest() -> str:
    """sha1 over engine/ and __spark_entry__.py, for checkouts that
    are not git repositories."""
    h = hashlib.sha1()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, fs in os.walk(os.path.join(ROOT, "engine")):
        files += [os.path.join(d, f) for f in fs if f.endswith(".py")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None
    except OSError:
        return None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the smoke-test size")
    ap.add_argument("--corrupt", action="store_true",
                    help="perturb outputs before checking (proves checks bite)")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isfile(os.path.join(ROOT, "engine", "session.py")):
        print(f"perfbench: no engine/ next to {HERE}; run from a checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
    sys.path[:0] = [ROOT, HERE]

    import harness
    from workloads import WORKLOADS, Bench

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cfg = harness.host_config()
    os.environ["SPARK_DRIVER_MEM"] = cfg["driver_mem"]
    cfg["spin_Miter_s"] = harness.spin_rate()

    def timeout(*_):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, timeout)
    signal.alarm(DEADLINE_S)
    b = Bench(args, cfg, work)
    t0 = time.perf_counter()
    try:
        WORKLOADS[args.workload](b)
    except Exception as e:  # a crash is a failed operation, not a lost record
        b.attempted += 1
        b.failed += 1
        b.problems.append(f"{type(e).__name__}: {e}")
        traceback.print_exc(file=sys.stderr)
    finally:
        signal.alarm(0)
        try:
            if b.tracer is not None:
                b.layer["spark.failed_tasks"] = b.tracer.failed_tasks
            b.finish()
        finally:
            harness.stop_jvm()
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run is using it

    b.attempted = max(b.attempted, 1)
    b.layer["ops_failed_frac"] = b.failed / b.attempted
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = b.layer if args.trace else b.e2e
    metrics, missing = {}, []
    for m in wanted:
        v = source.get(m["name"])
        if v is None and args.trace:
            v = 0  # layer not exercised by this workload
        if v is None:
            missing.append(m["name"])
        metrics[m["name"]] = {"value": None if v is None else float(v), "unit": m["unit"]}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "git_sha": git_sha(), "code": code_digest(),
        "host": cfg, "shuffle_partitions": b.record.pop("shuffle_partitions", None),
        "wall_s": round(time.perf_counter() - t0, 2), **b.record,
        "ops_failed_frac": b.layer["ops_failed_frac"], "problems": b.problems[:10],
    }
    print("perfbench record " + json.dumps(record, default=str))
    print(json.dumps({
        "correct": b.failed == 0 and not missing,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
