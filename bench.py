#!/usr/bin/env python
"""Benchmark CLI: the gate queries, the flagship pipeline and its
N vs 4N scaling, on this host.

Runs at local[N], N = $SPARK_GRAFT_CPUS or the CPU affinity count and
never more than the affinity count, with the driver heap sized from
the host's RAM (perfbench/harness.py `host_config`). Three legs:

- queries: each `__spark_entry__.queries()` entry at --sf-dir, --reps
  times, the builder call and the noop action timed apart
  (incremental queries ingest their epochs in the builder);
  --explain-dir writes each query's formatted plan.
- flagship: `extract_features` over --turns generated turns (whole
  conversations, so up to one conversation more) read from
  parquet, --reps times with the plan rebuilt each rep (a reused plan
  reuses its shuffle files), each rep in a Tracer span for its
  shuffle, spill and failed tasks.
- scaling: the same flagship on the same parquet input in fresh
  sessions at local[max(1, N//4)] and local[N]; the paper's criterion
  is efficiency = (tp_N / tp_lo) / (N / lo) >= 0.8.

Each leg is bracketed by a single-core spin rate and the host's CPU
steal fraction over the leg: a slow record taken while co-tenants held
the CPUs says so itself.

Prints ONE JSON line:
  {"metric": "total_bench_seconds", "value": <sum of "queries">,
   "unit": "sec", "queries": {name: median action s, ...,
   "flagship_pipeline": s}, "sf": ..., "flagship": {...},
   "scaling": {...}, "host": {...}, ...}

Usage:
  python bench.py                              # every query, defaults
  python bench.py --queries lag_lead,rolling --reps 3 --explain-dir plans/x
  python bench.py --sf-dir <sf dir> --turns 4000 --reps 1
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import tempfile
import time
from concurrent.futures import ProcessPoolExecutor
from contextlib import contextmanager
from multiprocessing import get_context

from perfbench.harness import Tracer, host_config, host_ticks, spin_rate, stop_jvm
from perfbench.run import git_sha


def parse_sf(sf_dir: str) -> float | None:
    """Scale factor from a directory named `...sf<number>`, else None."""
    m = re.search(r"sf(\d+(\.\d+)?)$", sf_dir.rstrip("/"))
    return float(m.group(1)) if m else None


@contextmanager
def bracket(rec: dict):
    """Spin rate before and after, and the host's steal fraction over
    the body, into `rec`."""
    rec["spin_before"] = spin_rate()
    steal0, total0 = host_ticks()
    yield rec
    steal1, total1 = host_ticks()
    rec["steal_frac"] = round((steal1 - steal0) / max(1, total1 - total0), 4)
    rec["spin_after"] = spin_rate()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def session(cores: int):
    from engine.session import build_session

    spark = build_session(app_name=f"bench-local[{cores}]", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    # start the Python workers, which the first timed Arrow stage would
    # otherwise be charged (~2-3 s)
    noop(spark.range(64).repartition(cores).mapInPandas(lambda it: it, "id long"))
    return spark


def queries_leg(spark, sf_dir: str, builders: dict, reps: int, explain_dir: str | None) -> dict:
    out = {}
    for name, builder in builders.items():
        build_s, exec_s = [], []
        for rep in range(reps):
            t0 = time.perf_counter()
            df = builder(spark, sf_dir)
            t1 = time.perf_counter()
            noop(df)
            build_s.append(round(t1 - t0, 3))
            exec_s.append(round(time.perf_counter() - t1, 3))
            if explain_dir and rep == 0:
                plan = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
                with open(os.path.join(explain_dir, f"{name}.txt"), "w") as f:
                    f.write(plan)
        out[name] = {"build_s": build_s, "exec_s": exec_s}
    return out


def flagship_input(spark, n_turns: int, cpus: int, tmpdir: str) -> tuple[str, str, int]:
    """Transcript and context parquet (seeded), written once so that
    generation stays outside every timer. Whole conversations are kept
    until `n_turns` is reached, so the table overshoots it by less than
    one conversation. The text kernel runs at scan parallelism, so the
    transcripts are written as 4 files per CPU."""
    import numpy as np

    from engine.generate import generate_context_events, generate_transcripts
    from engine.schema import CONTEXT_SCHEMA, TRANSCRIPT_SCHEMA

    # the generator's conversations average ~30 turns with a heavy tail:
    # ask for ~1.5x the target and double until it is covered
    n_convs = n_turns // 20 + 8
    while len(tp := generate_transcripts(n_convs=n_convs, seed=42)) < n_turns:
        n_convs *= 2
    sizes = tp.groupby("conv_id").size().sort_index()
    keep = sizes.index[: int(np.searchsorted(sizes.cumsum().to_numpy(), n_turns)) + 1]
    tp = tp[tp["conv_id"].isin(keep)].reset_index(drop=True)
    cp = generate_context_events(tp, seed=43)
    tpath, cpath = os.path.join(tmpdir, "transcripts"), os.path.join(tmpdir, "context")
    spark.createDataFrame(tp, schema=TRANSCRIPT_SCHEMA).repartition(4 * cpus).write.parquet(tpath)
    spark.createDataFrame(cp, schema=CONTEXT_SCHEMA).write.parquet(cpath)
    return tpath, cpath, len(tp)


def flagship_leg(spark, cores: int, tpath: str, cpath: str, n_turns: int, reps: int) -> dict:
    """`reps` runs, each in a Tracer span, after an untimed warm-up on
    a slice (worker spawn and codegen). The span's wall time excludes
    the tracer's status-store reads."""
    from engine.generate import TOOLS
    from engine.pipeline import extract_features

    # the tool vocabulary is a catalog stat in production: passing it
    # keeps the discovery scan out of the plan
    vocab = list(TOOLS)
    t, c = spark.read.parquet(tpath), spark.read.parquet(cpath)
    noop(extract_features(spark, t.limit(20000), c.limit(5000), vocab=vocab)[0])
    tracer, spans, rec = Tracer(spark), [], {}
    with bracket(rec):
        for _ in range(reps):
            features = extract_features(spark, t, c, vocab=vocab)[0]
            with tracer.span("flagship") as s:
                noop(features)
            spans.append(s)
    rep_s = [round(s["wall_s"], 3) for s in spans]
    med = statistics.median(rep_s)
    return {"cores": cores, "turns": n_turns, "rep_s": rep_s, "seconds": round(med, 3),
            "turns_per_sec": round(n_turns / med, 1),
            "shuffle_bytes": [s["shuffle_bytes"] for s in spans],
            "spill_bytes": [s["spill_bytes"] for s in spans],
            "failed_tasks": tracer.failed_tasks, **rec}


def scaling_leg(cores: int, tpath: str, cpath: str, n_turns: int, reps: int) -> dict:
    """One leg in its own process and JVM: a second SparkContext in one
    Python process reuses UDFs bound to the first one's stopped
    accumulator server, and every task then logs a failed update."""
    spark = session(cores)
    try:
        return flagship_leg(spark, cores, tpath, cpath, n_turns, reps)
    finally:
        spark.stop()
        stop_jvm()


def run_bench(sf_dir: str, builders: dict, n_turns: int, reps: int,
              explain_dir: str | None) -> dict:
    host = host_config()
    cpus = min(int(os.environ.get("SPARK_GRAFT_CPUS", host["cpus"])), host["cpus"])
    host["affinity_cpus"], host["cpus"] = host["cpus"], cpus
    os.environ["SPARK_DRIVER_MEM"] = host["driver_mem"]
    if explain_dir:
        os.makedirs(explain_dir, exist_ok=True)

    spark = session(cpus)
    qrec: dict = {}
    with bracket(qrec):
        query_reps = queries_leg(spark, sf_dir, builders, reps, explain_dir)
    qtimes = {n: round(statistics.median(r["exec_s"]), 3) for n, r in query_reps.items()}

    with tempfile.TemporaryDirectory(prefix="bench-flagship-") as tmpdir:
        tpath, cpath, n_rows = flagship_input(spark, n_turns, cpus, tmpdir)
        flagship = flagship_leg(spark, cpus, tpath, cpath, n_rows, reps)
        qtimes["flagship_pipeline"] = flagship["seconds"]
        spark.stop()
        stop_jvm()

        lo = max(1, cpus // 4)
        with ProcessPoolExecutor(1, mp_context=get_context("spawn"), max_tasks_per_child=1) as ex:
            legs = {k: ex.submit(scaling_leg, c, tpath, cpath, n_rows, reps).result()
                    for k, c in (("lo", lo), ("hi", cpus))}
    eff = (legs["hi"]["turns_per_sec"] / legs["lo"]["turns_per_sec"]) / (cpus / lo)

    return {
        "metric": "total_bench_seconds",
        "value": round(sum(qtimes.values()), 3),
        "unit": "sec",
        "queries": qtimes,
        "sf": parse_sf(sf_dir),
        "sf_dir": sf_dir,
        "reps": reps,
        "git_sha": git_sha(),
        "queries_leg": {**qrec, "runs": query_reps},
        "flagship": flagship,
        "scaling": {**legs, "efficiency": round(eff, 3)},
        "host": host,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default=None, help="comma-separated subset (default: all)")
    ap.add_argument("--turns", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_BENCH_TURNS", "1000000")),
                    help="flagship transcript-table size target (rows)")
    ap.add_argument("--reps", type=int, default=3, help="timed reps of every query and leg")
    ap.add_argument("--explain-dir", default=None, help="write <query>.txt formatted plans here")
    args = ap.parse_args()
    if args.reps < 1:
        ap.error("--reps must be >= 1")

    import __spark_entry__ as entrymod

    builders = entrymod.queries()
    if args.queries:
        names = args.queries.split(",")
        unknown = sorted(set(names) - set(builders))
        if unknown:
            ap.error(f"unknown queries: {', '.join(unknown)}")
        builders = {n: builders[n] for n in names}
    result = run_bench(args.sf_dir, builders, args.turns, args.reps, args.explain_dir)
    print(json.dumps(result))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
