#!/usr/bin/env python
"""Per-query isolation bench (optimization guide §1.1/§1.4).

NOT the driver's bench (bench.py is frozen): this harness times a
subset of __spark_entry__.queries() with the noop sink, labels each
job, and optionally captures .explain("formatted") output so plan
claims in OPTIMIZATION_r06.md are reproducible. Each rep reports the
builder call (`build_s`: incremental queries ingest their epochs
there) and the noop action (`exec_s`) apart.

Usage:
  python bench_extra.py --queries doc_contamination13 --reps 3 \
      --explain-dir plans/r06 --suffix before
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument(
        "--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    ap.add_argument("--queries", required=True, help="comma-separated subset")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    from engine.session import build_session

    spark = build_session(
        app_name=f"bench_extra-local[{args.cpus}]", master=f"local[{args.cpus}]"
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    only = args.queries.split(",")
    qs = entrymod.queries()
    out: dict[str, dict[str, list[float]]] = {}
    for name in only:
        fn = qs[name]
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            plan = fn(spark, args.sf_dir)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(
                os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as f:
                f.write(plan)
        times = {"build_s": [], "exec_s": []}
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} [{args.suffix}]")
            t0 = time.perf_counter()
            df = fn(spark, args.sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times["build_s"].append(round(t1 - t0, 3))
            times["exec_s"].append(round(time.perf_counter() - t1, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = times
    print(json.dumps({"sf_dir": args.sf_dir, "cpus": args.cpus, "times": out}))
    spark.stop()


if __name__ == "__main__":
    main()
