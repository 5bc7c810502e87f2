"""Scale probe for the incremental dedup and incremental IVF paths:
one measured datapoint each at >= 10^6 rows across >= 5 epochs, backing the "committed band/centroid state stays
bounded" claim with per-epoch wall clock and state growth.

Data is generated DISTRIBUTED (spark.range — no driver lists):
- dedup: 5 epochs x 200k docs; ids group into cliques of 5 sharing a
  20-token text (4 exact copies + 1 near-copy with one token changed),
  so every epoch both creates new clusters and extends committed ones
  across epoch boundaries.
- ann: 5 epochs x 200k vectors, dim 16, 8 planted centers with
  deterministic jitter; epoch 1 trains (Lloyd's), later epochs assign
  against the committed snapshot (same distribution -> no drift
  retrain at the default factor).

Usage: python scripts/incremental_scale_probe.py [--rows-per-epoch N]
Emits one JSON line; paste into BENCH.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def dedup_leg(spark, n_epoch: int, rows: int) -> dict:
    from engine.operators.dedup_incremental import (
        dedup_keep_list,
        ingest_dedup_increment,
    )
    from engine.tableio import TableIO

    scratch = os.path.join(tempfile.gettempdir(), "inc_scale_dedup")
    shutil.rmtree(scratch, ignore_errors=True)
    io = TableIO(scratch)
    epochs = []
    for e in range(n_epoch):
        docs = (
            spark.range(e * rows, (e + 1) * rows)
            .select(
                F.col("id").alias("doc_id"),
                # token windows are stride-1009 per clique (window
                # width 20 << stride), so shingle sets NEVER overlap
                # across cliques — band buckets stay clique-sized. A
                # first draft used overlapping windows (stride 7) and
                # the corpus-wide shared min-shingles collapsed every
                # band bucket together: the candidate join exploded
                # quadratically. Good LSH probes need non-degenerate
                # signatures.
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sequence(F.lit(0), F.lit(19)),
                        lambda j: F.concat(
                            F.lit("t"),
                            (
                                ((F.col("id") - F.col("id") % 5) * 1009 + j)
                                % 2_000_000_011
                                # the clique's 5th member changes token 0
                                + F.when(
                                    (F.col("id") % 5 == 4) & (j == 0),
                                    F.lit(3_000_000_000),
                                ).otherwise(0)
                            ).cast("string"),
                        ),
                    ),
                ).alias("text"),
            )
        )
        t0 = time.time()
        r = ingest_dedup_increment(
            spark, io, docs, run_id=f"epoch{e}", threshold=0.5
        )
        epochs.append(
            {"epoch": e, "wall_s": round(time.time() - t0, 2),
             "status": r["status"], "rep_rows": r["rep_rows"]}
        )
    t0 = time.time()
    n_keep = dedup_keep_list(spark, io).count()
    keep_s = round(time.time() - t0, 2)
    out = {
        "epochs": epochs,
        "keep_rows": n_keep,
        "keep_wall_s": keep_s,
        "state_bytes": _du(scratch),
        "total_docs": n_epoch * rows,
    }
    shutil.rmtree(scratch, ignore_errors=True)
    return out


def ann_leg(spark, n_epoch: int, rows: int, dim: int = 16, k: int = 8) -> dict:
    from engine.operators.ann_incremental import (
        ingest_ann_increment,
        latest_assignment,
    )
    from engine.tableio import TableIO

    scratch = os.path.join(tempfile.gettempdir(), "inc_scale_ann")
    shutil.rmtree(scratch, ignore_errors=True)
    io = TableIO(scratch)
    epochs = []
    for e in range(n_epoch):
        vecs = spark.range(e * rows, (e + 1) * rows).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: (
                    (F.col("id") % k).cast("double") * F.when(j == F.col("id") % k, 10.0).otherwise(1.0)
                    + ((F.col("id") * 31 + j) % 1000).cast("double") / 2000.0
                ),
            ).alias("embedding"),
        )
        t0 = time.time()
        r = ingest_ann_increment(spark, io, vecs, run_id=f"epoch{e}", k=k,
                                 max_iter=5)
        epochs.append(
            {"epoch": e, "wall_s": round(time.time() - t0, 2),
             "status": r["status"], "assign_rows": r["assign_rows"],
             "epoch_mse": round(r.get("epoch_mse", 0.0), 4)}
        )
    t0 = time.time()
    n_assign = latest_assignment(spark, io).count()
    out = {
        "epochs": epochs,
        "assign_rows_final": n_assign,
        "assign_wall_s": round(time.time() - t0, 2),
        "state_bytes": _du(scratch),
        "total_vecs": n_epoch * rows,
    }
    shutil.rmtree(scratch, ignore_errors=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows-per-epoch", type=int, default=200_000)
    ap.add_argument("--epochs", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--leg", choices=["dedup", "ann", "both"], default="both")
    args = ap.parse_args()

    from bench import bracket
    from engine.session import build_session

    spark = build_session(
        app_name="incremental-scale-probe", master=f"local[{args.cpus}]"
    )
    spark.sparkContext.setLogLevel("ERROR")
    result = {"rows_per_epoch": args.rows_per_epoch, "epochs": args.epochs,
              "cpus": args.cpus}
    # spin rate and host steal fraction around the legs (host weather)
    with bracket(result):
        if args.leg in ("dedup", "both"):
            result["dedup"] = dedup_leg(spark, args.epochs, args.rows_per_epoch)
        if args.leg in ("ann", "both"):
            result["ann"] = ann_leg(spark, args.epochs, args.rows_per_epoch)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
