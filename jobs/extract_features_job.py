"""spark-submit entrypoint for the transcript feature-engineering job.

Cluster usage (the north-rule deployment shape):

    python scripts/package.py                         # → dist/engine.zip
    spark-submit --py-files dist/engine.zip \\
        jobs/extract_features_job.py \\
        --input  <parquet dir or table of transcripts> \\
        --context <parquet dir of context events>      \\
        --warehouse <output root>                      \\
        --job-id nightly-2026-08-16 --batches 64

Local smoke (this sandbox):

    PYTHONPATH=/root/repo python jobs/extract_features_job.py \\
        --generate 50000 --warehouse /tmp/ft_wh --job-id smoke --batches 4

The job is resumable: re-submitting with the same --job-id after a
failure skips committed batches (engine/runner.py). On a cluster, set
--batches so one batch ≈ what the cluster comfortably re-runs on
failure (10^12 turns / 64 batches ≈ 1.6×10^10 turns per commit).
Master/executor topology comes from spark-submit, not from code.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts parquet path (or omit with --generate)")
    ap.add_argument("--context", help="context-events parquet path")
    ap.add_argument("--generate", type=int, default=0,
                    help="synthesize N turns instead of reading --input (smoke)")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--job-id", required=True)
    ap.add_argument("--batches", type=int, default=16)
    ap.add_argument("--session-gap-s", type=float, default=None)
    ap.add_argument("--roll-window-s", type=float, default=None)
    ap.add_argument("--vocab", default=None,
                    help="comma-separated tool vocabulary (catalog stat); "
                    "omit to discover it with one narrow column scan")
    ap.add_argument("--max-error-ratio", type=float, default=None,
                    help="data-quality circuit breaker: abort (batch "
                    "uncommitted, job resumable) when a batch "
                    "quarantines more than this fraction of its input")
    ap.add_argument("--isolate-hot", action="store_true",
                    help="route sampled zipf-hot conversations into their "
                    "own batch (uniform hash-batch runtimes; per-hot-key "
                    "commit + lineage)")
    ap.add_argument("--lineage", nargs="?", const="all", default=None,
                    metavar="RUN_ID",
                    help="audit mode: print the per-FILE lineage manifest "
                    "records (run_id, file, rows, bytes, ts watermarks, "
                    "replaced) as JSON lines for RUN_ID — or, with no "
                    "value, for every run of --job-id — then exit without "
                    "running the job. This is the operator-visible surface "
                    "of the per-partition lineage committed with each "
                    "snapshot.")
    ap.add_argument("--lineage-table", default="features",
                    help="table targeted by --lineage/--compact/"
                    "--expire-replaced (features|errors)")
    ap.add_argument("--incremental", action="store_true",
                    help="incremental mode: instead of batch-processing "
                    "--input, read only the snapshots of the warehouse's "
                    "source table (--source-table) committed since the "
                    "last processed watermark and append features for "
                    "just those rows (engine/runner.run_incremental; "
                    "watermark recovered from the features manifests, "
                    "crash replays idempotent). Pair with a streaming "
                    "ingest writing that table (stream_validated_ingest) "
                    "for a continuous ingest→features flow.")
    ap.add_argument("--source-table", default="turns",
                    help="warehouse table consumed by --incremental")
    ap.add_argument("--compact", action="store_true",
                    help="maintenance mode: rewrite the table's "
                    "committed snapshots into few files (small-files "
                    "pass; resume-safe), print the compaction manifest "
                    "summary, exit")
    ap.add_argument("--expire-replaced", action="store_true",
                    help="maintenance mode: physically delete data "
                    "files of compacted-away snapshots (storage "
                    "reclamation; keeps resume skipping them), print "
                    "the reclamation summary, exit")
    args = ap.parse_args()
    if args.vocab is not None and not any(args.vocab.split(",")):
        # an empty vocab would blank every top_tools row
        ap.error("--vocab needs at least one tool")

    from pyspark.sql import SparkSession

    from engine.runner import run_resumable
    from engine.session import build_session
    from engine.tableio import TableIO

    # under spark-submit a session already exists with the cluster's
    # master; standalone we build local[*]
    active = SparkSession.getActiveSession()
    spark = active or build_session(app_name=f"extract-features-{args.job_id}")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    if args.compact or args.expire_replaced:
        io = TableIO(args.warehouse)
        if args.compact:
            m = io.compact(spark, args.lineage_table)
            print(json.dumps({
                "compacted": args.lineage_table, "run_id": m["run_id"],
                "n_files": m["n_files"], "total_rows": m["total_rows"],
                "replaces": m.get("replaces", []),
            }))
        if args.expire_replaced:
            print(json.dumps(io.expire_replaced(args.lineage_table)))
        return

    if args.lineage is not None:
        from pyspark.sql import functions as F

        io = TableIO(args.warehouse)
        lin = io.lineage(spark, args.lineage_table)
        if args.lineage == "all":
            lin = lin.filter(F.col("run_id").startswith(args.job_id))
        else:
            lin = lin.filter(F.col("run_id") == args.lineage)
        for row in lin.orderBy("run_id", "file").collect():
            print(json.dumps(row.asDict()))
        return

    # pipeline options, shared by batch and incremental mode
    kwargs = {}
    if args.session_gap_s is not None:
        kwargs["session_gap_s"] = args.session_gap_s
    if args.roll_window_s is not None:
        kwargs["roll_window_s"] = args.roll_window_s
    if args.vocab is not None:
        kwargs["vocab"] = [t for t in args.vocab.split(",") if t]

    if args.incremental:
        from engine.runner import run_incremental

        io = TableIO(args.warehouse)
        context = spark.read.parquet(args.context) if args.context else None
        summary = run_incremental(
            spark, io, args.job_id, source_table=args.source_table,
            context=context, **kwargs,
        )
        json.dump(summary, sys.stdout)
        print()
        return

    if args.generate:
        from engine.generate import generate_context_events, generate_transcripts
        from engine.schema import CONTEXT_SCHEMA, TRANSCRIPT_SCHEMA

        tp = generate_transcripts(n_convs=max(200, args.generate // 40), seed=42)
        cp = generate_context_events(tp, seed=43)
        transcripts = spark.createDataFrame(tp, TRANSCRIPT_SCHEMA)
        context = spark.createDataFrame(cp, CONTEXT_SCHEMA)
    else:
        if not args.input:
            ap.error("--input or --generate required")
        transcripts = spark.read.parquet(args.input)
        context = spark.read.parquet(args.context) if args.context else None

    io = TableIO(args.warehouse)
    summary = run_resumable(
        spark, transcripts, context, io,
        job_id=args.job_id, n_batches=args.batches,
        isolate_hot=args.isolate_hot,
        max_error_ratio=args.max_error_ratio, **kwargs,
    )
    json.dump(summary, sys.stdout)
    print()


if __name__ == "__main__":
    main()
