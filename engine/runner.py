"""Resumable batched feature-extraction job.

Splits the input by a deterministic hash bucket of the entity key into
B independent batches; each batch runs the full pipeline and commits
its own snapshot (features + errors) with a run_id derived from
(job_id, batch). A killed run resumes by skipping committed batches —
exactly-once output with no recomputation of finished work.

This is the `spark-submit` entry shape for the 10^12-turn job: at that
scale one monolithic write is operationally hopeless; hash-bucketed
batches bound failure blast radius and give linear, lineage-tracked
progress (each snapshot manifest carries rows/bytes/watermark per
file). Buckets use the same key as the pipeline's internal repartition
(conv_id), so batching adds no extra shuffle skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from engine.pipeline import extract_features
from engine.tableio import TableIO


def batch_filter(entity_col: str, n_batches: int, batch: int) -> F.Column:
    """Deterministic bucket predicate (non-negative hash mod)."""
    return F.pmod(F.xxhash64(F.col(entity_col)), F.lit(n_batches)) == batch


def run_incremental(
    spark: SparkSession,
    io: TableIO,
    job_id: str,
    source_table: str = "turns",
    context: DataFrame | None = None,
    features_table: str = "features",
    errors_table: str = "errors",
    **pipeline_kwargs,
) -> dict:
    """Incremental feature extraction over NEW source snapshots only:
    read the rows of `source_table` snapshots committed since the last
    processed watermark (TableIO.read_since — the Iceberg
    incremental-append-scan analog),
    run the pipeline on just those rows, and append one features +
    errors snapshot for the increment. Each features manifest records
    the (lo, hi] commit_seq range it covered in `source_seq_lo/hi`, so
    the watermark is recovered from the features table itself — no
    side-channel state, and a crashed run resumes exactly (the
    deterministic run_id makes the replay an idempotent no-op).

    Contract: source snapshots must be CONVERSATION-ALIGNED — a
    conversation's turns never straddle a snapshot boundary that a
    later increment would cross (the realistic transcript-ingest shape:
    a conversation is committed after it ends). Under that contract a
    two-phase incremental run is row-identical to one batch run,
    because every pipeline feature is a within-conversation
    computation; the alignment is the caller's ingest discipline, the
    same way Iceberg incremental consumers assume append-only commits.

    Scale shape: cost per invocation is O(new rows), not O(table) —
    the manifest listing is the only whole-table metadata touched; no
    data file of an already-processed snapshot is opened."""
    done = {
        r: io.read_manifest(features_table, r)
        for r in io.committed_runs(features_table)
    }
    # Mode guard: the watermark is recovered ONLY
    # from manifests tagged incremental_of==source_table. A features
    # table already populated by batch run_resumable (or increments of
    # a DIFFERENT source) would yield watermark 0 and silently re-read
    # the entire source, double-committing rows the batch run already
    # wrote. Refuse loudly — incremental and batch modes need dedicated
    # features tables (same single-writer discipline as the orphan
    # guard below).
    foreign = sorted(
        r for r, m in done.items()
        if m.get("incremental_of") != source_table
        and not m.get("replaces")  # compactions of our own increments are fine
    )
    if foreign:
        raise RuntimeError(
            f"features table {features_table!r} contains committed "
            f"snapshots not produced by incremental runs over "
            f"{source_table!r}: {foreign}; running --incremental here "
            f"would restart from watermark 0 and double-commit rows "
            f"already present. Use a dedicated features table per "
            f"(mode, source) pair."
        )
    watermark = max(
        (m.get("source_seq_hi", 0) for m in done.values()
         if m.get("incremental_of") == source_table),
        default=0,
    )
    # Orphan recovery: an errors snapshot whose features twin never
    # committed means the previous invocation crashed mid-increment.
    # Pin THIS run to the orphan's exact seq range — the run_id then
    # matches, the errors append replays as an idempotent no-op, and
    # error rows of snapshots that arrived after the crash are not
    # double-committed under a wider range. The orphan must belong to
    # THIS job_id (run_ids are job-prefixed): an orphan from another
    # job at the same watermark would build a different run_id, so its
    # errors append would NOT no-op and the range's error rows would
    # double-commit — that is a single-writer-contract violation, and
    # the run refuses loudly instead of corrupting the errors table.
    pin_hi = None
    for r in io.committed_runs(errors_table):
        m = io.read_manifest(errors_table, r)
        if (m.get("incremental_of") == source_table
                and m.get("source_seq_lo") == watermark
                and not io.is_committed(features_table, r)):
            if not r.startswith(f"{job_id}-"):
                raise RuntimeError(
                    f"orphaned incremental errors snapshot {r!r} at "
                    f"watermark {watermark} belongs to a different job; "
                    f"one job_id per (source, features) table pair — "
                    f"re-run under that job_id (or clean up its orphan) "
                    f"instead of double-committing its error range"
                )
            pin_hi = m["source_seq_hi"]
            break
    new_rows, hi = io.read_since(
        spark, source_table, watermark, until_seq=pin_hi
    )
    if new_rows is None:
        return {
            "job_id": job_id, "status": "no_new_snapshots",
            "watermark": watermark, "rows": 0,
        }
    run_id = f"{job_id}-seq{watermark + 1:06d}-{hi:06d}"
    features, errors, meta = extract_features(
        spark, new_rows, context, **pipeline_kwargs
    )
    extra = {
        "pipeline": meta,
        "incremental_of": source_table,
        "source_seq_lo": watermark,
        "source_seq_hi": hi,
    }
    # errors first, features last — the features manifest is the commit
    # point the next watermark recovery gates on (same crash rule as
    # run_resumable below); the errors manifest carries the same range
    # meta so a crash between the two commits is recoverable (orphan
    # pinning above)
    io.append(spark, errors, errors_table, run_id, ts_col="ts",
              extra_meta={k: extra[k] for k in
                          ("incremental_of", "source_seq_lo", "source_seq_hi")})
    m = io.append(
        spark, features, features_table, run_id, ts_col="ts",
        extra_meta=extra,
    )
    return {
        "job_id": job_id, "status": "committed", "run_id": run_id,
        "watermark": hi, "rows": m["total_rows"],
        "source_seq_range": [watermark, hi],
    }


def run_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    context: DataFrame | None,
    io: TableIO,
    job_id: str,
    n_batches: int = 8,
    entity_col: str = "conv_id",
    isolate_hot: bool = False,
    hot_threshold_frac: float = 0.01,
    hot_sample_frac: float = 0.01,
    max_error_ratio: float | None = None,
    **pipeline_kwargs,
) -> dict:
    """Run the feature pipeline in `n_batches` resumable batches.

    Returns a job summary: per-batch status (committed / skipped) and
    aggregate rows. Re-invoking with the same job_id after a crash
    re-runs only uncommitted batches.

    `isolate_hot` routes zipf-hot conversations (sampled detector,
    operators/skew.py — deterministic seed, so resume-stable for the
    same input) into their OWN final batch: a 1-5%-of-all-rows
    conversation otherwise elongates whichever hash batch it lands in
    (batch runtimes skew, failure blast radius concentrates); isolated,
    it gets its own commit + lineage and the hash batches stay uniform.
    The hot set is bounded by 1/hot_threshold_frac keys, so the
    isin-filters broadcast trivially.

    `max_error_ratio`: job-level data-quality circuit breaker. Before
    a batch commits ANYTHING, if quarantined / input-rows exceeds the
    ratio the job raises — both snapshots stay uncommitted, so a
    re-run (after fixing the upstream feed) fully re-processes the
    batch with fresh counts. A sudden flood of malformed rows (schema
    drift, upstream corruption) then stops the job at the first bad
    batch instead of silently quarantining terabytes. Costs two plain
    scan-counts per batch (quarantine split, not the feature
    pipeline), only when the gate is on.
    """
    # Hoist tool-vocab discovery to ONCE per job: without this, every
    # batch would pay its own one-column discovery scan (n_batches
    # extra passes at 10^12 rows). Callers with a catalog stat pass
    # vocab= themselves and skip even this single scan.
    if "vocab" not in pipeline_kwargs:
        from engine.pipeline import discover_tool_vocab

        pipeline_kwargs = {
            **pipeline_kwargs,
            "vocab": discover_tool_vocab(transcripts),
        }
    hot_keys: list = []
    if isolate_hot:
        from engine.operators.skew import hot_entities

        hot_keys = [
            r[entity_col]
            for r in hot_entities(
                transcripts, entity_col,
                threshold_frac=hot_threshold_frac,
                sample_frac=hot_sample_frac,
            ).collect()
        ]

    summary = {"job_id": job_id, "n_batches": n_batches, "batches": [],
               "hot_keys": len(hot_keys)}
    batches: list[tuple] = [(b, batch_filter(entity_col, n_batches, b))
                            for b in range(n_batches)]
    if hot_keys:
        # NULL-safe: plain ~isin(...) is NULL for a null entity key, so
        # filter would drop malformed rows from EVERY batch — bypassing
        # the MISSING_KEY quarantine those rows exist to exercise.
        # Nulls stay in their hash batch.
        not_hot = ~F.col(entity_col).isin(hot_keys) | F.col(entity_col).isNull()
        batches = [(b, pred & not_hot) for b, pred in batches]
        batches.append(("hot", F.col(entity_col).isin(hot_keys)))

    for b, pred in batches:
        run_id = f"{job_id}-b{b:04d}" if isinstance(b, int) else f"{job_id}-{b}"
        if io.is_committed("features", run_id):
            m = io.read_manifest("features", run_id)
            summary["batches"].append(
                {"batch": b, "status": "skipped", "rows": m["total_rows"]}
            )
            continue
        t_b = transcripts.filter(pred)
        c_b = context.filter(pred) if context is not None else None
        features, errors, meta = extract_features(spark, t_b, c_b, **pipeline_kwargs)
        # Commit ORDER matters for exactly-once: the features manifest is
        # the batch's commit point (resume gates on it above), so the
        # errors snapshot must commit FIRST. A crash between the two
        # commits then re-runs the batch (errors append is an idempotent
        # no-op on its committed run_id) instead of skipping it and
        # silently dropping the batch's error rows.
        if max_error_ratio is not None:
            # Gate BEFORE any commit of this batch (two cheap counts —
            # the quarantine split, not the feature pipeline): a
            # tripped gate must leave NOTHING committed, because a
            # committed errors snapshot would be returned as-is by the
            # idempotent append on the post-fix re-run (stale counts).
            n_err, n_in = errors.count(), t_b.count()
            if n_in > 0 and n_err / n_in > max_error_ratio:
                raise RuntimeError(
                    f"quality gate: batch {b!r} quarantined {n_err}/{n_in} "
                    f"input rows ({n_err / n_in:.1%}) > max_error_ratio="
                    f"{max_error_ratio:.1%}; nothing committed — fix the "
                    f"feed and re-run {job_id!r} to re-process this batch"
                )
        io.append(spark, errors, "errors", run_id, ts_col="ts")
        m = io.append(
            spark, features, "features", run_id, ts_col="ts",
            extra_meta={"pipeline": meta, "batch": b},
        )
        summary["batches"].append(
            {"batch": b, "status": "committed", "rows": m["total_rows"]}
        )
    summary["total_rows"] = sum(x["rows"] for x in summary["batches"])
    return summary
