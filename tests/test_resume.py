"""Checkpoint-resume + lineage manifests (SURVEY §5.6): exactly-once
output after a simulated mid-job crash; orphan staging invisible;
manifest metrics consistent with the data."""

from __future__ import annotations

import os

import pytest

from engine.runner import run_resumable
from engine.tableio import TableIO


@pytest.fixture()
def io(tmp_path):
    return TableIO(str(tmp_path / "warehouse"))


def test_crash_resume_exactly_once(spark, transcripts_df, context_df, io):
    # "crash" after 2 of 4 batches: run only batches 0-1 by committing
    # them through the same code path, then re-run the whole job.
    from engine.pipeline import extract_features
    from engine.runner import batch_filter

    for b in range(2):
        t_b = transcripts_df.filter(batch_filter("conv_id", 4, b))
        c_b = context_df.filter(batch_filter("conv_id", 4, b))
        f, e, meta = extract_features(spark, t_b, c_b)
        io.append(spark, f, "features", f"job1-b{b:04d}", extra_meta={"batch": b})
        io.append(spark, e, "errors", f"job1-b{b:04d}")

    summary = run_resumable(
        spark, transcripts_df, context_df, io, job_id="job1", n_batches=4
    )
    statuses = {x["batch"]: x["status"] for x in summary["batches"]}
    assert statuses == {0: "skipped", 1: "skipped", 2: "committed", 3: "committed"}

    # exactly-once: committed rows == one-shot pipeline rows
    expected = transcripts_df.count()  # clean generator input → no quarantine
    got = io.read(spark, "features").count()
    assert got == expected == summary["total_rows"]
    # no duplicate (conv_id, ts, turn_idx) keys
    assert (
        io.read(spark, "features").select("conv_id", "ts", "turn_idx").distinct().count()
        == expected
    )

    # re-running the finished job is a full no-op
    again = run_resumable(
        spark, transcripts_df, context_df, io, job_id="job1", n_batches=4
    )
    assert all(x["status"] == "skipped" for x in again["batches"])
    assert io.read(spark, "features").count() == expected


def test_orphan_staging_invisible(spark, transcripts_df, io):
    # a crashed run leaves staged data but no manifest → readers never see it
    staged = os.path.join(io.root, "features", "data", "snap=deadbeef")
    transcripts_df.limit(5).write.mode("overwrite").parquet(staged)
    with pytest.raises(FileNotFoundError):
        io.read(spark, "features")


def test_manifest_metrics_match_data(spark, transcripts_df, io):
    m = io.append(spark, transcripts_df, "raw", "run-a", ts_col="ts")
    assert m["total_rows"] == transcripts_df.count()
    assert m["n_files"] == len(m["files"]) > 0
    assert m["total_bytes"] > 0 and all(f["bytes"] > 0 for f in m["files"])
    # per-file watermarks bound the global watermark
    lo = min(f["watermark_lo"] for f in m["files"])
    hi = max(f["watermark_hi"] for f in m["files"])
    row = transcripts_df.selectExpr(
        "cast(min(ts) as string) lo", "cast(max(ts) as string) hi"
    ).first()
    assert lo == row["lo"] and hi == row["hi"]
    # idempotent re-append: same manifest, no extra snapshot
    m2 = io.append(spark, transcripts_df, "raw", "run-a", ts_col="ts")
    assert m2["total_rows"] == m["total_rows"]
    assert io.committed_runs("raw") == ["run-a"]


def test_time_travel_read(spark, transcripts_df, io):
    first = transcripts_df.limit(10)
    second = transcripts_df.limit(25)
    io.append(spark, first, "tt", "run-001")
    io.append(spark, second, "tt", "run-002")
    assert io.read(spark, "tt", as_of="run-001").count() == 10
    assert io.read(spark, "tt").count() == 35


def test_hot_isolation_batch(spark, transcripts_df, context_df, io):
    """isolate_hot routes the planted zipf-hot conversation into its
    own batch; totals and key-uniqueness unchanged; resume skips all."""
    from pyspark.sql import functions as F

    summary = run_resumable(
        spark, transcripts_df, context_df, io, job_id="jobhot",
        n_batches=3, isolate_hot=True, hot_sample_frac=0.5,
    )
    assert summary["hot_keys"] >= 1
    batches = {x["batch"]: x for x in summary["batches"]}
    assert "hot" in batches and batches["hot"]["rows"] > 0

    expected = transcripts_df.count()
    assert summary["total_rows"] == expected
    feats = io.read(spark, "features")
    assert feats.count() == expected
    assert feats.select("conv_id", "ts", "turn_idx").distinct().count() == expected

    # the hot batch's own snapshot manifest carries its lineage
    m = io.read_manifest("features", "jobhot-hot")
    assert m["total_rows"] == batches["hot"]["rows"]

    again = run_resumable(
        spark, transcripts_df, context_df, io, job_id="jobhot",
        n_batches=3, isolate_hot=True, hot_sample_frac=0.5,
    )
    assert all(x["status"] == "skipped" for x in again["batches"])


def test_compaction_preserves_reads_and_resume(spark, transcripts_df, context_df, io):
    """compact() rewrites committed snapshots into few files: same
    rows, fewer files, is_committed still True for replaced run_ids
    (resume never re-runs compacted batches), time-travel to a
    pre-compaction run_id still sees the original snapshots."""
    summary = run_resumable(
        spark, transcripts_df, context_df, io, job_id="jobc", n_batches=3
    )
    expected = summary["total_rows"]
    n_files_before = sum(
        io.read_manifest("features", r)["n_files"]
        for r in io.committed_runs("features")
    )
    # as-of counts BEFORE compaction — must be bit-identical after
    asof_b0_before = io.read(spark, "features", as_of="jobc-b0000").count()
    assert 0 < asof_b0_before < expected

    m = io.compact(spark, "features", target_files=2)
    assert m["replaces"] == [f"jobc-b{b:04d}" for b in range(3)]
    assert io.read(spark, "features").count() == expected
    assert m["n_files"] <= 2 < n_files_before
    # resume still skips every original batch
    again = run_resumable(
        spark, transcripts_df, context_df, io, job_id="jobc", n_batches=3
    )
    assert all(x["status"] == "skipped" for x in again["batches"])
    # time-travel to before the compaction sees EXACTLY the original
    # snapshot subset — not the compaction (which replaces batches
    # committed after the cut and sorts lexicographically BEFORE the
    # job run_ids; ordering is by commit_seq, not run_id strings)
    asof_b0_after = io.read(spark, "features", as_of="jobc-b0000").count()
    assert asof_b0_after == asof_b0_before
    # the compaction snapshot itself is a valid as_of target: full table
    assert io.read(spark, "features", as_of=m["run_id"]).count() == expected
    # an unknown as_of is an error, not a silent full-table read
    with pytest.raises(FileNotFoundError):
        io.read(spark, "features", as_of="nonexistent-run")
    # compacting twice is a no-op (nothing new to compact besides the
    # compaction snapshot itself, which is excluded)
    m2 = io.compact(spark, "features", target_files=2)
    assert m2["run_id"] == m["run_id"]


def test_partitioned_snapshot_prunes(spark, transcripts_df, io):
    """partition_by snapshots: the partition column round-trips through
    the manifest read, and a filter on it scans only that partition's
    files (directory pruning before any IO)."""
    from pyspark.sql import functions as F

    df = transcripts_df.withColumn("dt", F.to_date("ts"))
    io.append(spark, df, "part_feats", "run-p1", partition_by=["dt"])
    m = io.read_manifest("part_feats", "run-p1")
    assert m["partition_by"] == ["dt"]
    assert sum(e["rows"] for e in m["files"]) == m["total_rows"] == df.count()
    data_dir = io._data_dir("part_feats", "run-p1")
    for e in m["files"]:
        part = os.path.relpath(e["file"].removeprefix("file://"), data_dir)
        assert part.startswith("dt=") and part.count("/") == 1, part
        assert e["watermark_lo"][:10] == e["watermark_hi"][:10] == part[3:13]

    back = io.read(spark, "part_feats")
    assert back.count() == df.count()
    assert "dt" in back.columns  # restored via basePath

    one_day = back.select("dt").first()["dt"]
    pruned = back.filter(F.col("dt") == F.lit(one_day))
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    import re
    mm = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert mm and "dt" in mm.group(1), plan[:2000]
    assert pruned.count() == df.filter(F.col("dt") == F.lit(one_day)).count()


def test_lineage_dataframe(spark, transcripts_df, context_df, io):
    summary = run_resumable(
        spark, transcripts_df, context_df, io, job_id="jobl", n_batches=2
    )
    lin = io.lineage(spark, "features")
    assert lin.filter("replaced").count() == 0
    from pyspark.sql import functions as F

    per_run = {r["run_id"]: r["n"] for r in
               lin.groupBy("run_id").agg(F.sum("rows").alias("n")).collect()}
    for x in summary["batches"]:
        assert per_run[f"jobl-b{x['batch']:04d}"] == x["rows"]
    assert lin.filter("watermark_lo IS NULL").count() == 0


def test_range_layout_watermark_pruning(spark, transcripts_df, io):
    """range_layout appends write each file as a disjoint event-time
    slice (manifest watermarks become a pruning index); read(ts_range)
    scans only the overlapping files — same rows as a full-scan filter,
    strictly fewer input files. The Iceberg min/max file-pruning
    analog over TableIO's own lineage records."""
    from pyspark.sql import functions as F

    m = io.append(
        spark, transcripts_df, "laid", "run-r1",
        ts_col="ts", range_layout=8,
    )
    assert m["n_files"] >= 4
    # disjoint, ordered file spans (allowing boundary ties)
    spans = sorted((f["watermark_lo"], f["watermark_hi"]) for f in m["files"])
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, (hi1, lo2)

    lo, hi = spans[1][0], spans[1][1]  # exactly one file's span
    pruned = io.read(spark, "laid", ts_range=(lo, hi))
    n_scanned = len(pruned.inputFiles())
    assert n_scanned < m["n_files"]
    expect = transcripts_df.filter(
        (F.col("ts").cast("string") >= lo) & (F.col("ts").cast("string") <= hi)
    ).count()
    got = pruned.filter(
        (F.col("ts").cast("string") >= lo) & (F.col("ts").cast("string") <= hi)
    ).count()
    assert got == expect > 0

    # range entirely outside the table: zero files, empty frame, schema kept
    empty = io.read(spark, "laid", ts_range=("2099-01-01 00:00:00", "2099-12-31 00:00:00"))
    assert empty.count() == 0
    assert empty.columns == io.read(spark, "laid").columns


def test_expire_replaced_reclaims_space_keeps_resume(
    spark, transcripts_df, context_df, io
):
    """expire_replaced deletes compacted-away data files: current reads
    unchanged, is_committed still True (resume skips), bytes actually
    reclaimed, and a time-travel read that needs the expired history
    raises instead of returning partial data."""
    summary = run_resumable(
        spark, transcripts_df, context_df, io, job_id="jobe", n_batches=3
    )
    expected = summary["total_rows"]
    io.compact(spark, "features", target_files=2)

    r = io.expire_replaced("features")
    assert r["expired_run_ids"] == [f"jobe-b{b:04d}" for b in range(3)]
    assert r["files_deleted"] > 0 and r["bytes_reclaimed"] > 0

    # current read unchanged; resume still skips everything
    assert io.read(spark, "features").count() == expected
    again = run_resumable(
        spark, transcripts_df, context_df, io, job_id="jobe", n_batches=3
    )
    assert all(x["status"] == "skipped" for x in again["batches"])
    # expiring twice is a no-op
    assert io.expire_replaced("features")["expired_run_ids"] == []
    # time-travel into expired history fails loudly
    with pytest.raises(FileNotFoundError, match="expired"):
        io.read(spark, "features", as_of="jobe-b0000")


def test_schema_evolution_across_snapshots(spark, transcripts_df, io):
    """A later snapshot with an added column reads back with nulls for
    the older snapshot's rows (Iceberg add-column semantics)."""
    from pyspark.sql import functions as F

    old = transcripts_df.limit(10)
    new = transcripts_df.limit(25).withColumn("lang", F.lit("en"))
    io.append(spark, old, "evo", "run-001")
    io.append(spark, new, "evo", "run-002")
    back = io.read(spark, "evo")
    assert "lang" in back.columns
    assert back.count() == 35
    assert back.filter(F.col("lang").isNull()).count() == 10
    # time-travel to before the column existed: old schema
    assert "lang" not in io.read(spark, "evo", as_of="run-001").columns


def test_quality_gate_circuit_breaker(spark, transcripts_df, context_df, io):
    """max_error_ratio: a batch quarantining too much of its input
    aborts BEFORE its features manifest commits, so the batch stays
    re-runnable; a clean feed then completes the job, re-processing
    only the tripped batch."""
    from pyspark.sql import functions as F

    # poison one hash batch: corrupt the role of every row in batch 0
    from engine.runner import batch_filter

    poisoned = transcripts_df.withColumn(
        "role",
        F.when(batch_filter("conv_id", 2, 0), F.lit("bad_role")).otherwise(
            F.col("role")
        ),
    )
    with pytest.raises(RuntimeError, match="quality gate"):
        run_resumable(
            spark, poisoned, context_df, io, job_id="jobq", n_batches=2,
            max_error_ratio=0.05,
        )
    # the tripped batch committed NOTHING (a committed errors snapshot
    # would go stale once the feed is fixed — idempotent appends would
    # return the poisoned counts forever)
    assert not io.is_committed("features", "jobq-b0000")
    assert not io.is_committed("errors", "jobq-b0000")

    # clean feed: the job completes; only batch 0 re-processes
    summary = run_resumable(
        spark, transcripts_df, context_df, io, job_id="jobq", n_batches=2,
        max_error_ratio=0.05,
    )
    statuses = {x["batch"]: x["status"] for x in summary["batches"]}
    assert statuses == {0: "committed", 1: "committed"} or statuses == {
        0: "committed", 1: "skipped"
    }
    assert io.read(spark, "features").count() == transcripts_df.count()


def test_range_layout_compaction_enables_table_pruning(spark, transcripts_df, io):
    """compact(range_layout=True) time-clusters the WHOLE table: the
    compacted files carry disjoint ts spans, so ts_range reads prune
    across all history — per-batch appends (each spanning the full
    range) cannot offer this."""
    # three appends, each covering the whole time range
    for i in range(3):
        io.append(
            spark, transcripts_df.limit(400 + i), "rl", f"run-{i:03d}",
            ts_col="ts",
        )
    m = io.compact(spark, "rl", target_files=6, range_layout=True)
    spans = sorted((f["watermark_lo"], f["watermark_hi"]) for f in m["files"])
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 <= lo2
    lo, hi = spans[0]
    pruned = io.read(spark, "rl", ts_range=(lo, hi))
    assert len(pruned.inputFiles()) < m["n_files"]
    assert pruned.count() > 0


def test_isolate_hot_keeps_null_key_rows_in_quarantine(
    spark, transcripts_df, context_df, io
):
    """Rows with NULL conv_id must still reach the MISSING_KEY
    quarantine when isolate_hot is on — three-valued ~isin() used to
    drop them from every batch silently (round-3 review)."""
    from pyspark.sql import functions as F

    bad = spark.createDataFrame(
        [(None, 0, "user", "orphan row", None, transcripts_df.first()["ts"])],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    src = transcripts_df.unionByName(bad)
    run_resumable(
        spark, src, context_df, io, job_id="jobn",
        n_batches=2, isolate_hot=True, hot_sample_frac=0.5,
    )
    errs = io.read(spark, "errors")
    assert errs.filter(F.col("code") == "MISSING_KEY").count() == 1
    assert io.read(spark, "features").count() == transcripts_df.count()


# ---------------------------------------------------------------------------
# Incremental feature extraction over new snapshots (run_incremental)
# ---------------------------------------------------------------------------

def _conv_split(transcripts_df, context_df):
    """Two conversation-aligned phases (the run_incremental ingest
    contract: a conversation never straddles an increment boundary)."""
    from pyspark.sql import functions as F

    phase_a = F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0
    return (
        transcripts_df.filter(phase_a), context_df.filter(phase_a),
        transcripts_df.filter(~phase_a), context_df.filter(~phase_a),
    )


def test_incremental_two_phase_equals_one_shot(
    spark, transcripts_df, context_df, io
):
    """Ingest in two conversation-aligned snapshots, run_incremental
    after each: the union of incremental features must be ROW-IDENTICAL
    to one batch extract_features over everything, and the second run
    must read only the second snapshot's rows (cost O(new rows))."""
    from engine.pipeline import extract_features
    from engine.runner import run_incremental

    t_a, c_a, t_b, c_b = _conv_split(transcripts_df, context_df)
    io.append(spark, t_a, "turns", "ingest-a", ts_col="ts")
    s1 = run_incremental(spark, io, "inc1", context=c_a)
    assert s1["status"] == "committed" and s1["rows"] == t_a.count()

    io.append(spark, t_b, "turns", "ingest-b", ts_col="ts")
    s2 = run_incremental(spark, io, "inc1", context=c_b)
    assert s2["status"] == "committed" and s2["rows"] == t_b.count()
    # watermark advanced, second increment covered only snapshot B
    assert s2["source_seq_range"][0] == s1["watermark"]

    batch_f, _e, _m = extract_features(spark, transcripts_df, context_df)
    cols = sorted(batch_f.columns)
    # repr sort key: rows contain None alongside str/float, which
    # plain tuple ordering cannot compare
    got = sorted(map(tuple, io.read(spark, "features").select(cols).collect()),
                 key=repr)
    exp = sorted(map(tuple, batch_f.select(cols).collect()), key=repr)
    assert got == exp and len(got) == transcripts_df.count()

    # nothing new → explicit no-op, watermark unchanged
    s3 = run_incremental(spark, io, "inc1", context=None)
    assert s3["status"] == "no_new_snapshots" and s3["watermark"] == s2["watermark"]


def test_incremental_orphan_recovery_pins_range(
    spark, transcripts_df, context_df, io
):
    """Crash between the errors and features commits, with a NEW source
    snapshot landing before the retry: the retry must replay exactly
    the orphaned range (same run_id → errors no-op) instead of folding
    the new snapshot into a wider range that would double-commit the
    old range's error rows; the new snapshot is picked up by the NEXT
    increment."""
    from engine.pipeline import extract_features
    from engine.runner import run_incremental

    t_a, c_a, t_b, c_b = _conv_split(transcripts_df, context_df)
    io.append(spark, t_a, "turns", "ingest-a", ts_col="ts")
    seq_a = io.max_commit_seq("turns")

    # simulate the crashed first increment: errors committed, features not
    f, e, _m = extract_features(spark, t_a, c_a)
    run_id = f"inc2-seq{1:06d}-{seq_a:06d}"
    io.append(spark, e, "errors", run_id, ts_col="ts",
              extra_meta={"incremental_of": "turns",
                          "source_seq_lo": 0, "source_seq_hi": seq_a})

    # a new snapshot lands before the retry
    io.append(spark, t_b, "turns", "ingest-b", ts_col="ts")

    s1 = run_incremental(spark, io, "inc2", context=c_a)
    assert s1["status"] == "committed"
    assert s1["run_id"] == run_id            # pinned to the orphaned range
    assert s1["rows"] == t_a.count()         # snapshot B NOT folded in

    s2 = run_incremental(spark, io, "inc2", context=c_b)
    assert s2["status"] == "committed" and s2["rows"] == t_b.count()
    assert io.read(spark, "features").count() == transcripts_df.count()


def test_incremental_skips_compactions(spark, transcripts_df, io):
    """A compaction snapshot must be invisible to read_since: its rows
    were already consumed at lower seqs; re-reading them would
    double-process. The watermark still advances over it."""
    t = transcripts_df.limit(100)
    io.append(spark, t, "turns", "r1", ts_col="ts")
    df1, hi1 = io.read_since(spark, "turns", 0)
    assert df1.count() == 100
    io.compact(spark, "turns", target_files=2)
    df2, hi2 = io.read_since(spark, "turns", hi1)
    assert df2 is None and hi2 > hi1  # watermark moves past the compaction


def test_commit_manifest_concurrent_writers(io):
    """commit_seq allocation + manifest commit are serialized under one
    lock (round-4 review findings #2/#6): concurrent writers must get
    unique, dense, monotonic seqs with commit order == seq order."""
    from concurrent.futures import ThreadPoolExecutor

    def commit(i):
        return io._commit_manifest(
            "ctab", f"run-{i:03d}",
            {"table": "ctab", "run_id": f"run-{i:03d}",
             "files": [], "total_rows": 0, "n_files": 0},
        )

    with ThreadPoolExecutor(8) as ex:
        ms = list(ex.map(commit, range(32)))
    seqs = sorted(m["commit_seq"] for m in ms)
    assert seqs == list(range(1, 33))
    # and the committed manifests agree with what was returned
    on_disk = sorted(
        io.read_manifest("ctab", r)["commit_seq"]
        for r in io.committed_runs("ctab")
    )
    assert on_disk == seqs


def test_every_replaced_file_is_fsynced_first(spark, transcripts_df, io, monkeypatch):
    """A rename commits only what reached the disk: across append,
    compact and expire_replaced, every temp file moved into place by
    os.replace (the _seq counter, each manifest, each tombstone) was
    fsynced before the rename. Files are matched by inode, consumed at
    the rename so that a reused inode cannot stand in for a later file."""
    synced, replaced = set(), []
    fsync, replace = os.fsync, os.replace

    def rec_fsync(fd):
        st = os.fstat(fd)
        synced.add((st.st_dev, st.st_ino))
        return fsync(fd)

    def rec_replace(src, dst, *args, **kwargs):
        st = os.stat(src)
        replaced.append((str(dst), (st.st_dev, st.st_ino) in synced))
        synced.discard((st.st_dev, st.st_ino))
        return replace(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "fsync", rec_fsync)
    monkeypatch.setattr(os, "replace", rec_replace)
    t = transcripts_df.limit(50)
    io.append(spark, t, "dur", "r1", ts_col="ts")
    io.append(spark, t, "dur", "r2", ts_col="ts")
    io.compact(spark, "dur", target_files=1)
    assert io.expire_replaced("dur")["expired_run_ids"] == ["r1", "r2"]
    ours = [(dst, ok) for dst, ok in replaced if dst.startswith(io.root)]
    # 3 commits x (_seq + manifest) + 2 tombstones
    assert len(ours) == 8, ours
    assert all(ok for _dst, ok in ours), ours


def test_incremental_foreign_orphan_raises(spark, transcripts_df, context_df, io):
    """An orphaned incremental errors snapshot from a DIFFERENT job_id
    at the current watermark must abort the run loudly (re-running it
    under a new job_id would double-commit that range's error rows)."""
    import pytest as _pytest

    from engine.pipeline import extract_features
    from engine.runner import run_incremental

    t_a, c_a, _, _ = _conv_split(transcripts_df, context_df)
    io.append(spark, t_a, "turns", "ingest-a", ts_col="ts")
    seq_a = io.max_commit_seq("turns")
    _f, e, _m = extract_features(spark, t_a, c_a)
    io.append(spark, e, "errors", f"otherjob-seq{1:06d}-{seq_a:06d}",
              ts_col="ts",
              extra_meta={"incremental_of": "turns",
                          "source_seq_lo": 0, "source_seq_hi": seq_a})
    with _pytest.raises(RuntimeError, match="different job"):
        run_incremental(spark, io, "myjob", context=c_a)


def test_streaming_ingest_feeds_incremental_features(
    spark, transcripts_df, context_df, io, tmp_path
):
    """The continuous flow the jobs CLI advertises: a validated
    streaming ingest commits turn snapshots per epoch
    (stream_validated_ingest), then --incremental-style
    run_incremental consumes exactly the newly committed snapshots and
    appends features; a second stream delivery + increment picks up
    only the new rows, and the final features equal one batch run."""
    from engine.pipeline import extract_features
    from engine.runner import run_incremental
    from engine.streaming import stream_validated_ingest

    t_a, c_a, t_b, c_b = _conv_split(transcripts_df, context_df)
    src = tmp_path / "stream_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t_a.coalesce(1).write.parquet(str(src / "f1"))

    def run_stream():
        sdf = (
            spark.readStream.schema(transcripts_df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = stream_validated_ingest(
            sdf, io, "ing", good_table="turns", ts_col="ts",
            checkpoint_dir=ckpt,
        ).trigger(availableNow=True).start()
        q.awaitTermination(180)

    run_stream()
    s1 = run_incremental(spark, io, "feat", context=c_a)
    assert s1["status"] == "committed" and s1["rows"] == t_a.count()

    t_b.coalesce(1).write.parquet(str(src / "f2"))
    run_stream()
    s2 = run_incremental(spark, io, "feat", context=c_b)
    assert s2["status"] == "committed" and s2["rows"] == t_b.count()

    batch_f, _e, _m = extract_features(spark, transcripts_df, context_df)
    cols = sorted(batch_f.columns)
    got = sorted(map(tuple, io.read(spark, "features").select(cols).collect()),
                 key=repr)
    exp = sorted(map(tuple, batch_f.select(cols).collect()), key=repr)
    assert got == exp


# --- lineage from the written files' footers --------------------------------

def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_append_runs_no_job_after_the_write(spark, transcripts_df, io, tmp_path):
    """Lineage comes from the footers, so an append runs exactly the
    jobs of a plain parquet write of the same frame."""
    df = transcripts_df.repartition(3).cache()
    df.count()
    try:
        plain = _jobs_in_group(
            spark, "plain-write",
            lambda: df.write.mode("overwrite").parquet(str(tmp_path / "plain")),
        )
        appended = _jobs_in_group(
            spark, "tableio-append",
            lambda: io.append(spark, df, "jobs", "run-j", ts_col="ts"),
        )
    finally:
        df.unpersist()
    assert plain >= 1
    assert appended == plain


@pytest.mark.parametrize(
    "case, step_us",
    [("micros", 1_234_567), ("millis", 1_234_000), ("seconds", 7_000_000)],
)
def test_footer_watermarks_equal_spark_cast(spark, io, case, step_us):
    """Per-file watermarks render exactly as Spark's cast(ts as string):
    the fraction only when non-zero, trailing zeros trimmed (pre-epoch
    values included)."""
    df = spark.range(0, 60).selectExpr(
        f"timestamp_micros(-5000000 + id * {step_us}) AS ts", "id"
    ).repartition(3)
    m = io.append(spark, df, f"wm_{case}", "run-w", ts_col="ts")
    assert m["n_files"] >= 2 and m["total_rows"] == 60
    for e in m["files"]:
        row = spark.read.parquet(e["file"]).selectExpr(
            "cast(min(ts) as string) lo", "cast(max(ts) as string) hi",
            "count(1) n",
        ).first()
        assert (e["watermark_lo"], e["watermark_hi"], e["rows"]) == (
            row["lo"], row["hi"], row["n"]
        )
    if case == "seconds":
        assert all("." not in e["watermark_lo"] for e in m["files"])


def test_empty_append_commits_no_files(spark, transcripts_df, io):
    m = io.append(spark, transcripts_df.limit(0), "empty", "run-0", ts_col="ts")
    assert m["files"] == [] and m["n_files"] == 0
    assert m["total_rows"] == 0 and m["total_bytes"] == 0
    assert io.is_committed("empty", "run-0")


def test_int96_snapshot_has_no_watermarks_but_reads_and_compacts(
    spark, transcripts_df, io
):
    """A snapshot written under Spark's legacy INT96 encoding has no
    ts statistics: it records None watermarks, ts_range never prunes
    it, and a table mixing it with int64 snapshots reads back and
    compacts every row."""
    from pyspark.sql import functions as F

    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    old = transcripts_df.limit(40)
    new = transcripts_df.subtract(old)
    spark.conf.set(key, "INT96")
    try:
        legacy = io.append(spark, old, "mixed", "run-1", ts_col="ts")
    finally:
        spark.conf.set(key, prev)
    current = io.append(spark, new, "mixed", "run-2", ts_col="ts")
    assert legacy["total_rows"] == 40 and legacy["n_files"] >= 1
    assert all(
        e["watermark_lo"] is None and e["watermark_hi"] is None
        for e in legacy["files"]
    )
    assert all(e["watermark_lo"] is not None for e in current["files"])

    bounds = old.selectExpr(
        "cast(min(ts) as string) lo", "cast(max(ts) as string) hi"
    ).first()
    in_range = (F.col("ts").cast("string") >= bounds["lo"]) & (
        F.col("ts").cast("string") <= bounds["hi"]
    )
    got = io.read(spark, "mixed", as_of="run-1", ts_range=(bounds["lo"], bounds["hi"]))
    assert got.filter(in_range).count() == 40

    total = transcripts_df.count()
    assert io.read(spark, "mixed").count() == total
    comp = io.compact(spark, "mixed", target_files=2)
    assert comp["total_rows"] == total
    assert all(e["watermark_lo"] is not None for e in comp["files"])
    back = io.read(spark, "mixed")
    assert back.count() == total
    assert back.select("conv_id", "ts", "turn_idx").distinct().count() == total
