"""jobs/extract_features_job.py CLI smoke: run a tiny resumable job,
then audit it with --lineage (the operator-visible surface of the
per-partition lineage manifests). Runs main() in-process — the job
reuses the active test SparkSession."""

from __future__ import annotations

import json
import sys

import pytest


def _run_cli(argv, capsys):
    from jobs.extract_features_job import main

    old = sys.argv
    sys.argv = ["extract_features_job.py"] + argv
    try:
        main()
    finally:
        sys.argv = old
    return capsys.readouterr().out


def test_job_then_lineage_audit(spark, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    out = _run_cli(
        ["--generate", "4000", "--warehouse", wh, "--job-id", "smoke",
         "--batches", "2"],
        capsys,
    )
    summary = json.loads(out.strip().splitlines()[-1])
    assert summary["total_rows"] > 0
    assert [b["status"] for b in summary["batches"]] == ["committed"] * 2

    # --lineage with no value: every run of the job-id, one JSON line
    # per data FILE with rows/bytes/watermarks
    out = _run_cli(
        ["--warehouse", wh, "--job-id", "smoke", "--lineage"], capsys
    )
    recs = [json.loads(line) for line in out.strip().splitlines()]
    assert recs and all(r["run_id"].startswith("smoke-") for r in recs)
    assert sum(r["rows"] for r in recs) == summary["total_rows"]
    assert all(r["bytes"] > 0 and r["watermark_lo"] for r in recs)
    assert not any(r["replaced"] for r in recs)

    # --lineage RUN_ID: just that snapshot's files
    run0 = recs[0]["run_id"]
    out = _run_cli(
        ["--warehouse", wh, "--job-id", "smoke", "--lineage", run0], capsys
    )
    only = [json.loads(line) for line in out.strip().splitlines()]
    assert only and {r["run_id"] for r in only} == {run0}


def test_maintenance_cli(spark, tmp_path, capsys):
    """--compact then --expire-replaced: the operator-facing
    maintenance pair over the same warehouse a job wrote."""
    wh = str(tmp_path / "wh")
    _run_cli(
        ["--generate", "4000", "--warehouse", wh, "--job-id", "mjob",
         "--batches", "3"],
        capsys,
    )
    out = _run_cli(["--warehouse", wh, "--job-id", "mjob", "--compact"], capsys)
    c = json.loads(out.strip().splitlines()[-1])
    assert c["replaces"] == [f"mjob-b{b:04d}" for b in range(3)]
    assert c["total_rows"] > 0

    out = _run_cli(
        ["--warehouse", wh, "--job-id", "mjob", "--expire-replaced"], capsys
    )
    r = json.loads(out.strip().splitlines()[-1])
    assert r["expired_run_ids"] == [f"mjob-b{b:04d}" for b in range(3)]
    assert r["bytes_reclaimed"] > 0

    # post-maintenance: table intact, lineage shows only live snapshots
    out = _run_cli(["--warehouse", wh, "--job-id", "compact", "--lineage"], capsys)
    recs = [json.loads(line) for line in out.strip().splitlines()]
    assert recs and all(r["run_id"].startswith("compact-") for r in recs)


@pytest.mark.parametrize("vocab", ["", ","])
def test_job_rejects_empty_vocab(spark, tmp_path, capsys, vocab):
    """An empty --vocab would blank every top_tools row, so the job
    refuses it before running."""
    with pytest.raises(SystemExit):
        _run_cli(
            ["--generate", "400", "--warehouse", str(tmp_path / "wh"),
             "--job-id", "empty-vocab", "--vocab", vocab],
            capsys,
        )


def test_job_incremental_mode(spark, tmp_path, capsys, transcripts_df, context_df):
    """--incremental consumes only newly committed source snapshots:
    first invocation processes snapshot A, second reports no new
    snapshots, third (after snapshot B lands) processes exactly B.
    Pipeline options reach the increments as they reach batch mode."""
    from pyspark.sql import functions as F

    from engine.tableio import TableIO

    wh = str(tmp_path / "wh_inc")
    io = TableIO(wh)
    phase_a = F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0
    t_a, t_b = transcripts_df.filter(phase_a), transcripts_df.filter(~phase_a)
    ctx = str(tmp_path / "ctx.parquet")
    context_df.write.mode("overwrite").parquet(ctx)

    io.append(spark, t_a, "turns", "ingest-a", ts_col="ts")
    opts = ["--session-gap-s", "600", "--roll-window-s", "120"]
    out = _run_cli(
        ["--incremental", "--warehouse", wh, "--job-id", "inc",
         "--context", ctx, *opts],
        capsys,
    )
    s1 = json.loads(out.strip().splitlines()[-1])
    assert s1["status"] == "committed" and s1["rows"] == t_a.count()
    meta = io.read_manifest("features", s1["run_id"])["pipeline"]
    assert meta["session_gap_s"] == 600.0 and meta["roll_window_s"] == 120.0

    out = _run_cli(
        ["--incremental", "--warehouse", wh, "--job-id", "inc",
         "--context", ctx, *opts],
        capsys,
    )
    assert json.loads(out.strip().splitlines()[-1])["status"] == "no_new_snapshots"

    io.append(spark, t_b, "turns", "ingest-b", ts_col="ts")
    out = _run_cli(
        ["--incremental", "--warehouse", wh, "--job-id", "inc",
         "--context", ctx, *opts],
        capsys,
    )
    s3 = json.loads(out.strip().splitlines()[-1])
    assert s3["status"] == "committed" and s3["rows"] == t_b.count()
    assert io.read(spark, "features").count() == transcripts_df.count()
