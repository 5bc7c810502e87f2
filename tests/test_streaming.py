"""Structured Streaming variants agree with batch on the same rows
(file source → availableNow trigger → memory sink)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from engine.schema import SESSION_GAP_S, TRANSCRIPT_SCHEMA
from engine.streaming import stream_rolling_counts, stream_sessionize


@pytest.fixture(scope="module")
def stream_source(spark, transcripts_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream") / "transcripts")
    transcripts_df.write.mode("overwrite").parquet(path)
    return path


def _run_available_now(sdf, name):
    # complete mode: append would withhold any window whose end the
    # watermark never passes — with availableNow the FINAL session/
    # window per key can never emit (no later event advances the
    # watermark past it). Complete re-emits all state at the last
    # trigger, which is exactly the full result for a bounded replay.
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return name


def test_stream_sessionize_matches_batch(spark, transcripts_df, stream_source):
    sdf = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(stream_source)
    out = stream_sessionize(sdf, gap_s=SESSION_GAP_S, watermark="0 seconds")
    tbl = _run_available_now(out, "sess_stream")
    got = spark.sql(f"SELECT * FROM {tbl}").toPandas()

    # batch ground truth: session boundaries from the batch engine; the
    # streaming session_window end = last ts + gap
    from engine.operators.core import sessionize

    # session_window is end-exclusive: a gap EXACTLY equal to the gap
    # parameter starts a new session — strict_boundary replicates that
    b = sessionize(
        transcripts_df, "conv_id", "ts", "turn_idx", SESSION_GAP_S,
        strict_boundary=True,
    )
    exp = (
        b.groupBy("conv_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).alias("total_text_len"),
            F.count("tool").alias("n_tool_turns"),
        )
        .toPandas()
    )
    key = ["conv_id", "session_start"]
    got_s = got.sort_values(key).reset_index(drop=True)
    exp_s = exp.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(exp_s)
    for col in ["n_turns", "total_text_len", "n_tool_turns"]:
        g = got_s[col].fillna(-1).astype(float).tolist()
        e = exp_s[col].fillna(-1).astype(float).tolist()
        assert g == e, col
    assert got_s["conv_id"].tolist() == exp_s["conv_id"].tolist()


def test_stream_rolling_counts_runs_and_sums(spark, transcripts_df, stream_source):
    sdf = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(stream_source)
    out = stream_rolling_counts(sdf, window_s=300, slide_s=60, watermark="0 seconds")
    tbl = _run_available_now(out, "roll_stream")
    got = spark.sql(f"SELECT * FROM {tbl}")
    n_rows = transcripts_df.count()
    # every turn lands in exactly window/slide = 5 sliding windows
    assert got.agg(F.sum("roll_cnt")).first()[0] == n_rows * 5
    # window bounds are slide-aligned and 300 s wide
    r = got.first()
    assert (r["w_end"] - r["w_start"]).total_seconds() == 300


def test_stream_asof_matches_batch(spark, transcripts_df, context_df, tmp_path_factory):
    """The applyInPandasWithState as-of state machine emits EXACTLY the
    batch as-of result for every probe the final watermark passes."""
    from engine.operators.asof import asof_join
    from engine.schema import CONTEXT_SCHEMA
    from engine.streaming import stream_asof

    root = tmp_path_factory.mktemp("asof_stream")
    tpath, cpath = str(root / "t"), str(root / "c")
    transcripts_df.write.mode("overwrite").parquet(tpath)
    context_df.write.mode("overwrite").parquet(cpath)

    sp = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(tpath)
    sc = spark.readStream.schema(CONTEXT_SCHEMA).parquet(cpath)
    out = stream_asof(sp, sc, watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("asof_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        "SELECT conv_id, turn_idx, asof_ctx_value, asof_ctx_label FROM asof_stream"
    ).toPandas()

    exp = (
        asof_join(
            transcripts_df, context_df, strict=False, strategy="jvm",
            payload=["ctx_value", "ctx_label"],
        )
        .select("conv_id", "turn_idx", "ts", "asof_ctx_value", "asof_ctx_label")
        .toPandas()
    )
    # append mode withholds probes the final watermark never passes
    # (wm = min over streams of max event ts at 0s delay); the test
    # asserts exact equality on the emitted set + high coverage
    assert len(got) > 0.9 * len(exp), (len(got), len(exp))
    key = ["conv_id", "turn_idx"]
    merged = got.merge(exp, on=key, suffixes=("_s", "_b"), how="left")
    assert len(merged) == len(got)
    for col in ("asof_ctx_value", "asof_ctx_label"):
        s, b = merged[f"{col}_s"], merged[f"{col}_b"]
        same = (s == b) | (s.isna() & b.isna())
        assert same.all(), merged.loc[~same, key + [f"{col}_s", f"{col}_b"]].head()


def test_stream_top_tools_matches_batch(spark, transcripts_df, stream_source):
    """Streaming expanding top-k equals the batch kernel on every
    emitted turn (event-time prefix semantics, same tie-break + pad)."""
    from engine.operators.topk import add_top_tools_expanding
    from engine.streaming import stream_top_tools

    sdf = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(stream_source)
    out = stream_top_tools(sdf, watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("topk_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        "SELECT conv_id, turn_idx, top_tools FROM topk_stream"
    ).toPandas()

    exp = (
        add_top_tools_expanding(transcripts_df)
        .select("conv_id", "turn_idx", "top_tools")
        .toPandas()
    )
    assert len(got) > 0.9 * len(exp), (len(got), len(exp))
    key = ["conv_id", "turn_idx"]
    merged = got.merge(exp, on=key, suffixes=("_s", "_b"), how="left")
    assert len(merged) == len(got)
    bad = [
        (r["conv_id"], r["turn_idx"], list(r["top_tools_s"]), list(r["top_tools_b"]))
        for _, r in merged.iterrows()
        if list(r["top_tools_s"]) != list(r["top_tools_b"])
    ]
    assert not bad, bad[:5]


def test_stream_sessionize_exact_matches_batch(spark, transcripts_df, stream_source):
    """Exact streaming sessionizer emits the batch engine's session
    ids and turn numbers (not just per-session aggregates)."""
    from engine.operators.core import sessionize
    from engine.streaming import stream_sessionize_exact

    sdf = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(stream_source)
    out = stream_sessionize_exact(sdf, gap_s=SESSION_GAP_S, watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_exact")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        "SELECT conv_id, turn_idx, session_id, sess_turn_no FROM sess_exact"
    ).toPandas()

    exp = (
        sessionize(transcripts_df, "conv_id", "ts", "turn_idx", SESSION_GAP_S,
                   seq_col="sess_turn_no")
        .select("conv_id", "turn_idx", "session_id", "sess_turn_no")
        .toPandas()
    )
    assert len(got) > 0.9 * len(exp), (len(got), len(exp))
    merged = got.merge(exp, on=["conv_id", "turn_idx"], suffixes=("_s", "_b"), how="left")
    for col in ("session_id", "sess_turn_no"):
        same = merged[f"{col}_s"] == merged[f"{col}_b"]
        assert same.all(), merged.loc[~same].head()


def test_stream_funnel_matches_batch(spark, tmp_path_factory):
    """Streaming per-session funnel emits the batch engine's exact
    per-session rows (session ids, n_events, strict step flags) for
    every session the final watermark closes."""
    from engine.queries import funnel_session_steps
    from engine.streaming import stream_funnel_steps

    # driver parquet stores ts as TIMESTAMP_NTZ; watermarks need TIMESTAMP
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    path = str(tmp_path_factory.mktemp("stream") / "events")
    ev.write.mode("overwrite").parquet(path)

    sdf = spark.readStream.schema(ev.schema).parquet(path)
    out = stream_funnel_steps(sdf, gap_s=1800.0, watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("SELECT * FROM funnel_stream").toPandas()

    exp = (
        funnel_session_steps(ev)
        .select(
            "user_id", "session_id", "n_events",
            "step_view", "step_view_click", "step_full",
        )
        .toPandas()
    )
    # only the final (never-closed) session per user may be withheld
    assert len(got) > 0, "stream emitted nothing"
    assert len(exp) - len(got) <= exp["user_id"].nunique()
    merged = got.merge(
        exp, on=["user_id", "session_id"], suffixes=("_s", "_b"), how="left"
    )
    assert merged["n_events_b"].notna().all(), "stream emitted unknown session"
    for col in ("n_events", "step_view", "step_view_click", "step_full"):
        same = merged[f"{col}_s"] == merged[f"{col}_b"]
        assert same.all(), merged.loc[~same].head()
    # the funnel discriminates: some sessions reach step 1
    assert got["step_view"].sum() > 0


def test_stream_to_tableio_exactly_once(spark, transcripts_df, stream_source, tmp_path):
    """Streaming sink commits each micro-batch as a TableIO snapshot;
    an epoch replay (Spark's at-least-once foreachBatch contract) is a
    no-op, and a restart from the same checkpoint adds nothing."""
    from engine.schema import TRANSCRIPT_SCHEMA
    from engine.streaming import stream_to_tableio
    from engine.tableio import TableIO

    io = TableIO(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    def run():
        sdf = (
            spark.readStream.schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", "1")  # force multiple epochs
            .parquet(stream_source)
        )
        q = (
            stream_to_tableio(sdf, io, "raw_turns", "sjob", checkpoint_dir=ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run()
    expected = transcripts_df.count()
    assert io.read(spark, "raw_turns").count() == expected
    runs = io.committed_runs("raw_turns")
    assert len(runs) >= 2 and all(r.startswith("sjob-e") for r in runs)
    # manifests carry the streaming epoch + lineage
    m = io.read_manifest("raw_turns", runs[0])
    assert m["streaming"] is True and m["total_rows"] > 0 and m["files"]

    # simulated epoch REPLAY: re-committing an already-committed epoch
    # id is a no-op (idempotent sink), rows unchanged
    io.append(spark, transcripts_df, "raw_turns", runs[0])
    assert io.read(spark, "raw_turns").count() == expected

    # restart from the same checkpoint: stream is exhausted, no new runs
    run()
    assert io.committed_runs("raw_turns") == runs
    assert io.read(spark, "raw_turns").count() == expected


def test_stream_validated_ingest_quarantine_and_compact_restart(
    spark, transcripts_df, tmp_path
):
    """Validated streaming ingest: per-epoch quality split with typed
    codes, errors committed before good rows; compacting the epoch
    snapshots then restarting the stream stays exactly-once (replayed
    epochs hit is_committed even though their data was rewritten)."""
    from pyspark.sql import functions as F

    from engine.schema import TRANSCRIPT_SCHEMA
    from engine.streaming import stream_validated_ingest
    from engine.tableio import TableIO

    # plant two bad rows among the good ones
    bad = spark.createDataFrame(
        [
            ("cbad", 0, "alien_role", "x", None, transcripts_df.first()["ts"]),
            ("cbad2", -1, "user", "y", None, transcripts_df.first()["ts"]),
        ],
        TRANSCRIPT_SCHEMA,
    )
    src = transcripts_df.unionByName(bad)
    path = str(tmp_path / "src")
    src.write.mode("overwrite").parquet(path)

    io = TableIO(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    def run():
        sdf = (
            spark.readStream.schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )
        q = (
            stream_validated_ingest(sdf, io, "vjob", checkpoint_dir=ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run()
    n_src = src.count()
    good = io.read(spark, "turns")
    errs = io.read(spark, "errors")
    assert good.count() + errs.count() == n_src
    codes = {r["code"] for r in errs.select("code").distinct().collect()}
    assert codes == {"INVALID_ENUM", "BAD_TURN_INDEX"}
    assert good.filter(F.col("conv_id").startswith("cbad")).count() == 0

    # compact the many small epoch snapshots, then restart the stream:
    # nothing re-ingests, reads unchanged
    runs_before = io.committed_runs("turns")
    assert len(runs_before) >= 2
    io.compact(spark, "turns", target_files=2)
    run()
    assert io.read(spark, "turns").count() == good.count()
    assert [r for r in io.committed_runs("turns") if r.startswith("vjob-")] == runs_before


def test_stream_funnel_state_survives_restart(spark, tmp_path):
    """Query-restart state round-trip: half the events arrive in run 1,
    the rest in run 2 from the same checkpoint. Sessions spanning the
    boundary must resolve correctly, which requires the buffered events
    AND the per-user session counter to survive the state store."""
    from engine.queries import funnel_session_steps
    from engine.streaming import stream_funnel_steps

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    mid = ev.selectExpr(
        "to_timestamp(percentile(unix_timestamp(ts), 0.5)) AS m"
    ).first()["m"]
    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    ev.filter(F.col("ts") <= mid).write.mode("overwrite").parquet(src)

    out_dir = str(tmp_path / "out")

    def run():
        # file sink, not memory: only fault-tolerant sinks support
        # recovering a query from its checkpoint
        sdf = spark.readStream.schema(ev.schema).parquet(src)
        q = (
            stream_funnel_steps(sdf, gap_s=1800.0, watermark="0 seconds")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return spark.read.parquet(out_dir).toPandas()

    got1 = run()
    # second half lands (append, same source dir), stream restarts
    ev.filter(F.col("ts") > mid).write.mode("append").parquet(src)
    got = run()
    assert len(got) > len(got1), "restarted stream emitted nothing"
    # no session emitted twice across the restart
    assert not got.duplicated(["user_id", "session_id"]).any()

    exp = (
        funnel_session_steps(ev)
        .select(
            "user_id", "session_id", "n_events",
            "step_view", "step_view_click", "step_full",
        )
        .toPandas()
    )
    assert len(exp) - len(got) <= exp["user_id"].nunique()
    merged = got.merge(
        exp, on=["user_id", "session_id"], suffixes=("_s", "_b"), how="left"
    )
    assert merged["n_events_b"].notna().all()
    for col in ("n_events", "step_view", "step_view_click", "step_full"):
        same = merged[f"{col}_s"] == merged[f"{col}_b"]
        assert same.all(), merged.loc[~same].head()
