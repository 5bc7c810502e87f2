"""Structured Streaming variants agree with batch on the same rows
(file source → availableNow trigger → memory sink)."""

from __future__ import annotations

import numpy as np
import pandas as pd
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


def _run_append(sdf, name):
    # append mode: the stateful folds emit each row once, when the
    # watermark makes it final; returns the finished query
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return q


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
    _run_append(out, "asof_stream")
    got = spark.sql(
        "SELECT conv_id, turn_idx, asof_ctx_value, asof_ctx_label FROM asof_stream"
    ).toPandas()

    exp = (
        asof_join(
            transcripts_df, context_df, strict=False,
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
    _run_append(out, "topk_stream")
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
    _run_append(out, "sess_exact")
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
    _run_append(out, "funnel_stream")
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


def _write_files(path, frames, schema):
    """One parquet file per pandas frame, modification times increasing,
    so a maxFilesPerTrigger=1 file source reads one frame per
    micro-batch, in list order."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    os.makedirs(path, exist_ok=True)
    arrow_schema = to_arrow_schema(schema)
    for i, pdf in enumerate(frames):
        f = os.path.join(path, f"part-{i:03d}.parquet")
        table = pa.Table.from_pandas(
            pdf[schema.fieldNames()], schema=arrow_schema, preserve_index=False
        )
        pq.write_table(table, f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    return path


def _norm(v):
    if isinstance(v, (list, np.ndarray)):
        return tuple(v)
    return None if pd.isna(v) else v


def _assert_emitted_match_batch(got, exp, key, cols, min_cov):
    """Every emitted row equals the batch row with the same key, no key
    is emitted twice, and at least `min_cov` of the batch rows emit."""
    assert len(got) >= min_cov * len(exp), (len(got), len(exp))
    assert not got.duplicated(key).any(), got[got.duplicated(key)].head()
    merged = got.merge(exp, on=key, suffixes=("_s", "_b"), how="left")
    assert len(merged) == len(got)
    for col in cols:
        same = pd.Series(
            [_norm(s) == _norm(b) for s, b in zip(merged[f"{col}_s"], merged[f"{col}_b"])]
        )
        assert same.all(), merged.loc[~same, key + [f"{col}_s", f"{col}_b"]].head()


def test_stream_folds_multi_epoch_match_batch(
    spark, transcripts_pdf, context_pdf, transcripts_df, context_df, tmp_path
):
    """Event-time-sliced files (ts quartiles), rows shuffled within each,
    one file per micro-batch: the folds' carried state (count map,
    session counter, as-of floor) must survive between micro-batches
    for every emitted row to equal the batch result."""
    from engine.operators.asof import asof_join
    from engine.operators.core import sessionize
    from engine.operators.topk import add_top_tools_expanding
    from engine.schema import CONTEXT_SCHEMA
    from engine.streaming import (
        stream_asof,
        stream_sessionize_exact,
        stream_top_tools,
    )

    edges = [pd.Timestamp.min, *transcripts_pdf["ts"].quantile([0.25, 0.5, 0.75]),
             pd.Timestamp.max]

    def slices(pdf, ts):
        return [
            pdf[(pdf[ts] > lo) & (pdf[ts] <= hi)].sample(frac=1.0, random_state=i)
            for i, (lo, hi) in enumerate(zip(edges, edges[1:]))
        ]

    tpath = _write_files(
        str(tmp_path / "t"), slices(transcripts_pdf, "ts"), TRANSCRIPT_SCHEMA
    )
    cpath = _write_files(
        str(tmp_path / "c"), slices(context_pdf, "event_ts"), CONTEXT_SCHEMA
    )

    def read(path, schema):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )

    key = ["conv_id", "turn_idx"]
    cases = {
        "top_tools": (
            stream_top_tools(read(tpath, TRANSCRIPT_SCHEMA), watermark="0 seconds"),
            add_top_tools_expanding(transcripts_df),
            ["top_tools"],
            0.9,
        ),
        "sessionize_exact": (
            stream_sessionize_exact(
                read(tpath, TRANSCRIPT_SCHEMA), gap_s=SESSION_GAP_S,
                watermark="0 seconds",
            ),
            sessionize(transcripts_df, "conv_id", "ts", "turn_idx", SESSION_GAP_S,
                       seq_col="sess_turn_no"),
            ["session_id", "sess_turn_no"],
            0.9,
        ),
        # two streams: the watermark is the slower stream's, so more
        # probes are withheld at the end
        "asof": (
            stream_asof(
                read(tpath, TRANSCRIPT_SCHEMA), read(cpath, CONTEXT_SCHEMA),
                watermark="0 seconds",
            ),
            asof_join(transcripts_df, context_df, strict=False,
                      payload=["ctx_value", "ctx_label"]),
            ["asof_ctx_value", "asof_ctx_label"],
            0.7,
        ),
    }
    for name, (sdf, batch, cols, min_cov) in cases.items():
        q = _run_append(sdf, f"multi_epoch_{name}")
        # four data micro-batches plus the final watermark-advance one
        assert q.lastProgress["batchId"] >= 4, (name, q.lastProgress["batchId"])
        got = spark.sql(f"SELECT * FROM {q.name}").toPandas()[key + cols]
        exp = batch.select(*key, *cols).toPandas()
        _assert_emitted_match_batch(got, exp, key, cols, min_cov)


def test_stream_row_at_watermark_never_reaches_fold(spark, tmp_path):
    """Spark's late filter drops ts <= the previous micro-batch's
    watermark, the last one a fold saw. Conv A's turn 1 at exactly 100 s
    arrives one batch after the watermark reached 100 s: it never
    reaches the state function, and every emitted row equals the batch
    result on the rows that did (turn 2, also at 100 s, came earlier)."""
    from engine.operators.core import sessionize
    from engine.operators.topk import add_top_tools_expanding
    from engine.streaming import stream_sessionize_exact, stream_top_tools

    t0 = pd.Timestamp("2024-01-01")

    def turns(*rows):
        return pd.DataFrame(
            [(c, i, "user", "t", tool, t0 + pd.Timedelta(seconds=s))
             for c, i, tool, s in rows],
            columns=TRANSCRIPT_SCHEMA.fieldNames(),
        )

    files = [
        turns(("A", 0, "x", 0), ("B", 0, "x", 50)),
        turns(("A", 2, "z", 100)),
        turns(("C", 0, "x", 100)),  # this batch's watermark: 100 s
        turns(("A", 1, "y", 100), ("D", 0, "x", 200)),  # A turn AT it
    ]
    path = _write_files(str(tmp_path / "t"), files, TRANSCRIPT_SCHEMA)
    reached = spark.createDataFrame(
        pd.concat(files).query("not (conv_id == 'A' and turn_idx == 1)"),
        TRANSCRIPT_SCHEMA,
    )

    key = ["conv_id", "turn_idx"]
    cases = {
        "top_tools": (
            stream_top_tools, add_top_tools_expanding(reached), ["top_tools"],
        ),
        "sessionize_exact": (
            stream_sessionize_exact,
            sessionize(reached, "conv_id", "ts", "turn_idx", SESSION_GAP_S,
                       seq_col="sess_turn_no"),
            ["session_id", "sess_turn_no"],
        ),
    }
    for name, (op, batch, cols) in cases.items():
        sdf = (
            spark.readStream.schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )
        q = _run_append(op(sdf, watermark="0 seconds"), f"at_wm_{name}")
        dropped = sum(
            s["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            for s in p["stateOperators"]
        )
        assert dropped == 1, (name, dropped)
        got = spark.sql(f"SELECT * FROM {q.name}").toPandas()[key + cols]
        # D's turn at 200 s is the last event, so no watermark passes it
        assert sorted(zip(got["conv_id"], got["turn_idx"])) == [
            ("A", 0), ("A", 2), ("B", 0), ("C", 0)
        ], name
        exp = batch.select(*key, *cols).toPandas()
        _assert_emitted_match_batch(got, exp, key, cols, min_cov=0.8)
