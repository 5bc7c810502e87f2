"""Structured Streaming counterparts of the batch feature families
(SURVEY.md §7.6). Every operator takes and returns a streaming
DataFrame; sinks and triggers are the caller's.

- Built-in windows: `stream_sessionize` (per-session aggregates via
  `session_window`) and `stream_rolling_counts` (sliding `window`
  counts), both watermark-bounded; `stream_turn_features` runs the
  batch text kernel unchanged (pandas_udf is streaming-safe).
- One event-time fold, `_event_time_fold`, drives the four stateful
  operators (pandas group state): it buffers each key's rows
  until the watermark makes them final, then folds them in event-time
  order into a small carry, so arrival order never leaks into the
  result and emitted rows equal the batch twin's. The folds:
  `stream_asof` (union-tag walk, carry = latest context payload),
  `stream_top_tools` (count map, ranked by `top_tools_step`),
  `stream_sessionize_exact` (last ts, session index, turn number) and
  `stream_funnel_steps` (the open session's step times + counter).
- Sinks: `stream_to_tableio` / `stream_validated_ingest` commit each
  epoch as an exactly-once TableIO snapshot.

State per key is bounded by the watermark horizon plus the carry.
"""

from __future__ import annotations

from bisect import bisect_left
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from engine.operators.topk import top_tools_step
from engine.schema import ROLL_WINDOW_S, SESSION_GAP_S, TOP_K_TOOLS


def stream_turn_features(df: DataFrame) -> DataFrame:
    """Stateless per-turn features — same kernel as batch."""
    from engine.pipeline import add_text_features

    return add_text_features(df)


def stream_sessionize(
    df: DataFrame,
    gap_s: float = SESSION_GAP_S,
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-(conv_id, session) aggregates with gap-based session windows.

    Returns one row per closed session: conv_id, session start/end,
    n_turns, total txt_len-equivalent (sum of text lengths), n_tools.
    """
    return (
        df.withWatermark("ts", watermark)
        .groupBy(
            F.col("conv_id"),
            # milliseconds: int(gap_s) truncated fractional gaps to
            # whole seconds (0.5 → a zero/invalid gap) silently
            F.session_window("ts", f"{int(gap_s * 1000)} milliseconds").alias(
                "session"
            ),
        )
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).alias("total_text_len"),
            F.count("tool").alias("n_tool_turns"),
        )
        .select(
            "conv_id",
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_turns",
            "total_text_len",
            "n_tool_turns",
        )
    )


def stream_rolling_counts(
    df: DataFrame,
    window_s: float = ROLL_WINDOW_S,
    slide_s: float | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding event-time window counts per conversation — the
    streaming analog of the batch rolling RANGE frame."""
    slide_ms = int((slide_s if slide_s is not None else max(1.0, window_s / 5)) * 1000)
    return (
        df.withWatermark("ts", watermark)
        .groupBy(
            F.col("conv_id"),
            F.window(
                "ts",
                f"{int(window_s * 1000)} milliseconds",
                f"{slide_ms} milliseconds",
            ).alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("roll_cnt"),
            F.avg(F.length("text")).alias("roll_avg_raw_len"),
        )
        .select(
            "conv_id",
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "roll_cnt",
            "roll_avg_raw_len",
        )
    )


# ---------------------------------------------------------------------------
# Event-time fold: the one buffering and finality driver
# ---------------------------------------------------------------------------


def _event_time_fold(
    df: DataFrame,
    key: str,
    cols: list[str],
    n_order: int,
    carry: str,
    init: tuple,
    fold,
    out_schema: T.StructType,
    deadline=None,
) -> DataFrame:
    """Fold each `key` group of a watermarked stream in event-time order.

    Rows buffer in state as `cols` tuples, cols[0] the event time as
    epoch µs (the batch twins are µs-exact; ms would diverge on sub-ms
    timestamps). Rows with ts < watermark are final: they are sorted by
    their first `n_order` fields and handed to
    `fold(key, carry, final_rows, wm_us) -> (carry, out_rows)`, whose
    out_rows are tuples in `out_schema` order with timestamps as µs.

    Spark's late filter drops rows with ts <= the previous micro-batch's
    watermark (the last one a fold saw) before this function, so a row
    AT the watermark is final too; holding it until the watermark passes
    it is conservative, kept so output timing does not change.

    State is the pending rows plus the `carry` fields (a DDL string); it
    survives iff rows are pending or carry != init. The timeout fires
    once the watermark passes the earliest pending row or
    `deadline(carry)` (µs, or None).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    n = len(cols)
    pending = [
        f"p_{c} array<{'bigint' if i == 0 else df.schema[c].dataType.simpleString()}>"
        for i, c in enumerate(cols)
    ]
    names = out_schema.fieldNames()
    ts_out = [f.name for f in out_schema.fields if isinstance(f.dataType, T.TimestampType)]

    def fn(k, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        s = state.getOption or ((),) * n + init
        rows, c = list(zip(*s[:n])), tuple(s[n:])
        for pdf in pdfs:
            ts_us = (pdf[cols[0]].astype("int64") // 1_000).tolist()
            rows.extend(zip(ts_us, *(pdf[x].tolist() for x in cols[1:])))
        rows.sort(key=lambda r: r[:n_order])
        wm_us = state.getCurrentWatermarkMs() * 1000
        cut = bisect_left(rows, wm_us, key=lambda r: r[0])
        c, out = fold(k[0], c, rows[:cut], wm_us)
        rows = rows[cut:]

        if rows or c != init:
            state.update((*([list(x) for x in zip(*rows)] or [[]] * n), *c))
            due = [rows[0][0]] if rows else []
            if deadline is not None and (d := deadline(c)) is not None:
                due.append(d)
            if due:  # the timeout must sit above the current watermark
                state.setTimeoutTimestamp(max(min(due), wm_us) // 1000 + 1)
        elif state.exists:
            state.remove()

        if out:
            pdf = pd.DataFrame(out, columns=names)
            for name in ts_out:
                pdf[name] = pd.to_datetime(pdf[name], unit="us")
            yield pdf

    return (
        df.select(key, *cols)
        .groupBy(key)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=", ".join([*pending, carry]),
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# The four folds
# ---------------------------------------------------------------------------

ASOF_OUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("asof_ctx_value", T.DoubleType()),
        T.StructField("asof_ctx_label", T.StringType()),
    ]
)


def _asof_fold(conv_id, floor, rows, wm_us):
    """The batch `asof_join` walk: in (ts, side, idx) order context
    (side 0) precedes probes at equal ts, so each probe reads the latest
    admissible context's payload, carried as the floor. Later folds only
    see rows at or above the watermark that finalised this one, so the
    floor stays the max-(ts, idx) context."""
    out = []
    for ts, side, idx, role, text, tool, val, lab in rows:
        if side == 0:
            floor = (val, lab)
        else:
            out.append((conv_id, idx, ts, role, text, tool, *floor))
    return floor, out


def stream_asof(
    probe: DataFrame,
    context: DataFrame,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming point-in-time as-of join: per-turn features get the
    latest context event with event_ts <= ts of the same conversation —
    EXACT batch-as-of semantics under event-time (late rows beyond
    `watermark` are dropped by the engine, as in any watermarked op).

    probe:   streaming transcripts (conv_id, turn_idx, ts, role, text, tool)
    context: streaming events (conv_id, event_ts, event_idx, ctx_value, ctx_label)

    The two streams are union-tagged (a stateful operator consumes ONE
    keyed stream); state per conversation is the pending rows within the
    watermark horizon plus the floor payload.
    """
    p = probe.withWatermark("ts", watermark).select(
        "conv_id", "ts", F.lit(1).alias("_side"),
        F.col("turn_idx").cast("long").alias("_idx"), "role", "text", "tool",
    )
    c = context.withWatermark("event_ts", watermark).select(
        "conv_id", F.col("event_ts").alias("ts"), F.lit(0).alias("_side"),
        F.col("event_idx").cast("long").alias("_idx"),
        F.col("ctx_value").alias("_cval"), F.col("ctx_label").alias("_clab"),
    )
    return _event_time_fold(
        p.unionByName(c, allowMissingColumns=True),
        "conv_id",
        ["ts", "_side", "_idx", "role", "text", "tool", "_cval", "_clab"],
        3,
        "floor_value double, floor_label string",
        (None, None),
        _asof_fold,
        ASOF_OUT_SCHEMA,
    )


TOPK_OUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("top_tools", T.ArrayType(T.StringType())),
    ]
)


def stream_top_tools(
    df: DataFrame,
    k: int = TOP_K_TOOLS,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming expanding top-k dominant tools per conversation: per
    turn, the top-k most frequent tools over the conversation's
    event-time prefix up to and including that turn, ranked by the batch
    kernel's `top_tools_step`. The carry is the count map."""

    def fold(conv_id, carry, rows, wm_us):
        counts = dict(carry[0])
        out = [(conv_id, idx, ts, top_tools_step(counts, tool, k)) for ts, idx, tool in rows]
        return (counts,), out

    return _event_time_fold(
        df.withWatermark("ts", watermark),
        "conv_id",
        ["ts", "turn_idx", "tool"],
        2,
        "counts map<string, bigint>",
        ({},),
        fold,
        TOPK_OUT_SCHEMA,
    )


SESS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("session_id", T.IntegerType()),
        T.StructField("sess_turn_no", T.IntegerType()),
    ]
)


def stream_sessionize_exact(
    df: DataFrame,
    gap_s: float = SESSION_GAP_S,
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-turn streaming sessionization with EXACT batch semantics:
    0-based session_id / 1-based sess_turn_no identical to
    operators/core.sessionize on the same rows (strict gap boundary).
    Unlike `stream_sessionize` (session_window keys sessions by window
    struct) it carries the session *index*, which needs ordered state."""
    gap_us = int(gap_s * 1_000_000)

    def fold(conv_id, carry, rows, wm_us):
        last, sess, turn = carry
        out = []
        for ts, idx in rows:
            if last is None or ts - last > gap_us:
                sess, turn = sess + 1, 1
            else:
                turn += 1
            last = ts
            out.append((conv_id, idx, ts, sess, turn))
        return (last, sess, turn), out

    return _event_time_fold(
        df.withWatermark("ts", watermark),
        "conv_id",
        ["ts", "turn_idx"],
        2,
        "last_ts bigint, session_id int, sess_turn_no int",
        (None, -1, 0),
        fold,
        SESS_OUT_SCHEMA,
    )


FUNNEL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_id", T.IntegerType()),
        T.StructField("n_events", T.IntegerType()),
        T.StructField("step_view", T.BooleanType()),
        T.StructField("step_view_click", T.BooleanType()),
        T.StructField("step_full", T.BooleanType()),
    ]
)


def stream_funnel_steps(
    df: DataFrame,
    gap_s: float = SESSION_GAP_S,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming ordered view->click->purchase funnel: one row per
    closed session with EXACT batch semantics (session ids, strict
    step ordering — queries.funnel_session_steps is the batch twin,
    parity-tested in tests/test_streaming.py). Input stream needs
    (user_id, event_id, ts, event_type).

    The carry is the open session (n events, last ts, first view /
    click-after-view / purchase-after-click µs) plus the session
    counter. A session closes on a gap break or once last + gap <
    watermark: every row still to come has ts > watermark, so it
    would break the gap too."""
    gap_us = int(gap_s * 1_000_000)

    def fold(user_id, carry, rows, wm_us):
        n, last, t1, t2, t3, sid = carry
        out = []
        # the watermark closes the open session as a row at ts = wm would
        for i, (ts, _eid, kind) in enumerate([*rows, (wm_us, None, None)]):
            if n and ts - last > gap_us:
                out.append((user_id, sid, n, t1 is not None, t2 is not None, t3 is not None))
                n, last, t1, t2, t3, sid = 0, None, None, None, None, sid + 1
            if i == len(rows):
                break
            n, last = n + 1, ts
            if kind == "view" and t1 is None:
                t1 = ts
            elif kind == "click" and t1 is not None and t2 is None and ts > t1:
                t2 = ts
            elif kind == "purchase" and t2 is not None and t3 is None and ts > t2:
                t3 = ts
        return (n, last, t1, t2, t3, sid), out

    return _event_time_fold(
        df.withWatermark("ts", watermark),
        "user_id",
        ["ts", "event_id", "event_type"],
        2,
        "n_events int, last_ts bigint, t_view bigint, t_click bigint, "
        "t_purchase bigint, next_session int",
        (0, None, None, None, None, 0),
        fold,
        FUNNEL_OUT_SCHEMA,
        deadline=lambda c: c[1] + gap_us if c[0] else None,
    )


# ---------------------------------------------------------------------------
# Streaming sink: exactly-once snapshot commits through TableIO
# ---------------------------------------------------------------------------

def stream_to_tableio(
    sdf: DataFrame,
    io,
    table: str,
    job_id: str,
    ts_col: str | None = "ts",
    checkpoint_dir: str | None = None,
):
    """Streaming sink with exactly-once SNAPSHOT semantics: each
    micro-batch commits as one TableIO snapshot (manifest = the
    commit, per-file lineage included) under
    run_id = f"{job_id}-e{epoch:06d}".

    foreachBatch is at-least-once — on failure Spark REPLAYS the epoch
    with the SAME epoch id — so `TableIO.append`'s is_committed gate
    turns the replay into a no-op: the standard idempotent-sink recipe,
    here with the whole lineage/audit surface riding along (the same
    `--lineage` CLI reads streaming epochs and batch runs alike).
    Iceberg analog: writeTo().append() with a snapshot-summary epoch
    stamp. The (job_id, checkpoint_dir) pair must be stable across
    restarts — epoch ids are per-checkpoint, so a fresh checkpoint with
    a reused job_id would collide with committed run_ids and skip.

    Returns an un-started DataStreamWriter: caller picks the trigger,
    e.g. `.trigger(availableNow=True).start()`.
    """

    def commit(batch_df: DataFrame, epoch_id: int) -> None:
        io.append(
            batch_df.sparkSession,
            batch_df,
            table,
            f"{job_id}-e{int(epoch_id):06d}",
            ts_col=ts_col,
            extra_meta={"epoch": int(epoch_id), "streaming": True},
        )

    writer = sdf.writeStream.foreachBatch(commit).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer


def stream_validated_ingest(
    sdf: DataFrame,
    io,
    job_id: str,
    good_table: str = "turns",
    error_table: str = "errors",
    ts_col: str | None = "ts",
    checkpoint_dir: str | None = None,
):
    """Validated streaming ingestion: every micro-batch runs the
    boundary quality gates (operators/quality.split_quarantine — typed
    codes, never row failures) and commits BOTH sides as TableIO
    snapshots. The quality split is per-row, so it is safe across
    epoch boundaries (unlike window features, which need the state
    machines above).

    Commit order inside an epoch is errors-FIRST, then good rows —
    the same crash rule as the batch runner (engine/runner.py): a
    crash between the two commits re-runs the epoch (good-table
    is_committed gate not yet set) rather than dropping error rows.
    Replayed epochs are no-ops on both tables. Returns an un-started
    DataStreamWriter."""
    from engine.operators.quality import split_quarantine

    def commit(batch_df: DataFrame, epoch_id: int) -> None:
        good, errors = split_quarantine(batch_df)
        run_id = f"{job_id}-e{int(epoch_id):06d}"
        meta = {"epoch": int(epoch_id), "streaming": True}
        io.append(
            batch_df.sparkSession, errors, error_table, run_id,
            ts_col=None, extra_meta=meta,
        )
        io.append(
            batch_df.sparkSession, good, good_table, run_id,
            ts_col=ts_col, extra_meta=meta,
        )

    writer = sdf.writeStream.foreachBatch(commit).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer
