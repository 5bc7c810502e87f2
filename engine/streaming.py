"""Structured Streaming counterparts of the batch feature families
(SURVEY.md §7.6) — the event-time semantics were chosen so these drop
in without changing the batch contract.

Covered here:

- `stream_sessionize`: gap sessionization via the built-in
  `session_window(ts, gap)` — per-(conv, session) aggregates with a
  watermark bounding state. (The batch engine's session_id is a
  0-based *index*; the streaming surface keys sessions by their window
  struct instead — indices require total history, which a stream by
  definition lacks. Aggregates per session are identical.)
- `stream_rolling_counts`: sliding event-time window counts per
  conversation (`window(ts, size, slide)` + watermark) — the streaming
  analog of the batch RANGE-frame rolling stats.
- `stream_turn_features`: stateless per-turn features (text kernel,
  threshold bins) — identical code path as batch (pandas_udf is
  streaming-safe).

All operators take and return streaming DataFrames; sinks/triggers are
the caller's. Tests drive them with a file source + `availableNow`
trigger into a memory sink and compare against the batch engine on the
same rows (tests/test_streaming.py).

- `stream_sessionize_exact` / `stream_top_tools`: custom
  watermark-buffered state machines emitting BATCH-IDENTICAL per-turn
  session indices and expanding top-k (rows buffer until the watermark
  passes their event time, so the event-time prefix each emission sees
  is final — arrival order never leaks into the result).
- `stream_asof`: the point-in-time as-of join as a custom
  `applyInPandasWithState` state machine over the union-tagged probe +
  context streams — watermark-buffered, so results are EXACTLY the
  batch as-of on the same rows (event-time order, not arrival order):
  rows buffer in per-conversation state until the watermark passes
  their timestamp (no earlier context can still arrive), then probes
  emit matched against the latest admissible context; older context
  rows collapse into a single "floor" row (only the max-(ts, idx)
  context at-or-below the watermark can ever match a future probe).

At cluster scale: state-store size is bounded by the watermark horizon
× active conversations; shuffle partitioning for the session window is
on conv_id (same key as batch).
"""

from __future__ import annotations

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
# Streaming as-of join (custom stateful operator)
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

# state: pending rows as parallel primitive arrays (probes + contexts
# above the watermark) plus the collapsed context "floor" at/below it
_ASOF_STATE_SCHEMA = T.StructType(
    [
        T.StructField("p_ts", T.ArrayType(T.LongType())),     # epoch us
        T.StructField("p_idx", T.ArrayType(T.LongType())),
        T.StructField("p_role", T.ArrayType(T.StringType())),
        T.StructField("p_text", T.ArrayType(T.StringType())),
        T.StructField("p_tool", T.ArrayType(T.StringType())),
        T.StructField("c_ts", T.ArrayType(T.LongType())),     # epoch us
        T.StructField("c_idx", T.ArrayType(T.LongType())),
        T.StructField("c_val", T.ArrayType(T.DoubleType())),
        T.StructField("c_lab", T.ArrayType(T.StringType())),
        T.StructField("floor_ts", T.LongType()),               # -1 = none
        T.StructField("floor_idx", T.LongType()),
        T.StructField("floor_val", T.DoubleType()),
        T.StructField("floor_lab", T.StringType()),
    ]
)


def _asof_state_fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    """Per-conversation as-of state machine (see module docstring).

    Emits a probe ONLY once the watermark passes its event time — at
    that point the admissible context set (ctx_ts <= probe_ts) is
    final, so the match equals the batch as-of exactly. Equal-ts
    tie-break matches the batch operator: context at ctx_ts == probe_ts
    is visible (strict=False), latest (ctx_ts, ctx_idx) wins.
    """
    conv_id = key[0]
    if state.exists:
        (p_ts, p_idx, p_role, p_text, p_tool,
         c_ts, c_idx, c_val, c_lab,
         floor_ts, floor_idx, floor_val, floor_lab) = state.get
        probes = list(zip(p_ts, p_idx, p_role, p_text, p_tool))
        ctxs = list(zip(c_ts, c_idx, c_val, c_lab))
    else:
        probes, ctxs = [], []
        floor_ts, floor_idx, floor_val, floor_lab = -1, -1, None, None

    for pdf in pdfs:
        # MICROsecond precision end-to-end: ms truncation diverged from
        # the batch twin (epoch-us doubles) on sub-ms timestamps
        ts_us = (pdf["ts"].astype("int64") // 1_000).tolist()
        sides = pdf["_side"].tolist()
        idxs = pdf["_idx"].tolist()
        roles = pdf["role"].tolist()
        texts = pdf["text"].tolist()
        tools = pdf["tool"].tolist()
        vals = pdf["_cval"].tolist()
        labs = pdf["_clab"].tolist()
        for i in range(len(pdf)):
            if sides[i] == 1:
                probes.append((ts_us[i], idxs[i], roles[i], texts[i], tools[i]))
            else:
                v = vals[i]
                ctxs.append(
                    (ts_us[i], idxs[i], None if pd.isna(v) else float(v), labs[i])
                )

    # STRICT prefix: the late-row filter drops ts < wm, so a row AT the
    # watermark can still arrive — and a context at ts == wm would be
    # admissible to a probe at ts == wm. Only ts < wm is final.
    wm_us = state.getCurrentWatermarkMs() * 1000

    out_rows = []
    if probes:
        emit = sorted(
            (p for p in probes if p[0] < wm_us), key=lambda p: (p[0], p[1])
        )
        if emit:
            # context candidates, event-time order
            cand = sorted(ctxs, key=lambda c: (c[0], c[1]))
            probes = [p for p in probes if p[0] >= wm_us]
            j = 0
            best = (
                (floor_ts, floor_idx, floor_val, floor_lab)
                if floor_ts >= 0
                else None
            )
            for pts, pidx, prole, ptext, ptool in emit:
                while j < len(cand) and cand[j][0] <= pts:
                    # only advance on a strictly later (ts, idx): a
                    # context row AT the watermark boundary with a
                    # smaller idx than the stored floor must not win
                    # over it (batch tie-break is max-(ts, idx))
                    if best is None or (cand[j][0], cand[j][1]) > (best[0], best[1]):
                        best = cand[j]
                    j += 1
                out_rows.append(
                    {
                        "conv_id": conv_id,
                        "turn_idx": int(pidx),
                        "ts": pd.Timestamp(pts, unit="us"),
                        "role": prole,
                        "text": ptext,
                        "tool": ptool,
                        "asof_ctx_value": best[2] if best else None,
                        "asof_ctx_label": best[3] if best else None,
                    }
                )

    # collapse contexts strictly below the watermark into the floor:
    # only the latest of them can match any future (ts >= wm) probe
    old = [c for c in ctxs if c[0] < wm_us]
    if old:
        mx = max(old, key=lambda c: (c[0], c[1]))
        if floor_ts < 0 or (mx[0], mx[1]) > (floor_ts, floor_idx):
            floor_ts, floor_idx, floor_val, floor_lab = mx
    ctxs = [c for c in ctxs if c[0] >= wm_us]

    # the FLOOR is state too: dropping it once probes/ctxs drain would
    # make the next probe of this conversation match nothing while the
    # batch engine matches the collapsed old context (review finding)
    if probes or ctxs or floor_ts >= 0:
        probes.sort(key=lambda p: (p[0], p[1]))
        ctxs.sort(key=lambda c: (c[0], c[1]))
        state.update((
            [p[0] for p in probes], [p[1] for p in probes],
            [p[2] for p in probes], [p[3] for p in probes],
            [p[4] for p in probes],
            [c[0] for c in ctxs], [c[1] for c in ctxs],
            [c[2] for c in ctxs], [c[3] for c in ctxs],
            floor_ts, floor_idx, floor_val, floor_lab,
        ))
        if probes:
            # fire when the watermark passes the earliest pending probe
            # (max(.., wm+1): the timeout must sit above the current wm)
            state.setTimeoutTimestamp(
                max(probes[0][0] // 1000 + 1, wm_us // 1000 + 1)
            )
    elif state.exists:
        state.remove()

    if out_rows:
        yield pd.DataFrame(out_rows, columns=[f.name for f in ASOF_OUT_SCHEMA.fields])


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

    Union-tags the two streams (a stateful operator consumes ONE keyed
    stream), groups by conv_id, and runs the watermark-buffered state
    machine above. State per conversation is bounded by the watermark
    horizon (pending rows) + one floor row.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    p = probe.withWatermark("ts", watermark).select(
        "conv_id",
        "ts",
        F.lit(1).alias("_side"),
        F.col("turn_idx").cast("long").alias("_idx"),
        "role",
        "text",
        "tool",
        F.lit(None).cast("double").alias("_cval"),
        F.lit(None).cast("string").alias("_clab"),
    )
    c = context.withWatermark("event_ts", watermark).select(
        "conv_id",
        F.col("event_ts").alias("ts"),
        F.lit(0).alias("_side"),
        F.col("event_idx").cast("long").alias("_idx"),
        F.lit(None).cast("string").alias("role"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("ctx_value").alias("_cval"),
        F.col("ctx_label").alias("_clab"),
    )
    return (
        p.unionByName(c)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _asof_state_fn,
            outputStructType=ASOF_OUT_SCHEMA,
            stateStructType=_ASOF_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming expanding top-k dominant tools (custom stateful operator)
# ---------------------------------------------------------------------------

TOPK_OUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("top_tools", T.ArrayType(T.StringType())),
    ]
)

_TOPK_STATE_SCHEMA = T.StructType(
    [
        T.StructField("p_ts", T.ArrayType(T.LongType())),    # pending, epoch us
        T.StructField("p_idx", T.ArrayType(T.LongType())),
        T.StructField("p_tool", T.ArrayType(T.StringType())),
        T.StructField("c_tool", T.ArrayType(T.StringType())),  # counts so far
        T.StructField("c_n", T.ArrayType(T.LongType())),
    ]
)


def _make_topk_state_fn(k: int):
    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        """Watermark-buffered running top-k: turns buffer until the
        watermark passes their event time (so the processed prefix is
        the true event-time prefix — arrival order never leaks into the
        ranking), then emit in (ts, turn_idx) order with the batch
        kernel's step, operators/topk.top_tools_step."""
        conv_id = key[0]
        if state.exists:
            p_ts, p_idx, p_tool, c_tool, c_n = state.get
            pending = list(zip(p_ts, p_idx, p_tool))
            counts = dict(zip(c_tool, c_n))
        else:
            pending, counts = [], {}

        for pdf in pdfs:
            # us precision + STRICT prefix (ts < wm): rows AT the
            # watermark can still arrive, and ms truncation diverged
            # from the batch twin on sub-ms timestamps
            ts_us = (pdf["ts"].astype("int64") // 1_000).tolist()
            idxs = pdf["turn_idx"].tolist()
            tools = pdf["tool"].tolist()
            pending.extend(zip(ts_us, idxs, tools))

        wm_us = state.getCurrentWatermarkMs() * 1000
        emit = sorted(
            (p for p in pending if p[0] < wm_us), key=lambda p: (p[0], p[1])
        )
        pending = [p for p in pending if p[0] >= wm_us]

        out_rows = [
            {
                "conv_id": conv_id,
                "turn_idx": int(pidx),
                "ts": pd.Timestamp(pts, unit="us"),
                "top_tools": top_tools_step(counts, ptool, k),
            }
            for pts, pidx, ptool in emit
        ]

        if pending or counts:
            pending.sort(key=lambda p: (p[0], p[1]))
            items = sorted(counts.items())
            state.update((
                [p[0] for p in pending], [p[1] for p in pending],
                [p[2] for p in pending],
                [t for t, _ in items], [n for _, n in items],
            ))
            if pending:
                state.setTimeoutTimestamp(
                    max(pending[0][0] // 1000 + 1, wm_us // 1000 + 1)
                )
        elif state.exists:
            state.remove()

        if out_rows:
            yield pd.DataFrame(
                out_rows, columns=[f.name for f in TOPK_OUT_SCHEMA.fields]
            )

    return fn


def stream_top_tools(
    df: DataFrame,
    k: int | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming expanding top-k dominant tools per conversation — the
    stateful counterpart of operators/topk.py: per turn, the top-k most
    frequent tools over the conversation's event-time prefix up to and
    including that turn. Watermark-buffered for exact event-time
    semantics; state per conversation = pending rows within the
    watermark horizon + one bounded count map (|tools| entries)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        df.withWatermark("ts", watermark)
        .select("conv_id", "ts", "turn_idx", "tool")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _make_topk_state_fn(k or TOP_K_TOOLS),
            outputStructType=TOPK_OUT_SCHEMA,
            stateStructType=_TOPK_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming exact sessionization (batch-identical session ids)
# ---------------------------------------------------------------------------

SESS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("session_id", T.IntegerType()),
        T.StructField("sess_turn_no", T.IntegerType()),
    ]
)

_SESS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("p_ts", T.ArrayType(T.LongType())),  # pending, epoch us
        T.StructField("p_idx", T.ArrayType(T.LongType())),
        T.StructField("last_ts", T.LongType()),            # -1 = none emitted
        T.StructField("cur_sess", T.IntegerType()),
        T.StructField("cur_turn", T.IntegerType()),
    ]
)


def _make_sess_state_fn(gap_s: float):
    gap_us = int(gap_s * 1_000_000)

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        """Watermark-buffered exact sessionizer: emits the BATCH
        engine's 0-based session_id / 1-based sess_turn_no per turn
        (strict `gap > gap_s` boundary, (ts, turn_idx) order) — the
        built-in session_window cannot produce session *indices*
        (it keys sessions by window struct); this state machine can,
        because emission is gated on the watermark so the event-time
        prefix is final. Microsecond precision + strict `ts < wm`
        finality (rows AT the watermark can still arrive)."""
        conv_id = key[0]
        if state.exists:
            p_ts, p_idx, last_ts, cur_sess, cur_turn = state.get
            pending = list(zip(p_ts, p_idx))
        else:
            pending, last_ts, cur_sess, cur_turn = [], -1, -1, 0

        for pdf in pdfs:
            pending.extend(
                zip(
                    (pdf["ts"].astype("int64") // 1_000).tolist(),
                    pdf["turn_idx"].tolist(),
                )
            )

        wm_us = state.getCurrentWatermarkMs() * 1000
        emit = sorted(
            (p for p in pending if p[0] < wm_us), key=lambda p: (p[0], p[1])
        )
        pending = sorted(
            (p for p in pending if p[0] >= wm_us), key=lambda p: (p[0], p[1])
        )

        out = []
        for pts, pidx in emit:
            if last_ts < 0 or pts - last_ts > gap_us:
                cur_sess += 1
                cur_turn = 1
            else:
                cur_turn += 1
            last_ts = pts
            out.append(
                {
                    "conv_id": conv_id,
                    "turn_idx": int(pidx),
                    "ts": pd.Timestamp(pts, unit="us"),
                    "session_id": cur_sess,
                    "sess_turn_no": cur_turn,
                }
            )

        if pending or last_ts >= 0:
            state.update((
                [p[0] for p in pending], [p[1] for p in pending],
                last_ts, cur_sess, cur_turn,
            ))
            if pending:
                state.setTimeoutTimestamp(
                    max(pending[0][0] // 1000 + 1, wm_us // 1000 + 1)
                )
        elif state.exists:
            state.remove()

        if out:
            yield pd.DataFrame(
                out, columns=[f.name for f in SESS_OUT_SCHEMA.fields]
            )

    return fn


def stream_sessionize_exact(
    df: DataFrame,
    gap_s: float = SESSION_GAP_S,
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-turn streaming sessionization with EXACT batch semantics:
    0-based session_id / 1-based sess_turn_no identical to
    operators/core.sessionize on the same rows (strict gap boundary).
    Complements `stream_sessionize` (built-in session_window per-session
    aggregates) by carrying the session *index*, which requires ordered
    per-conversation state."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        df.withWatermark("ts", watermark)
        .select("conv_id", "ts", "turn_idx")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _make_sess_state_fn(gap_s),
            outputStructType=SESS_OUT_SCHEMA,
            stateStructType=_SESS_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming ordered multi-step funnel (batch-identical per-session rows)
# ---------------------------------------------------------------------------

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

_FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("p_us", T.ArrayType(T.LongType())),   # pending, epoch us
        T.StructField("p_eid", T.ArrayType(T.LongType())),
        T.StructField("p_type", T.ArrayType(T.StringType())),
        T.StructField("n_sessions", T.IntegerType()),       # emitted so far
    ]
)


def _make_funnel_state_fn(gap_s: float):
    gap_us = int(gap_s * 1_000_000)

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        """Watermark-buffered per-session funnel: emits one row per
        CLOSED session with batch-identical session_id and strict
        event-time-ordered step flags (queries.funnel_session_steps).

        A session is final iff last_event + gap <= watermark: any
        still-possible event has ts > wm >= last + gap, so it breaks
        the gap and cannot join. Finality is a prefix property (a
        non-final session's successor starts > wm, hence is itself
        non-final), so sessions close strictly in order and the
        per-user session counter in state stays batch-identical.
        Microsecond precision end-to-end — strict step comparisons
        (click after first view, purchase after first qualifying
        click) agree with the batch engine's epoch-second doubles,
        which are order- and equality-preserving at us resolution."""
        user_id = key[0]
        if state.exists:
            p_us, p_eid, p_type, n_sessions = state.get
            pending = list(zip(p_us, p_eid, p_type))
        else:
            pending, n_sessions = [], 0

        for pdf in pdfs:
            pending.extend(
                zip(
                    (pdf["ts"].astype("int64") // 1000).tolist(),  # ns -> us
                    pdf["event_id"].tolist(),
                    pdf["event_type"].tolist(),
                )
            )
        pending.sort(key=lambda e: (e[0], e[1]))
        wm_us = state.getCurrentWatermarkMs() * 1000

        # split into gap-delimited sessions (strict `delta > gap`)
        sessions: list[list] = []
        for e in pending:
            if sessions and e[0] - sessions[-1][-1][0] <= gap_us:
                sessions[-1].append(e)
            else:
                sessions.append([e])

        out = []
        n_final = 0
        for sess in sessions:
            if sess[-1][0] + gap_us >= wm_us:
                break  # this and every later session stays pending
            n_final += 1
            t1 = min((us for us, _, k in sess if k == "view"), default=None)
            t2 = (
                min((us for us, _, k in sess if k == "click" and us > t1),
                    default=None)
                if t1 is not None else None
            )
            t3 = (
                min((us for us, _, k in sess if k == "purchase" and us > t2),
                    default=None)
                if t2 is not None else None
            )
            out.append(
                {
                    "user_id": user_id,
                    "session_id": n_sessions,
                    "n_events": len(sess),
                    "step_view": t1 is not None,
                    "step_view_click": t2 is not None,
                    "step_full": t3 is not None,
                }
            )
            n_sessions += 1

        remaining = [e for sess in sessions[n_final:] for e in sess]
        if remaining or n_sessions > 0:
            state.update((
                [e[0] for e in remaining],
                [e[1] for e in remaining],
                [e[2] for e in remaining],
                n_sessions,
            ))
            if remaining:
                close_ms = (remaining[0][0] + gap_us) // 1000 + 1
                state.setTimeoutTimestamp(max(close_ms, wm_us // 1000 + 1))
        elif state.exists:
            state.remove()

        if out:
            yield pd.DataFrame(
                out, columns=[f.name for f in FUNNEL_OUT_SCHEMA.fields]
            )

    return fn


def stream_funnel_steps(
    df: DataFrame,
    gap_s: float = SESSION_GAP_S,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming ordered view->click->purchase funnel: one row per
    closed session with EXACT batch semantics (session ids, strict
    step ordering — queries.funnel_session_steps is the batch twin,
    parity-tested in tests/test_streaming.py). Input stream needs
    (user_id, event_id, ts, event_type)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        df.withWatermark("ts", watermark)
        .select("user_id", "event_id", "ts", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_funnel_state_fn(gap_s),
            outputStructType=FUNNEL_OUT_SCHEMA,
            stateStructType=_FUNNEL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
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
