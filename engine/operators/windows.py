"""Window-expressible feature families bound to the transcript shape.

Thin bindings of the generic entity-parametrized operators in
operators/core.py to (conv_id, ts, turn_idx) — plus the transcript-
specific column derivations (txt_len-based lags, session running
length, last-user-text ffill).

Everything here stays inside whole-stage codegen (no Python): lag/lead,
ts-gap sessionization (SURVEY.md §2.5 W4 — the reference's spatial
adjacency grouping re-expressed as temporal adjacency), ffill/backfill
context, and event-time rolling frames. All windows share the one
total order the engine guarantees everywhere: partition by conv_id,
order by (ts, turn_idx) — (reference analog: sort lines by bbox y then
assemble, text_extractor.py:177-193). A single hash repartition on
conv_id is reused by every window below, so the family costs exactly
one shuffle.

Each family is declared once as `*_layers()` (core.Layer lists);
`extract_features` zips them into shared layers, the `add_*` functions
apply one family alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from engine.operators import core
from engine.schema import ROLL_WINDOW_S, SESSION_GAP_S

ENTITY, TS, IDX = "conv_id", "ts", "turn_idx"
TS_SEC = "_ts_sec"  # internal epoch-seconds double column


def _over(frame: str = "") -> str:
    return core.over(ENTITY, TS, IDX, frame)


def ts_sec_layers() -> list[core.Layer]:
    # timestamp → epoch seconds as double (µs-exact for ms-precision data;
    # identical to pandas int64-µs/1e6 under IEEE correctly-rounded division)
    return [{TS_SEC: core.ts_seconds_sql(TS)}]


def lag_lead_layers() -> list[core.Layer]:
    """lag/lead turn features + inter-turn gaps (seconds, double)."""
    w = _over()
    return [{
        "lag_text_len": f"lag(txt_len) {w}",
        "lead_text_len": f"lead(txt_len) {w}",
        "gap_prev_s": f"{TS_SEC} - lag({TS_SEC}) {w}",
        "gap_next_s": f"lead({TS_SEC}) {w} - {TS_SEC}",
    }]


def sessionization_layers(gap_s: float = SESSION_GAP_S) -> list[core.Layer]:
    """ts-gap sessionization within conv_id (W4).

    New session iff gap_prev_s > gap_s (strict). session_id is 0-based
    per conversation; sess_turn_no is 1-based within session;
    sess_len_so_far is the running sum of txt_len within the session
    (inclusive of the current turn), cumulative-minus-base over the
    SAME conv window — a window over (conv, session) would force a
    second per-partition sort.
    """
    first, second = core.sessionize_layers(
        ENTITY, TS, IDX, gap_s, session_col="session_id", seq_col="sess_turn_no"
    )
    cum = _over(core.CUM)
    len0 = "CAST(coalesce(txt_len, 0) AS BIGINT)"
    first["_cum_len"] = f"sum({len0}) {cum}"
    base = f"last(CASE WHEN {core.NEW_SESS} = 1 THEN _cum_len - {len0} END, true) {cum}"
    second["sess_len_so_far"] = f"_cum_len - {base}"
    return [first, second]


def context_ffill_layers() -> list[core.Layer]:
    """Forward-fill of tool / last-user-text context (backfill family),
    inclusive of the current turn (the current row is not the future,
    so this is leakage-free)."""
    return [{
        "ctx_last_tool": core.ffill_expr(ENTITY, TS, IDX, "tool"),
        "ctx_last_user_text": core.ffill_expr(
            ENTITY, TS, IDX, "CASE WHEN role = 'user' THEN text END"
        ),
    }]


def rolling_layers(
    window_s: float = ROLL_WINDOW_S, approx_distinct: bool = False
) -> list[core.Layer]:
    """Event-time rolling stats over the past `window_s` seconds.

    RANGE frame [ts - window_s, ts] — inclusive of both boundaries and
    of all peers of the current timestamp (rows with equal ts), which
    is exactly the `ts' <= ts` leakage rule. Ordered by the
    materialized TS_SEC column.

    Distinct-tool count is exact (collect_list → array_distinct) for
    test parity; at benchmark scale `approx_distinct=True` switches the
    rolling distinct to a cheaper approximation EXCLUDED from allclose
    columns (SURVEY.md §7.4).
    """
    aggs = {
        "roll_cnt_5m": "count(1)",
        "roll_avg_len_5m": "avg(txt_len)",
        # window aggregates only — size/array_distinct applied after
        "_roll_tools": "approx_count_distinct(tool)" if approx_distinct else "collect_list(tool)",
    }
    first = core.rolling_range_layer(ENTITY, TS, window_s, aggs, order_col=TS_SEC)
    distinct = "_roll_tools" if approx_distinct else "size(array_distinct(_roll_tools))"
    return [first, {
        # P8 neighborhood-relative value: txt_len vs the trailing-window
        # mean it is part of — zero extra window evaluation
        "roll_rel_len_5m": "CAST(txt_len AS DOUBLE) - roll_avg_len_5m",
        "roll_tools_distinct_5m": f"CAST({distinct} AS INT)",
    }]


def with_ts_sec(df: DataFrame) -> DataFrame:
    return core.with_layers(df, ts_sec_layers())


def add_lag_lead(df: DataFrame) -> DataFrame:
    return core.with_layers(df, lag_lead_layers())


def add_sessionization(df: DataFrame, gap_s: float = SESSION_GAP_S) -> DataFrame:
    return core.with_layers(df, sessionization_layers(gap_s))


def add_context_ffill(df: DataFrame) -> DataFrame:
    return core.with_layers(df, context_ffill_layers())


def add_rolling(
    df: DataFrame, window_s: float = ROLL_WINDOW_S, approx_distinct: bool = False
) -> DataFrame:
    return core.with_layers(df, rolling_layers(window_s, approx_distinct))
