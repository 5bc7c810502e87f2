"""Single-process pandas/numpy oracle — no Spark anywhere.

Recomputes the full per-(conv_id, ts, turn_idx) feature vector with
*independent* implementations of every family (groupby/shift/
searchsorted/merge_asof), except `clean_text`, which is deliberately
the shared byte-identical function (SURVEY.md §7.4: Python
printable/whitespace semantics must not be re-implemented twice).

Used by the pytest parity gate: numpy.allclose at every entity×ts,
exact compare for strings/arrays (SURVEY.md §5.1-5.2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from engine.functions.text import (
    clean_text_series,
    len_class_py,
    txt_len_series,
    txt_words_series,
)
from engine.schema import MAX_TEXT_LEN, ROLE_DOMAIN, ROLL_WINDOW_S, SESSION_GAP_S, TOP_K_TOOLS


def oracle_quarantine_mask(df: pd.DataFrame) -> pd.Series:
    """True → row quarantined (mirrors operators/quality.py gates)."""
    bad = df["conv_id"].isna() | df["ts"].isna()
    bad |= df["role"].notna() & ~df["role"].isin(ROLE_DOMAIN)
    bad |= df["text"].str.len() > MAX_TEXT_LEN
    bad |= df["turn_idx"].isna() | (df["turn_idx"] < 0)
    return bad


def oracle_features(
    transcripts: pd.DataFrame,
    context: pd.DataFrame | None = None,
    session_gap_s: float = SESSION_GAP_S,
    roll_window_s: float = ROLL_WINDOW_S,
    k: int = TOP_K_TOOLS,
) -> pd.DataFrame:
    df = transcripts.loc[~oracle_quarantine_mask(transcripts)].copy()
    df = df.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(
        drop=True
    )

    # --- text family (shared clean_text by design) ---
    df["clean_text"] = clean_text_series(df["text"])
    df["txt_len"] = txt_len_series(df["clean_text"])
    df["txt_words"] = txt_words_series(df["clean_text"])
    df["len_class"] = df["txt_len"].map(len_class_py, na_action="ignore")

    g = df.groupby("conv_id", sort=False)

    # --- lag/lead + gaps ---
    # epoch seconds as double via exact µs (int64 ns > 2^53 would lose
    # precision on float conversion; µs matches Spark's cast-to-double).
    # Normalize to ns FIRST: astype('int64') is unit-dependent, and a
    # datetime64[us] frame (normal from pyarrow reads) would scale all
    # time math 1000x.
    ts_us = df["ts"].astype("datetime64[ns]").astype("int64") // 1000
    ts_sec = ts_us / 1e6
    df["_ts_sec"] = ts_sec
    df["lag_text_len"] = g["txt_len"].shift(1)
    df["lead_text_len"] = g["txt_len"].shift(-1)
    df["gap_prev_s"] = ts_sec - g["_ts_sec"].shift(1)
    df["gap_next_s"] = g["_ts_sec"].shift(-1) - ts_sec

    # --- sessionization ---
    new_sess = df["gap_prev_s"].isna() | (df["gap_prev_s"] > session_gap_s)
    df["session_id"] = (new_sess.groupby(df["conv_id"]).cumsum() - 1).astype("int32")
    gs = df.groupby(["conv_id", "session_id"], sort=False)
    df["sess_turn_no"] = (gs.cumcount() + 1).astype("int32")
    df["sess_len_so_far"] = (
        df["txt_len"].fillna(0).astype("int64").groupby(
            [df["conv_id"], df["session_id"]]
        ).cumsum()
    )

    # --- context ffill ---
    df["ctx_last_tool"] = g["tool"].ffill()
    user_text = df["text"].where(df["role"] == "user")
    df["ctx_last_user_text"] = user_text.groupby(df["conv_id"]).ffill()

    # --- rolling event-time frames [ts - w, ts] incl. peers ---
    roll_cnt = np.empty(len(df), dtype="int64")
    roll_avg = np.full(len(df), np.nan)
    roll_dst = np.empty(len(df), dtype="int32")
    # hoisted out of the per-conversation loop: re-running these O(n)
    # conversions per conversation made the oracle O(rows x convs).
    # Frames in integer µs, like the engine's interval bound: exact for
    # every window, fractional ones included.
    ts_us_all = ts_us.to_numpy()
    w_us = round(float(roll_window_s) * 1e6)
    lens_all = df["txt_len"].to_numpy(dtype="float64", na_value=np.nan)
    tools_all = df["tool"].to_numpy()
    for _, idx in g.indices.items():
        idx = np.sort(idx)
        v = ts_us_all[idx]
        lens = lens_all[idx]
        tools = tools_all[idx]
        lo = np.searchsorted(v, v - w_us, side="left")
        hi = np.searchsorted(v, v, side="right")
        for j in range(len(idx)):
            s, e = lo[j], hi[j]
            roll_cnt[idx[j]] = e - s
            seg = lens[s:e]
            seg = seg[~np.isnan(seg)]
            if len(seg):
                roll_avg[idx[j]] = seg.mean()
            tl = [t for t in tools[s:e] if t is not None and not pd.isna(t)]
            roll_dst[idx[j]] = len(set(tl))
    df["roll_cnt_5m"] = roll_cnt
    df["roll_avg_len_5m"] = roll_avg
    # P8 neighborhood-relative (independent recomputation: pandas sub,
    # not the engine's expression)
    df["roll_rel_len_5m"] = df["txt_len"].astype("float64") - roll_avg
    df["roll_tools_distinct_5m"] = roll_dst

    # --- as-of join (independent: per-conv scan over sorted context) ---
    df["asof_ctx_value"] = np.nan
    df["asof_ctx_label"] = None
    if context is not None:
        # null event times are never admissible (engine parity —
        # operators/asof.py); astype(int64) would also map NaT to
        # int64-min and break searchsorted's sorted precondition
        ctx_sorted = context.loc[context["event_ts"].notna()].sort_values(
            ["conv_id", "event_ts", "event_idx"], kind="mergesort"
        )
        ctx_by_conv = {cid: sub for cid, sub in ctx_sorted.groupby("conv_id", sort=False)}
        vals = np.full(len(df), np.nan)
        labs = np.full(len(df), None, dtype=object)
        for cid, idx in g.indices.items():
            sub = ctx_by_conv.get(cid)
            if sub is None:
                continue
            idx = np.sort(idx)
            ev = sub["event_ts"].astype("datetime64[ns]").astype("int64").to_numpy() // 1000
            cv = sub["ctx_value"].to_numpy()
            cl = sub["ctx_label"].to_numpy(dtype=object)
            pos = np.searchsorted(ev, ts_us_all[idx], side="right") - 1
            ok = pos >= 0
            vals[idx[ok]] = cv[pos[ok]]
            labs[idx[ok]] = cl[pos[ok]]
        df["asof_ctx_value"] = vals
        df["asof_ctx_label"] = labs

    # --- expanding top-k tools (independent impl: Counter-free) ---
    tops: list[list[str]] = [None] * len(df)  # type: ignore[list-item]
    for _, idx in g.indices.items():
        idx = np.sort(idx)
        counts: dict[str, int] = {}
        for j in idx:
            t = tools_all[j]
            if t is not None and not pd.isna(t) and t != "":
                counts[t] = counts.get(t, 0) + 1
            if counts:
                ranked = sorted(counts, key=lambda x: (-counts[x], x))[:k]
                ranked = ranked + [ranked[-1]] * (k - len(ranked))
            else:
                ranked = []
            tops[j] = ranked
    df["top_tools"] = tops

    out_cols = [
        "conv_id", "turn_idx", "ts", "role", "tool",
        "clean_text", "txt_len", "txt_words", "len_class",
        "ctx_last_tool", "ctx_last_user_text",
        "lag_text_len", "lead_text_len", "gap_prev_s", "gap_next_s",
        "session_id", "sess_turn_no", "sess_len_so_far",
        "roll_cnt_5m", "roll_avg_len_5m", "roll_rel_len_5m",
        "roll_tools_distinct_5m",
        "asof_ctx_value", "asof_ctx_label", "top_tools",
    ]
    return df[out_cols].reset_index(drop=True)
