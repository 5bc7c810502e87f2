"""Pandas as-of oracle: the `asof_join` contract as one pd.merge_asof
call, for differential tests of the engine's union-tag operator."""

from __future__ import annotations

import pandas as pd


def pandas_asof(
    probe: pd.DataFrame,
    context: pd.DataFrame,
    on: str = "conv_id",
    probe_ts: str = "ts",
    ctx_ts: str = "event_ts",
    ctx_idx: str = "event_idx",
    payload: list[str] | None = None,
    strict: bool = False,
    prefix: str = "asof_",
) -> pd.DataFrame:
    """Probe rows plus `prefix`+payload of the max-(ctx_ts, ctx_idx)
    context row of the same key at or before (strict: before) the probe
    ts. Null-ts context rows never match; null-ts probes get nulls."""
    if payload is None:
        payload = [c for c in context.columns if c not in (on, ctx_ts, ctx_idx)]
    # sorted by (ctx_ts, ctx_idx), the last admissible row is the max
    ctx = context[context[ctx_ts].notna()].sort_values([ctx_ts, ctx_idx], kind="mergesort")
    ctx = ctx[[on, ctx_ts, *payload]].rename(columns={c: prefix + c for c in payload})
    has_ts = probe[probe_ts].notna()
    matched = pd.merge_asof(
        probe[has_ts].sort_values(probe_ts, kind="mergesort"), ctx,
        left_on=probe_ts, right_on=ctx_ts, by=on,
        direction="backward", allow_exact_matches=not strict,
    ).drop(columns=ctx_ts)
    return pd.concat([matched, probe[~has_ts]], ignore_index=True)
