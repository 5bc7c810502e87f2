"""Untimed correctness checks: oracle parity, an order-independent
feature fingerprint, and DuckDB oracles for the gate queries.

Each check returns a list of problems (empty = pass). `corrupt=True`
perturbs the engine's side first, so the smoke test can prove that a
wrong output is counted as a failed operation.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

INT_COLS = [
    "turn_idx", "txt_len", "txt_words", "lag_text_len", "lead_text_len",
    "session_id", "sess_turn_no", "sess_len_so_far", "roll_cnt_5m",
    "roll_tools_distinct_5m",
]
FLOAT_COLS = ["gap_prev_s", "gap_next_s", "roll_avg_len_5m", "roll_rel_len_5m", "asof_ctx_value"]
STR_COLS = ["clean_text", "len_class", "ctx_last_tool", "ctx_last_user_text", "asof_ctx_label"]
FEATURE_KEYS = ["conv_id", "ts", "turn_idx"]
_CTE = re.compile(r"\b(\w+) AS \((?=\s*(SELECT|WITH)\b)")


def materialized(sql: str) -> str:
    """The oracle SQL with every CTE marked MATERIALIZED. DuckDB inlines
    a CTE at each reference, so the dedup oracles' unrolled
    label-propagation steps (each reads the previous one twice) rebuild
    the pair graph 2^k times: ~35 s per query at sf0.001, ~1 s
    materialized, same rows."""
    return _CTE.sub(r"\1 AS MATERIALIZED (", sql)


def compare_frames(got: pd.DataFrame, exp: pd.DataFrame, keys: list[str] | None = None,
                   rtol: float = 1e-9, atol: float = 1e-12) -> list[str]:
    """Row-set equality after a canonical sort: numbers allclose with
    equal nullness, everything else exact (the tolerances of
    tests/compare.py for features, scripts/check_queries.py for the
    gate)."""
    if sorted(got.columns) != sorted(exp.columns):
        return [f"columns {sorted(got.columns)} != {sorted(exp.columns)}"]
    if len(got) != len(exp):
        return [f"rows {len(got)} != {len(exp)}"]
    cols = sorted(exp.columns)

    def canon(df):
        if keys:
            return df.sort_values(keys, kind="mergesort").reset_index(drop=True)[cols]
        key = df[cols].astype(str)
        return df.iloc[np.lexsort([key[c].to_numpy() for c in reversed(cols)])].reset_index(drop=True)[cols]

    got, exp = canon(got), canon(exp)
    problems = []
    for c in cols:
        g, e = got[c], exp[c]
        if pd.api.types.is_numeric_dtype(g) and pd.api.types.is_numeric_dtype(e):
            ga, ea = g.to_numpy(dtype="float64"), e.to_numpy(dtype="float64")
            if not (np.isnan(ga) == np.isnan(ea)).all():
                problems.append(f"{c}: null mismatch")
            elif not np.allclose(ga, ea, rtol=rtol, atol=atol, equal_nan=True):
                problems.append(f"{c}: values differ")
        else:
            def norm(x):
                if isinstance(x, (list, tuple, np.ndarray)):
                    return tuple(norm(v) for v in x)
                return None if x is None or (np.isscalar(x) and pd.isna(x)) else x
            if any(a != b for a, b in zip(g.map(norm), e.map(norm))):
                problems.append(f"{c}: values differ")
    return problems


def fingerprint_spark(features) -> dict:
    """Row count plus column sums, null counts, string lengths and two
    cross products: cheap, order-independent, and computed the same
    way from the pandas oracle."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("rows"), F.countDistinct("conv_id").alias("convs")]
    aggs += [F.sum(c).cast("long").alias(f"sum_{c}") for c in INT_COLS]
    aggs += [F.sum(c).alias(f"sum_{c}") for c in FLOAT_COLS]
    aggs += [F.count(c).alias(f"n_{c}") for c in FLOAT_COLS + STR_COLS + ["top_tools"]]
    aggs += [F.sum(F.length(c)).cast("long").alias(f"len_{c}") for c in STR_COLS]
    aggs += [
        F.sum(F.when(F.col("top_tools").isNotNull(), F.size("top_tools"))).cast("long").alias("len_top_tools"),
        F.sum(F.col("turn_idx").cast("long") * F.col("session_id")).alias("x_turn_session"),
        F.sum(F.col("txt_len").cast("long") * F.col("sess_turn_no")).alias("x_len_sessturn"),
    ]
    row = features.agg(*aggs).first().asDict()
    return {k: (0 if v is None else v) for k, v in row.items()}


def fingerprint_pandas(df: pd.DataFrame) -> dict:
    out = {"rows": len(df), "convs": int(df["conv_id"].nunique())}
    for c in INT_COLS:
        out[f"sum_{c}"] = int(df[c].fillna(0).astype("int64").sum())
    for c in FLOAT_COLS:
        out[f"sum_{c}"] = float(df[c].astype("float64").sum())
    for c in FLOAT_COLS + STR_COLS + ["top_tools"]:
        out[f"n_{c}"] = int(df[c].notna().sum())
    for c in STR_COLS:
        out[f"len_{c}"] = int(df[c].dropna().map(len).sum())
    out["len_top_tools"] = int(df["top_tools"].dropna().map(len).sum())
    ti, si = df["turn_idx"].astype("int64"), df["session_id"].fillna(0).astype("int64")
    out["x_turn_session"] = int((ti * si).sum())
    tl, st = df["txt_len"].fillna(0).astype("int64"), df["sess_turn_no"].fillna(0).astype("int64")
    out["x_len_sessturn"] = int((tl * st).sum())
    return out


def compare_fingerprints(got: dict, exp: dict, corrupt: bool = False) -> list[str]:
    if corrupt:
        got = {**got, "rows": got["rows"] + 1}
    problems = []
    for k, e in exp.items():
        g = got.get(k)
        if isinstance(e, float):
            if not np.isclose(g, e, rtol=1e-9, atol=1e-6):
                problems.append(f"{k}: {g} != {e}")
        elif g != e:
            problems.append(f"{k}: {g} != {e}")
    return problems


def corrupt_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Drop one row: the smallest change every check must notice."""
    return df.iloc[1:].reset_index(drop=True)
