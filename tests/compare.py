"""Tolerant frame comparison for engine-vs-oracle parity.

Numeric columns: np.allclose(rtol=1e-9, atol=1e-12, equal_nan=True).
Strings / timestamps: exact (None ≡ NaN normalized).
Array columns: element-wise exact.
Both sides sorted by the engine's total order first.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

KEYS = ["conv_id", "ts", "turn_idx"]


def _normalize(df: pd.DataFrame, keys=None) -> pd.DataFrame:
    keys = keys or KEYS
    out = df.sort_values(keys, kind="mergesort").reset_index(drop=True)
    return out


def assert_frames_match(got: pd.DataFrame, exp: pd.DataFrame, keys=None) -> None:
    keys = keys or KEYS
    got = _normalize(got, keys)
    exp = _normalize(exp, keys)
    assert len(got) == len(exp), f"row count {len(got)} != {len(exp)}"
    missing = set(exp.columns) - set(got.columns)
    assert not missing, f"missing columns: {missing}"
    for col in exp.columns:
        g, e = got[col], exp[col]
        if _is_numericish(g) and _is_numericish(e):
            ga = pd.to_numeric(g, errors="coerce").to_numpy(dtype="float64")
            ea = pd.to_numeric(e, errors="coerce").to_numpy(dtype="float64")
            # nullness must agree exactly, then values allclose
            assert (np.isnan(ga) == np.isnan(ea)).all(), f"{col}: null mismatch"
            ok = np.allclose(ga, ea, rtol=1e-9, atol=1e-12, equal_nan=True)
            if not ok:
                bad = np.nonzero(
                    ~np.isclose(ga, ea, rtol=1e-9, atol=1e-12, equal_nan=True)
                )[0][:5]
                raise AssertionError(
                    f"{col}: value mismatch at rows {bad.tolist()}: "
                    f"{ga[bad].tolist()} != {ea[bad].tolist()} "
                    f"(keys: {got.iloc[bad][keys].to_dict('records')})"
                )
        elif _is_listish(e):
            for i, (gv, ev) in enumerate(zip(g, e)):
                gl = list(gv) if gv is not None else None
                el = list(ev) if ev is not None else None
                assert gl == el, f"{col} row {i}: {gl} != {el} ({got.iloc[i][keys].to_dict()})"
        else:
            # pd.isna covers None, float-NaN AND pd.NaT — NaT != NaT is
            # True, so unnormalized null timestamps would be reported
            # as a (false) mismatch; lists, not Series.map, which turns
            # None back into NaT on a datetime column
            def _norm_scalar(x):
                try:
                    return None if pd.isna(x) else x
                except (TypeError, ValueError):
                    return x  # non-scalar (shouldn't occur here)

            gn = [_norm_scalar(x) for x in g]
            en = [_norm_scalar(x) for x in e]
            neq = [
                i for i, (a, b) in enumerate(zip(gn, en)) if a != b and not (a is None and b is None)
            ]
            assert not neq, (
                f"{col}: mismatch at rows {neq[:5]}: "
                f"{[(gn[i], en[i]) for i in neq[:3]]} "
                f"(keys: {got.iloc[neq[:3]][keys].to_dict('records')})"
            )


def _is_numericish(s: pd.Series) -> bool:
    if pd.api.types.is_numeric_dtype(s):
        return True
    if s.dtype == object:
        # ALL non-null values must be numeric, not just a head sample:
        # a mixed column classified numeric would have its non-numeric
        # values coerced to NaN on BOTH sides and silently compare
        # equal — a parity gate that can pass on mismatching data
        # (round-3 review finding)
        non_null = s.dropna()
        return len(non_null) > 0 and all(
            isinstance(x, (int, float, np.integer, np.floating))
            for x in non_null
        )
    return False


def _is_listish(s: pd.Series) -> bool:
    non_null = s.dropna()
    return len(non_null) > 0 and isinstance(
        non_null.iloc[0], (list, np.ndarray, tuple)
    )
