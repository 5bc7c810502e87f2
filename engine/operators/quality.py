"""Boundary validation → good/quarantine split.

The reference validates at the boundary with typed error codes and
routes failures to an error sidecar instead of failing the request
(app/utils/image_validator.py:16-124; FeatureError,
app/api/v1/models/analyze.py:13-28). The engine mirrors that: rows
failing a gate go to a quarantine DataFrame with (code, message,
severity); good rows proceed untouched. Codes per FIXTURES.md §4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from engine.operators.core import num
from engine.schema import MAX_TEXT_LEN, ROLE_DOMAIN


def _s(text: str) -> str:
    """SQL string literal of a code-side constant."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


# (code, predicate-of-failure, message) — first failing gate wins,
# mirroring the reference's sequential validator ordering.
GATES = [
    ("MISSING_KEY", "conv_id IS NULL OR ts IS NULL", "null conv_id or ts"),
    (
        "INVALID_ENUM",
        f"role IS NOT NULL AND NOT role IN ({', '.join(map(_s, ROLE_DOMAIN))})",
        "role outside domain whitelist",
    ),
    ("ROW_TOO_LARGE", f"length(text) > {num(MAX_TEXT_LEN)}", f"text longer than {MAX_TEXT_LEN}"),
    ("BAD_TURN_INDEX", "turn_idx IS NULL OR turn_idx < 0", "negative or null turn_idx"),
]


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Return (good, errors). `errors` has ERROR_SCHEMA columns."""
    code = "CASE " + " ".join(f"WHEN {p} THEN {_s(c)}" for c, p, _m in GATES) + " END"
    msg = "CASE " + " ".join(f"WHEN {p} THEN {_s(m)}" for _c, p, m in GATES) + " END"
    good = df.where(f"{code} IS NULL")
    # filtering on the materialized code column types it NOT NULL
    errors = (
        df.selectExpr("conv_id", "turn_idx", f"{code} AS code", f"{msg} AS message")
        .where("code IS NOT NULL")
        .selectExpr("*", "'error' AS severity")
    )
    return good, errors
