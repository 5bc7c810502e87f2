"""Generic, entity-parametrized point-in-time operators.

The transcript pipeline binds these to (conv_id, ts, turn_idx); the
driver-table queries bind them to (user_id, ts, event_id). One
implementation, two surfaces — every operator shuffles once on the
entity key and computes inside whole-stage codegen.

The window operators are declared as SQL expression text in *layers*
(`Layer`: output column → expression; a later layer may read an
earlier one's columns) and applied with one `selectExpr` per layer
(`with_layers`). A caller that needs several families zips them by
depth (`merge_layers`) so Catalyst puts every window of one spec into
one Window operator, and the plan is built in a few analysed calls
instead of one per column. Only code-side identifiers and constants
become SQL text; values from the data go in as Column literals (Spark
substitutes `${...}` even inside SQL string literals).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F

Layer = dict[str, str]

CUM = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
NEW_SESS = "_new_sess"  # 1 on a session's first row, else 0


def q(name: str) -> str:
    """Backtick-quoted identifier."""
    return "`" + name.replace("`", "``") + "`"


def num(x) -> str:
    """SQL literal of a code-side number, typed as F.lit types it
    (a bare `0.5` would parse as DECIMAL)."""
    if isinstance(x, float):
        return f"{float(x)!r}D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"
    return str(int(x))


def over(entity: str, ts: str, idx: str, frame: str = "") -> str:
    """OVER clause of the one (entity) × (ts, idx) order every
    operator shares."""
    return f"OVER (PARTITION BY {q(entity)} ORDER BY {q(ts)}, {q(idx)} {frame})"


def with_layers(df: DataFrame, layers: list[Layer], drop: list[str] = ()) -> DataFrame:
    """Apply `layers` in order, one selectExpr each, with withColumn's
    replace-in-place-else-append rule. The last layer also drops
    `drop` and the `_`-prefixed columns the earlier layers introduced."""
    cols = df.columns
    temps = {c for layer in layers[:-1] for c in layer if c.startswith("_") and c not in cols}
    for i, layer in enumerate(layers):
        gone = set(drop) | temps if i == len(layers) - 1 else set()
        keep = [c for c in cols if c not in gone or c in layer]
        new = [c for c in layer if c not in cols]
        exprs = [f"{layer[c]} AS {q(c)}" for c in new]
        if len(keep) < len(cols) or len(new) < len(layer):
            # a drop or a replacement names every column (each name is
            # a py4j round trip, so "*" where it can)
            exprs = [f"{layer[c]} AS {q(c)}" if c in layer else q(c) for c in keep] + exprs
        else:
            exprs.insert(0, "*")
        df = df.selectExpr(*exprs)
        cols = keep + new
    return df


def merge_layers(*families: list[Layer]) -> list[Layer]:
    """Zip families by dependency depth into one layer per depth."""
    return [
        {k: v for fam in families if i < len(fam) for k, v in fam[i].items()}
        for i in range(max(map(len, families)))
    ]


def order_cols(ts: str, idx: str) -> list[Column]:
    return [F.col(ts).asc(), F.col(idx).asc()]


def entity_window(entity: str, ts: str, idx: str) -> Window:
    return Window.partitionBy(entity).orderBy(*order_cols(ts, idx))


def ts_seconds_sql(ts: str) -> str:
    """Timestamp → epoch seconds as double (µs-exact).

    TIMESTAMP_NTZ (how Spark 4 reads naive parquet timestamps) cannot
    cast directly to double; route through TIMESTAMP first — with the
    engine's pinned UTC session timezone this interprets naive values
    as UTC instants, matching DuckDB's epoch_us().
    """
    return f"CAST(CAST({q(ts)} AS TIMESTAMP) AS DOUBLE)"


def ts_seconds(ts: str) -> Column:
    return F.expr(ts_seconds_sql(ts))


def sessionize_layers(
    entity: str,
    ts: str,
    idx: str,
    gap_s: float,
    session_col: str = "session_id",
    seq_col: str | None = "sess_seq",
    strict_boundary: bool = False,
) -> list[Layer]:
    """Layers of `sessionize`; the first also holds NEW_SESS (and the
    row number `_rn` when `seq_col` is asked for)."""
    w, cum = over(entity, ts, idx), over(entity, ts, idx, CUM)
    sec = ts_seconds_sql(ts)
    gap = f"({sec} - lag({sec}) {w})"
    breaks = f"{gap} {'>=' if strict_boundary else '>'} {num(gap_s)}"
    first = {NEW_SESS: f"CASE WHEN {gap} IS NULL OR {breaks} THEN 1 ELSE 0 END"}
    second = {session_col: f"CAST(sum({NEW_SESS}) {cum} - 1 AS INT)"}
    if seq_col:
        first["_rn"] = f"row_number() {w}"
        start_rn = f"last(CASE WHEN {NEW_SESS} = 1 THEN _rn END, true) {cum}"
        second[seq_col] = f"CAST(_rn - {start_rn} + 1 AS INT)"
    return [first, second]


def sessionize(
    df: DataFrame,
    entity: str,
    ts: str,
    idx: str,
    gap_s: float,
    session_col: str = "session_id",
    seq_col: str | None = "sess_seq",
    strict_boundary: bool = False,
) -> DataFrame:
    """ts-gap sessionization: new session iff gap to previous row
    strictly exceeds gap_s (default), or iff gap >= gap_s when
    `strict_boundary` — the latter matches Structured Streaming's
    `session_window` (end-exclusive window [start, last+gap)).
    0-based session id per entity; optional 1-based row sequence
    within session.

    Every expression runs over the ONE (entity)×(ts, idx) window the
    whole pipeline shares — sess_seq is derived as
    row_number − row_number-at-session-start + 1 instead of a
    row_number over (entity, session), which would force a second sort
    per partition (measurably expensive at scale)."""
    return with_layers(
        df,
        sessionize_layers(entity, ts, idx, gap_s, session_col, seq_col, strict_boundary),
    )


def ffill_expr(entity: str, ts: str, idx: str, src: str) -> str:
    """Last non-null value of SQL expression `src` at or before this row."""
    return f"last({src}, true) {over(entity, ts, idx, CUM)}"


def ffill(df: DataFrame, entity: str, ts: str, idx: str, src: str, out: str) -> DataFrame:
    """Forward-fill of `src` (SQL expression text; a column name is one)."""
    return with_layers(df, [{out: ffill_expr(entity, ts, idx, src)}])


def bfill(df: DataFrame, entity: str, ts: str, idx: str, src: str, out: str) -> DataFrame:
    """Backfill: first non-null value of `src` at or after this row.

    NOTE on leakage: unlike ffill, a backfilled column looks FORWARD in
    time — it is a training-label/imputation tool (the north rule's
    'backfill of tool and role context'), never a feature for the row's
    own timestamp. Callers own that discipline; the operator shares the
    one (entity)×(ts, idx) window spec (reversed frame, same sort)."""
    fut = over(entity, ts, idx, "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING")
    return with_layers(df, [{out: f"first({src}, true) {fut}"}])


def _range_frame(ts: str, window_s: float, order_col: str | None) -> tuple[str, int]:
    """(order key SQL, integral bound) of the RANGE frame [ts - window_s, ts].

    Fractional `window_s` is honored at millisecond precision by
    ordering over a ms-scaled long key (rangeBetween bounds are
    integral) — it used to truncate to whole seconds silently
    (round-3 review finding)."""
    order = q(order_col) if order_col else ts_seconds_sql(ts)
    if float(window_s) == int(window_s):
        return order, int(window_s)
    # floor(x*1000 + 0.5): ONE explicit rounding rule shared with the
    # oracle mirror (engine/oracle/features.py). HALF_UP round vs
    # np.round (half-to-even) disagree on exact half-millisecond
    # boundaries, which would flip window membership between engine
    # and oracle. Epoch seconds are nonnegative, so floor(x+0.5)
    # == HALF_UP here.
    return f"CAST(floor({order} * 1000 + 0.5D) AS BIGINT)", int(round(float(window_s) * 1000))


def rolling_range_layer(
    entity: str, ts: str, window_s: float, aggs: dict[str, str], order_col: str | None = None
) -> Layer:
    """Layer of `rolling_range`: every aggregate over ONE window spec,
    so Catalyst evaluates them in one Window operator."""
    okey, bound = _range_frame(ts, window_s, order_col)
    w = (
        f"OVER (PARTITION BY {q(entity)} ORDER BY {okey} "
        f"RANGE BETWEEN {bound} PRECEDING AND CURRENT ROW)"
    )
    return {out: f"{agg} {w}" for out, agg in aggs.items()}


def rolling_range(
    df: DataFrame,
    entity: str,
    ts: str,
    window_s: float,
    aggs: dict[str, str | Column],
    order_col: str | None = None,
) -> DataFrame:
    """Event-time RANGE frame [ts - window_s, ts] (inclusive, with
    ts-peers — the `ts' <= ts` leakage rule). `aggs` maps output column
    name → SQL aggregate text (or an aggregate Column). Pass `order_col`
    when the epoch-seconds column is already materialized upstream."""
    if all(isinstance(a, str) for a in aggs.values()):
        return with_layers(df, [rolling_range_layer(entity, ts, window_s, aggs, order_col)])
    okey, bound = _range_frame(ts, window_s, order_col)
    w = Window.partitionBy(entity).orderBy(F.expr(okey)).rangeBetween(-bound, Window.currentRow)
    keep = [c for c in df.columns if c not in aggs]
    return df.select(
        *keep,
        *[(F.expr(a) if isinstance(a, str) else a).over(w).alias(o) for o, a in aggs.items()],
    )


def dedup_first(df: DataFrame, keys: list[str], ts: str, idx: str) -> DataFrame:
    """Order-preserving dedup (W5): keep the first row per key set by
    (ts, idx)."""
    w = Window.partitionBy(*keys).orderBy(*order_cols(ts, idx))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def argmax_by(
    df: DataFrame, entity: str, value: str, tie: str
) -> DataFrame:
    """Per-entity arg-max row (A7): max `value`, ties broken by
    smallest `tie`."""
    w = Window.partitionBy(entity).orderBy(F.col(value).desc(), F.col(tie).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def topk_by_count(
    df: DataFrame, entity: str, key: str, k: int, count_col: str = "cnt", rank_col: str = "rank"
) -> DataFrame:
    """Frequency top-k per entity (A2/A3 + W6): hash-agg count with
    map-side partial combine, then windowed rank ≤ k; ties broken by
    key ascending for determinism."""
    counts = df.groupBy(entity, key).agg(F.count(F.lit(1)).alias(count_col))
    w = Window.partitionBy(entity).orderBy(F.col(count_col).desc(), F.col(key).asc())
    return counts.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def bin_threshold(col: Column, hi: float, mid: float, labels=("Light", "Regular", "Bold")) -> Column:
    """3-way threshold binning (P11): >= hi → labels[0], > mid →
    labels[1], else labels[2]; null passes through as null."""
    return (
        F.when(col.isNull(), F.lit(None).cast("string"))
        .when(col >= hi, labels[0])
        .when(col > mid, labels[1])
        .otherwise(labels[2])
    )
