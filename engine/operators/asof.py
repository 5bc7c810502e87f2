"""Point-in-time (as-of) join — the engine's core custom operator.

Spark's DataFrame API has no ASOF join (as of Spark 4.1), so it is one
sort-based plan of JVM primitives: the context rows are tagged and
unioned into the probe, and each probe row takes last(context struct,
ignorenulls) over a cumulative window per entity. One shuffle, all
codegen, and a hot entity costs sort time, not Python memory.

Semantics: for each probe row, among context rows of the same `on` key
with ctx_ts <= probe_ts (strict=False) or ctx_ts < probe_ts
(strict=True), take the one with max (ctx_ts, ctx_idx) and emit its
payload columns — the matched row's values, possibly null, never an
older row's (merge_asof semantics, not per-column ffill). No match →
nulls. A future context row can never be selected.

Null timestamps: a context row with NULL ctx_ts is never admissible
(NULL is not <= anything), so it is dropped up front; otherwise the
null-first sort would serve its payload to every early probe. A probe
row with NULL probe_ts has no admissible event and gets null payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from engine.operators.core import CUM, q


def asof_join(
    probe: DataFrame,
    context: DataFrame,
    on: str = "conv_id",
    probe_ts: str = "ts",
    ctx_ts: str = "event_ts",
    ctx_idx: str = "event_idx",
    payload: list[str] | None = None,
    strict: bool = False,
    strategy: str = "jvm",
    prefix: str = "asof_",
) -> DataFrame:
    """As-of join probe ← context; appends `prefix`+payload columns.

    `strategy` accepts only "jvm", the one formulation; it stays so
    that callers naming it keep working."""
    if strategy != "jvm":
        raise ValueError(f"unknown asof strategy: {strategy}")
    if payload is None:
        payload = [
            c for c in context.columns if c not in (on, ctx_ts, ctx_idx)
        ]
    # null event times are never admissible; see module docstring
    ctx = context.where(f"{q(ctx_ts)} IS NOT NULL").selectExpr(
        q(on),
        f"{q(ctx_ts)} AS {q(probe_ts)}",
        "0 AS _side",
        f"CAST({q(ctx_idx)} AS BIGINT) AS _ev_idx",
        f"struct({', '.join(map(q, payload))}) AS _ctx",
    )
    # each side's missing columns become typed nulls: a probe row is the
    # one with a null _side
    unioned = ctx.unionByName(probe, allowMissingColumns=True)

    # Total order: (ts, side, ctx_idx). Within equal ts, context sorts
    # BEFORE probe for <= semantics (so an exactly-coincident event is
    # visible), AFTER it for strict <. Context rows carry a non-null
    # _ctx struct; the cumulative last(_ctx, ignorenulls) is therefore the
    # latest admissible context row AS A WHOLE (struct-ffill — per-column
    # ffill would wrongly resurrect an older row's non-null payload).
    w = (
        f"OVER (PARTITION BY {q(on)} ORDER BY {q(probe_ts)}, "
        f"_side NULLS {'FIRST' if strict else 'LAST'}, _ev_idx ASC NULLS LAST {CUM})"
    )
    return (
        unioned.selectExpr("*", f"last(_ctx, true) {w} AS _m")
        .where("_side IS NULL")
        .selectExpr(
            *map(q, probe.columns), *[f"_m.{q(c)} AS {q(prefix + c)}" for c in payload]
        )
    )
