"""Point-in-time (as-of) join — the engine's core custom operator.

Spark's DataFrame API has no ASOF join (as of Spark 4.1), so it is
built as a *composition* of primitives, in two interchangeable
formulations that differential-test each other (SURVEY.md §7.3):

  strategy='jvm'    — union-tag + last(..., ignorenulls=True) over a
                      cumulative window. 100% JVM/codegen, one shuffle,
                      scales to arbitrarily hot keys. DEFAULT.
  strategy='kernel' — cogrouped applyInPandas with pd.merge_asof,
                      BUCKETED: groups are hash buckets of the entity
                      (many entities per Arrow frame, merged in one
                      vectorized merge_asof(by=entity) call), not one
                      group per entity — per-group pandas overhead was
                      23× the jvm plan with per-entity groups. Hot
                      entities are additionally SALTED into chunks
                      (context replicated per chunk) so no single
                      pandas frame ever holds a whole hot entity.
                      The model for "expensive external per-group
                      kernel" (reference analog: the per-item Tesseract
                      subprocess, text_extractor.py:88-106).

Semantics (both strategies, bit-identical):
  for each probe row (on, probe_ts, probe_idx): among context rows of
  the same `on` key with ctx_ts <= probe_ts (strict=False) or
  ctx_ts < probe_ts (strict=True), take the one with max
  (ctx_ts, ctx_idx); emit its payload columns (the *matched row's*
  values — possibly null — never an older row's, i.e. merge_asof
  semantics, not per-column ffill). No match → nulls. Leakage-free by
  construction: a future context row can never be selected.

Null timestamps (same in both strategies): a context row with NULL
ctx_ts is never admissible (NULL is not <= anything) and is dropped
up front — without the filter, the jvm formulation's null-first sort
would silently serve its payload to every early probe; a probe row
with NULL probe_ts emits null payloads (no admissible event) instead
of crashing the kernel's merge_asof.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from engine.operators.core import CUM, q


def asof_join(
    probe: DataFrame,
    context: DataFrame,
    on: str = "conv_id",
    probe_ts: str = "ts",
    probe_idx: str = "turn_idx",
    ctx_ts: str = "event_ts",
    ctx_idx: str = "event_idx",
    payload: list[str] | None = None,
    strict: bool = False,
    strategy: str = "jvm",
    prefix: str = "asof_",
    kernel_buckets: int | None = None,
    kernel_chunks: int = 4,
) -> DataFrame:
    """As-of join probe ← context; appends `prefix`+payload columns.

    kernel_buckets / kernel_chunks apply to strategy='kernel' only:
    entities are hash-bucketed into `kernel_buckets` cogroups (default:
    spark.sql.shuffle.partitions) and each entity's probe rows are
    salted into `kernel_chunks` sub-groups with the context replicated
    per chunk — bounding the largest pandas frame by ~rows/(buckets) and
    a hot entity's share of it by 1/chunks."""
    if payload is None:
        payload = [
            c for c in context.columns if c not in (on, ctx_ts, ctx_idx)
        ]
    args = (probe, context, on, probe_ts, probe_idx, ctx_ts, ctx_idx, payload, strict, prefix)
    if strategy == "jvm":
        return _asof_union_tag(*args)
    if strategy == "kernel":
        return _asof_kernel(*args, buckets=kernel_buckets, chunks=kernel_chunks)
    raise ValueError(f"unknown asof strategy: {strategy}")


def _asof_union_tag(
    probe: DataFrame,
    context: DataFrame,
    on: str,
    probe_ts: str,
    probe_idx: str,
    ctx_ts: str,
    ctx_idx: str,
    payload: list[str],
    strict: bool,
    prefix: str,
) -> DataFrame:
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


def _asof_kernel(
    probe: DataFrame,
    context: DataFrame,
    on: str,
    probe_ts: str,
    probe_idx: str,
    ctx_ts: str,
    ctx_idx: str,
    payload: list[str],
    strict: bool,
    prefix: str,
    buckets: int | None = None,
    chunks: int = 4,
) -> DataFrame:
    """Bucketed + salted cogrouped merge_asof kernel.

    Scale shape (fixes the two round-1 weaknesses of the per-entity
    cogroup — 23× slowdown from per-group pandas overhead, and a whole
    hot entity materialized in one pandas frame):

    - Cogroup key #1 `_ab` = hash(entity) % buckets: MANY entities per
      Arrow frame, merged by ONE vectorized `pd.merge_asof(by=entity)`
      call — per-group overhead amortizes over the bucket, and the
      frame size is ~|probe|/buckets regardless of entity count.
    - Cogroup key #2 `_ac` (chunks > 1) = hash(probe_idx) % chunks:
      a zipf-hot entity's probe rows split across `chunks` frames; the
      context side is replicated to every chunk (each chunk still sees
      the entity's full history — as-of needs arbitrarily old context).
      Replication costs chunks× the CONTEXT rows only, the small side
      of an as-of by construction.

    Results are bit-identical to strategy='jvm' (differential-tested);
    output row order is unspecified, as everywhere in the engine.
    """
    spark = probe.sparkSession
    if buckets is None:
        buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # null event times are never admissible; see module docstring
    context = context.filter(F.col(ctx_ts).isNotNull())
    out_names = [prefix + c for c in payload]
    out_schema = T.StructType(
        list(probe.schema.fields)
        + [T.StructField(prefix + c, context.schema[c].dataType) for c in payload]
    )
    probe_cols = probe.columns

    # Alias every context column to a private name: when probe and
    # context derive from the SAME source DataFrame (self-as-of), their
    # key columns share Catalyst attribute ids and the cogroup plan
    # deduplicates the right side's copy out of the Arrow frame —
    # fresh aliases force fresh attribute ids so the kernel always
    # receives them. Renamed back (metadata-only) inside the kernel.
    ctx_cols = [on, ctx_ts, ctx_idx] + payload
    rename = {f"_c_{on}": on, f"_c_{ctx_ts}": ctx_ts}
    rename.update({f"_c_{c}": prefix + c for c in payload})
    idx_priv = f"_c_{ctx_idx}"

    p = probe.withColumn(
        "_ab", F.pmod(F.xxhash64(F.col(on)), F.lit(buckets)).cast("int")
    )
    c_df = context.select(
        *[F.col(c).alias(f"_c_{c}") for c in ctx_cols],
        F.pmod(F.xxhash64(F.col(on)), F.lit(buckets)).cast("int").alias("_ab"),
    )
    if chunks > 1:
        p = p.withColumn(
            "_ac", F.pmod(F.xxhash64(F.col(probe_idx)), F.lit(chunks)).cast("int")
        )
        c_df = c_df.withColumn(
            "_ac", F.explode(F.sequence(F.lit(0), F.lit(chunks - 1)))
        )
        keys = ["_ab", "_ac"]
    else:
        keys = ["_ab"]

    def kernel(p_pdf: pd.DataFrame, c_pdf: pd.DataFrame) -> pd.DataFrame:
        # null probe timestamps: merge_asof rejects null merge keys
        # (and NaT sorts last, breaking its sorted-left requirement) —
        # route them around the merge with null payloads, matching the
        # jvm strategy's "no admissible event" result for the same rows
        null_mask = p_pdf[probe_ts].isna()
        p_null = p_pdf[null_mask].copy()
        for name in out_names:
            p_null[name] = None
        p_null = p_null[probe_cols + out_names]
        p_pdf = p_pdf[~null_mask]
        # merge_asof requires a global sort on the time key; the
        # secondary idx keys make the order (and equal-ts tie-break)
        # deterministic: sorted by (ctx_ts, ctx_idx), the LAST
        # admissible context row per entity is the max (ctx_ts, ctx_idx)
        p_pdf = p_pdf.sort_values([probe_ts, probe_idx], kind="mergesort")
        if len(c_pdf) == 0:
            for name in out_names:
                p_pdf[name] = pd.Series(dtype="object")
            merged = p_pdf[probe_cols + out_names]
        else:
            # sort so the last row among equal ctx_ts has max ctx_idx —
            # merge_asof backward then selects exactly that row per entity
            c_pdf = c_pdf.rename(columns=rename)
            c_pdf = c_pdf.sort_values([ctx_ts, idx_priv], kind="mergesort")
            merged = pd.merge_asof(
                p_pdf,
                c_pdf[[on, ctx_ts] + out_names],
                left_on=probe_ts,
                right_on=ctx_ts,
                by=on,
                direction="backward",
                allow_exact_matches=not strict,
            )[probe_cols + out_names]
        if len(p_null):
            merged = pd.concat([merged, p_null], ignore_index=True)
        return merged

    return (
        p.groupBy(*keys)
        .cogroup(c_df.groupBy(*keys))
        .applyInPandas(kernel, schema=out_schema)
    )
