"""Salted-key skew mitigation for hot entities.

Transcript corpora are zipf-skewed: a single hot conversation can be
1-5% of all rows (the generator plants exactly this, FIXTURES.md §1).
Where that hurts and what this module does about it:

- **Aggregations** (per-entity counts, top-k): a hot key funnels its
  entire row set through one reducer. `auto_topk_by_count` splits
  each hot (entity, key) into `salt_buckets` sub-keys for the first
  aggregation, then merges the partial counts — the classic two-stage
  salted aggregate. (Spark's hash agg already does map-side partial
  combine, which covers *moderate* skew; explicit salting is for the
  pathological keys where even the combined partials overload one
  task.) Differential-tested against the unsalted operator —
  results are bit-identical by construction.

  Reference analog: noise injection to break degenerate duplicate
  pixels before k-means (color_extractor.py:222-225) — literally
  salting (SURVEY.md §4).

- **Joins**: AQE skew-join splitting is enabled in the session builder
  (`spark.sql.adaptive.skewJoin.enabled`) and handles hot join keys at
  runtime by splitting oversized partitions; the as-of union-tag join
  inherits this.

- **Windows / per-entity kernels**: a window partition cannot be split
  (order-sensitive); the engine bounds the damage instead: the
  expanding top-k kernel streams with O(1) state per conversation
  (operators/topk.py), so a hot conversation costs time, not memory;
  `hot_entities` below gives jobs a cheap sampled detector so they can
  route pathological conversations to a dedicated batch (see
  engine/runner.py batching).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from engine.operators.core import topk_by_count, topk_of_counts


def auto_topk_by_count(
    df: DataFrame,
    entity: str,
    key: str,
    k: int,
    idx_col: str,
    salt_buckets: int = 16,
    threshold_frac: float = 0.01,
    sample_frac: float = 0.01,
    seed: int = 42,
    count_col: str = "cnt",
    rank_col: str = "rank",
) -> DataFrame:
    """Skew-aware frequency top-k: consult the sampled `hot_entities`
    detector, then pick the physical strategy automatically — callers
    never choose a plan by hand.

    Dispatch:
    - no hot entities detected → the plain hash-agg plan (no salt
      column, no extra shuffle);
    - hot entities detected → ONE scan with a CONDITIONAL salt:
      rows of hot entities get a real salt in [0, salt_buckets), all
      other rows salt 0. The stage-1 partial aggregate then fans out
      ONLY the hot keys over `salt_buckets` reducers while cold keys
      keep the single-group shape — cheaper than splitting the input
      into hot/cold DataFrames (two scans) and identical in output to
      `core.topk_by_count`.

    The detector's hot list is collected to the driver, which is
    bounded by construction: at most floor(1/threshold_frac) entities
    can each hold ≥ threshold_frac of the sampled rows (≤100 at the
    1% default) — broadcast as a literal IN-list, never a join.
    Result correctness never depends on the detector: both branches
    compute the same counts, so sampling variance can only change the
    plan, not the answer."""
    hot = hot_entities(df, entity, threshold_frac, sample_frac, seed)
    hot_keys = [r[0] for r in hot.select(entity).collect()]
    if not hot_keys:
        return topk_by_count(df, entity, key, k, count_col, rank_col)
    # salt from a row-identity column, not rand(): results must be
    # reproducible and resume-stable
    salt = F.pmod(F.xxhash64(F.col(idx_col)), F.lit(salt_buckets))
    cond_salt = F.when(F.col(entity).isin(hot_keys), salt).otherwise(F.lit(0)).cast("int")
    partial = (
        df.withColumn("_salt", cond_salt)
        .groupBy(entity, key, "_salt")
        .agg(F.count(F.lit(1)).alias("_pcnt"))
    )
    counts = partial.groupBy(entity, key).agg(F.sum("_pcnt").alias(count_col))
    return topk_of_counts(counts, entity, key, k, count_col, rank_col)


def hot_entities(
    df: DataFrame,
    entity: str,
    threshold_frac: float = 0.01,
    sample_frac: float = 0.01,
    seed: int = 42,
) -> DataFrame:
    """Sampled hot-key detector: entities whose estimated row share
    exceeds `threshold_frac`. One pass over a `sample_frac` sample —
    at 10^12 rows the exact count is itself a shuffle; the sample scan
    is ~free and hot keys (≥1%) are found w.h.p. Returns
    (entity, est_rows)."""
    s = df.sample(fraction=sample_frac, seed=seed)
    total = s.count()
    cut = int(total * threshold_frac)
    if cut < 2:
        # sample too small to tell hot from noise: with a floor of 1,
        # EVERY sampled entity would be flagged hot — at sizes this
        # small skew cannot matter anyway
        return s.select(F.col(entity)).limit(0).withColumn(
            "est_rows", F.lit(0).cast("long")
        )
    return (
        s.groupBy(entity)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= cut)
        .select(
            entity,
            (F.col("_n") / F.lit(sample_frac)).cast("long").alias("est_rows"),
        )
    )
