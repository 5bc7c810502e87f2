"""Salted-key skew mitigation: salted results identical to unsalted
(invariance under salting, SURVEY §5.4); hot-entity detector finds the
planted zipf head; the as-of join is exact on a hot conversation."""

from __future__ import annotations

from pyspark.sql import functions as F

from engine.operators.core import topk_by_count
from engine.operators.skew import hot_entities
from tests.asof_oracle import pandas_asof
from tests.compare import assert_frames_match


def test_hot_entity_detector_finds_zipf_head(spark, transcripts_df):
    # exact shares for ground truth
    total = transcripts_df.count()
    exact = {
        r["conv_id"]: r["n"] / total
        for r in transcripts_df.groupBy("conv_id").agg(F.count("*").alias("n")).collect()
    }
    truly_hot = {c for c, f in exact.items() if f >= 0.02}
    assert truly_hot, "generator should plant at least one >=2% conversation"
    # generous sample (small fixture) → detector must find every >=2% key
    got = {
        r["conv_id"]
        for r in hot_entities(
            transcripts_df, "conv_id", threshold_frac=0.01, sample_frac=0.5
        ).collect()
    }
    assert truly_hot <= got
    # and nothing tiny sneaks in
    assert all(exact[c] >= 0.003 for c in got)


def test_asof_hot_entity_matches_pandas_oracle(spark, transcripts_df, context_df):
    """On the zipf fixture, planted hot conversation included, the
    as-of operator equals the pd.merge_asof oracle row for row."""
    from engine.operators.asof import asof_join

    hot = transcripts_df.groupBy("conv_id").count().orderBy(
        F.col("count").desc()).first()["conv_id"]
    got = asof_join(transcripts_df, context_df).toPandas()
    exp = pandas_asof(transcripts_df.toPandas(), context_df.toPandas())
    assert_frames_match(got, exp)
    hot_rows = got[got["conv_id"] == hot]
    assert hot_rows["asof_ctx_value"].notna().any(), "hot conversation never matched"


def test_auto_topk_dispatch_differential(spark, transcripts_df):
    """auto_topk_by_count: (a) on the zipf fixture (planted hot
    conversation, generous sample so the detector fires) the salted
    branch's output is bit-identical to the plain operator; (b) on a
    uniform input where nothing is hot, the chosen plan is the plain
    one — no salt column anywhere in it."""
    from engine.operators.skew import auto_topk_by_count

    src = transcripts_df.filter(
        F.col("tool").isNotNull() & (F.col("tool") != "")
    )
    base = topk_by_count(src, "conv_id", "tool", 3)
    auto = auto_topk_by_count(
        src, "conv_id", "tool", 3, idx_col="turn_idx",
        threshold_frac=0.01, sample_frac=0.5,
    )
    # the fixture's planted hot conversation must trigger the salted
    # branch (same detector config test_hot_entity_detector pins)
    assert "_salt" in auto._jdf.queryExecution().optimizedPlan().toString()
    a = sorted(map(tuple, base.collect()))
    b = sorted(map(tuple, auto.collect()))
    assert a == b and len(a) > 0

    uniform = spark.createDataFrame(
        [(f"c{i % 40}", f"t{i % 5}", i) for i in range(2000)],
        "conv_id string, tool string, turn_idx int",
    )
    plain = auto_topk_by_count(
        uniform, "conv_id", "tool", 3, idx_col="turn_idx",
        threshold_frac=0.1, sample_frac=0.5,
    )
    assert "_salt" not in plain._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, topk_by_count(uniform, "conv_id", "tool", 3).collect())
    )


def test_hot_entities_small_sample_returns_nothing(spark):
    """With too few sampled rows to distinguish hot from noise, the
    detector must return an EMPTY set — the old max(1, ...) floor
    declared every sampled entity hot (round-3 review)."""
    from engine.operators.skew import hot_entities

    tiny = spark.createDataFrame(
        [(f"c{i}", i) for i in range(50)], "conv_id string, x int"
    )
    assert hot_entities(tiny, "conv_id", threshold_frac=0.01,
                        sample_frac=0.5).count() == 0
