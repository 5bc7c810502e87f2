"""Multi-split input layouts (round-4 verdict item #4).

`_heavy` in engine/doc_queries.py repartitions a single-file gate
table (a scan coalesces it to 1-2 tasks, so per-row kernels would run
serially) and skips that on a many-split input, where a blind
repartition would add a full extra shuffle of the text for nothing.
The flagship pipeline instead has one layout for every input: its
text kernel runs where the scan put the rows, and the windows' conv_id
shuffle is the first. These tests write BOTH layouts and pin each:

- 32+-split layout → `_heavy` SKIPS the repartition (the branch a
  100 TB input takes: zero exchanges in a narrow per-row plan);
- single-file layout → `_heavy` TAKES it;
- the flagship plans the same single exchange on both.

File-split arithmetic is made deterministic by pinning
spark.sql.files.maxPartitionBytes/openCostInBytes to 1 MiB for the
scan-side assertions (40 small files then cost ~40 MiB → ~40 scan
partitions; one file → 1-2), restored afterwards."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

SRC = "/root/testdata/sf0.001"


def _formatted(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    """(multi_dir, single_dir): the same documents table written as 40
    splits and as 1 split, under the gate queries' expected layout
    <dir>/documents.parquet."""
    base = tmp_path_factory.mktemp("layouts")
    src = spark.read.parquet(f"{SRC}/documents.parquet")
    multi, single = str(base / "multi"), str(base / "single")
    src.repartition(40).write.parquet(f"{multi}/documents.parquet")
    src.coalesce(1).write.parquet(f"{single}/documents.parquet")
    return multi, single


@pytest.fixture()
def small_split_conf(spark):
    mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    ocb = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 20))
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 20))
    yield
    spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
    spark.conf.set("spark.sql.files.openCostInBytes", ocb)


def test_heavy_skips_repartition_on_multisplit(
    spark, layouts, small_split_conf
):
    from engine.doc_queries import _heavy, q_doc_token_stats

    multi, single = layouts
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    wide = _heavy(spark, multi, "documents")
    assert wide.rdd.getNumPartitions() >= max(2, n_part // 2)
    # the at-scale branch: a narrow per-row query plans ZERO exchanges
    plan = _formatted(spark, q_doc_token_stats(spark, multi))
    assert "Exchange" not in plan, plan

    # the sandbox branch: single file → repartition taken (exactly one
    # round-robin exchange node, and only one)
    plan1 = _formatted(spark, q_doc_token_stats(spark, single))
    n_ex = len(re.findall(r"\(\d+\) Exchange\b", plan1))
    assert n_ex == 1 and "RoundRobin" in plan1, plan1


def test_pipeline_repartition_branch_on_multisplit(
    spark, layouts, small_split_conf, transcripts_df
):
    from engine.pipeline import extract_features

    base_multi = layouts[0]
    t_multi_path = f"{base_multi}/transcripts.parquet"
    transcripts_df.repartition(40).write.mode("overwrite").parquet(
        t_multi_path
    )
    t_single_path = f"{base_multi}/transcripts1.parquet"
    transcripts_df.coalesce(1).write.mode("overwrite").parquet(
        t_single_path
    )
    vocab = ["search", "bash", "browser", "vision", "code", "sql"]

    f_multi, _e, _m = extract_features(
        spark, spark.read.parquet(t_multi_path), None, vocab=vocab
    )
    f_single, _e, _m = extract_features(
        spark, spark.read.parquet(t_single_path), None, vocab=vocab
    )
    # plan shape: both layouts plan exactly ONE exchange (the window's
    # ENSURE_REQUIREMENTS shuffle — no context here, so no as-of union
    # exchange) and no repartition ahead of the text kernel
    for f in (f_multi, f_single):
        plan = _formatted(spark, f)
        assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
        assert "REPARTITION_BY_COL" not in plan, plan

    # the text kernel runs in the scan stage, so a tiny input never fans
    # the Python stage out to spark.sql.shuffle.partitions tasks
    f_single.collect()
    assert _python_stage_shuffle_read(f_single) is None, _formatted(spark, f_single)


def _python_stage_shuffle_read(df):
    """The shuffle read under the ArrowEvalPython node in the final AQE
    plan, or None when the Python stage reads the scan directly."""
    root = df._jdf.queryExecution().executedPlan().executedPlan()

    def children(n):
        if n.nodeName().endswith("QueryStage"):
            return [n.plan()]
        ch = n.children()
        return [ch.apply(i) for i in range(ch.size())]

    def find(n, names):
        if n.nodeName() in names:
            return n
        for c in children(n):
            hit = find(c, names)
            if hit is not None:
                return hit
        return None

    udf = find(root, {"ArrowEvalPython"})
    assert udf is not None
    return find(udf, {"AQEShuffleRead", "ShuffleQueryStage"})
