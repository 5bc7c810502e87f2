"""Top-k dominant tools: the expanding step's semantics, both Spark
formulations against the pandas oracle, and the whole-conv SQL variant
(reference dominant-color contract, SURVEY.md §2.4/2.5)."""

import pandas as pd
import pytest

from pyspark.sql import functions as F

from engine.operators.topk import top_tools_step, top_tools_final
from engine.schema import TRANSCRIPT_SCHEMA
from tests.compare import KEYS, assert_frames_match


def _expanding(tools, k=3):
    counts: dict[str, int] = {}
    return [top_tools_step(counts, t, k) for t in tools]


def test_expanding_semantics():
    out = _expanding(["a", None, "b", "b", "", "a", float("nan"), "c", "a"])
    assert out[0] == ["a", "a", "a"]           # pad repeats last
    assert out[1] == ["a", "a", "a"]           # null ignored
    assert out[2] == ["a", "b", "b"]           # tie 1-1 → count desc, name asc
    assert out[3] == ["b", "a", "a"]           # b=2 > a=1
    assert out[4] == ["b", "a", "a"]           # '' ignored
    assert out[5] == ["a", "b", "b"]           # tie 2-2 → name asc
    assert out[6] == ["a", "b", "b"]           # NaN ignored
    assert out[7] == ["a", "b", "c"]
    assert out[8] == ["a", "b", "c"]           # a=3,b=2,c=1


def test_empty_stays_empty():
    assert _expanding([None, "", float("nan")]) == [[], [], []]


def test_final_topk_matches_pandas(spark, transcripts_df, transcripts_pdf):
    got = top_tools_final(transcripts_df, k=3).toPandas()
    t = transcripts_pdf
    t = t[t["tool"].notna() & (t["tool"] != "")]
    exp = (
        t.groupby(["conv_id", "tool"]).size().rename("tool_count").reset_index()
    )
    exp["rank"] = (
        exp.sort_values(["tool_count", "tool"], ascending=[False, True])
        .groupby("conv_id")
        .cumcount()
        + 1
    )
    exp = exp[exp["rank"] <= 3]
    keys = ["conv_id", "rank"]
    got = got.sort_values(keys).reset_index(drop=True)
    exp = exp.sort_values(keys).reset_index(drop=True)[got.columns]
    pd.testing.assert_frame_equal(
        got.astype({"tool_count": "int64", "rank": "int64"}),
        exp.astype({"tool_count": "int64", "rank": "int64"}),
    )


@pytest.fixture(scope="module")
def valid_turns(spark, transcripts_pdf):
    """The rows the oracle ranks (quarantined rows dropped), as Spark
    input, and the oracle's independent expanding top-k over them."""
    from engine.oracle.features import oracle_features, oracle_quarantine_mask

    valid = transcripts_pdf.loc[~oracle_quarantine_mask(transcripts_pdf)]
    exp = oracle_features(transcripts_pdf, None)[KEYS + ["top_tools"]]
    return spark.createDataFrame(valid, schema=TRANSCRIPT_SCHEMA), exp


def test_stream_equals_grouped_strategy(valid_turns):
    """Differential: the mapInArrow stream kernel agrees on every row
    with the oracle's per-conversation loop."""
    from engine.operators.topk import add_top_tools_expanding

    df, exp = valid_turns
    got = add_top_tools_expanding(df).select(*KEYS, "top_tools").toPandas()
    assert_frames_match(got, exp)


def test_vocab_equals_grouped_strategy(valid_turns, transcripts_pdf):
    """Differential: the pure-codegen vocab formulation agrees on every
    row with the oracle's per-conversation loop."""
    from engine.operators.topk import add_top_tools_vocab

    df, exp = valid_turns
    vocab = [t for t in transcripts_pdf["tool"].dropna().unique() if t]
    got = add_top_tools_vocab(df, vocab=vocab).select(*KEYS, "top_tools").toPandas()
    assert_frames_match(got, exp)


def test_rolling_approx_distinct_tolerance(spark, transcripts_df):
    """add_rolling(approx_distinct=True) — the bench-scale sketch path —
    stays within HLL++ tolerance of the exact rolling distinct (tool
    vocabularies are small, so the estimate is exact or off by <=1)."""
    from engine.operators import windows as W
    from engine.pipeline import add_text_features

    base = W.with_ts_sec(add_text_features(transcripts_df))
    exact = W.add_rolling(base, approx_distinct=False).select(
        "conv_id", "ts", "turn_idx", "roll_tools_distinct_5m"
    )
    approx = W.add_rolling(base, approx_distinct=True).select(
        "conv_id", "ts", "turn_idx",
        F.col("roll_tools_distinct_5m").alias("approx_d"),
    )
    joined = exact.join(approx, ["conv_id", "ts", "turn_idx"]).select(
        "roll_tools_distinct_5m", "approx_d"
    )
    rows = joined.collect()
    assert rows
    worst = max(abs(r["roll_tools_distinct_5m"] - r["approx_d"]) for r in rows)
    # rsd 0.05 on counts <= ~12 distinct tools: off by at most 1
    assert worst <= 1, worst


def test_vocab_duplicates_deduped(spark, transcripts_df):
    """A duplicated catalog-stat vocab entry must not repeat the same
    tool inside top_tools (round-3 review)."""
    from engine.operators.topk import add_top_tools_vocab

    base = add_top_tools_vocab(
        transcripts_df, vocab=["search", "python", "bash"]
    ).select("conv_id", "turn_idx", "top_tools")
    duped = add_top_tools_vocab(
        transcripts_df, vocab=["search", "search", "python", "bash"]
    ).select("conv_id", "turn_idx", "top_tools")
    merged = base.join(
        duped.withColumnRenamed("top_tools", "tt2"), ["conv_id", "turn_idx"]
    )
    from pyspark.sql import functions as F

    assert merged.filter(F.col("top_tools") != F.col("tt2")).count() == 0
