"""The headline gate: full-pipeline allclose parity vs the pandas
oracle at every (conv_id, ts, turn_idx) — SURVEY.md §5.1-5.2."""

from engine.oracle.features import oracle_features
from engine.pipeline import extract_features
from tests.compare import assert_frames_match


def test_full_parity_jvm_asof(spark, transcripts_df, context_df, transcripts_pdf, context_pdf):
    features, errors, _ = extract_features(spark, transcripts_df, context_df)
    exp = oracle_features(transcripts_pdf, context_pdf)
    assert_frames_match(features.toPandas(), exp)


def test_parity_without_context(spark, transcripts_pdf):
    """Plus one conversation on the rolling frame's boundary: a turn
    exactly ROLL_WINDOW_S (300 s) after another keeps it in its frame,
    one microsecond more drops it."""
    from datetime import timedelta

    import pandas as pd

    from engine.schema import TRANSCRIPT_SCHEMA

    t0 = transcripts_pdf["ts"].min()
    offsets = [timedelta(0), timedelta(seconds=300), timedelta(seconds=600, microseconds=1)]
    edge = pd.DataFrame(
        [("conv-edge", i, "user", "hi there", "search", t0 + off) for i, off in enumerate(offsets)],
        columns=TRANSCRIPT_SCHEMA.names,
    )
    pdf = pd.concat([transcripts_pdf[TRANSCRIPT_SCHEMA.names], edge], ignore_index=True)
    features, _, _ = extract_features(spark, spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA), None)
    got = features.toPandas()
    assert_frames_match(got, oracle_features(pdf, None))
    edge_cnt = got[got["conv_id"] == "conv-edge"].sort_values("turn_idx")["roll_cnt_5m"]
    assert edge_cnt.tolist() == [1, 2, 1]


def test_summarize_conversations_pandas_parity(spark, transcripts_df, context_df):
    """Conversation rollup vs a pandas groupby oracle over the same
    feature rows: counts, span, role mix, text stats, and the final
    dominant-tool state all agree per conversation."""
    import numpy as np

    from engine.pipeline import extract_features, summarize_conversations

    feats, _e, _m = extract_features(spark, transcripts_df, context_df)
    got = {r["conv_id"]: r for r in summarize_conversations(feats).collect()}
    pdf = feats.toPandas()
    assert set(got) == set(pdf["conv_id"].unique())
    for conv, g in pdf.groupby("conv_id"):
        r = got[conv]
        assert r["n_turns"] == len(g)
        assert r["n_sessions"] == int(g["session_id"].max()) + 1
        span = (g["ts"].max() - g["ts"].min()).total_seconds()
        assert abs(r["span_s"] - span) < 1e-3
        assert r["n_user_turns"] == int((g["role"] == "user").sum())
        assert r["n_assistant_turns"] == int((g["role"] == "assistant").sum())
        assert r["tools_distinct"] == g["tool"].dropna().nunique()
        assert r["total_txt_len"] == int(g["txt_len"].fillna(0).sum())
        assert r["max_txt_len"] == int(g["txt_len"].max())
        if g["txt_len"].notna().any():
            assert abs(r["avg_txt_len"] - round(float(g["txt_len"].mean()), 6)) < 1e-6
        last = g.sort_values(["ts", "turn_idx"]).iloc[-1]
        assert list(r["final_top_tools"]) == list(last["top_tools"])
