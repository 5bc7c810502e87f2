"""Edge-input hygiene at the library surface: empty tables, null-heavy
single turns, context misses, and the >MAX_VOCAB stream fallback."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from engine.pipeline import MAX_VOCAB, extract_features
from engine.schema import CONTEXT_SCHEMA, TRANSCRIPT_SCHEMA


def test_empty_input(spark):
    t = spark.createDataFrame([], TRANSCRIPT_SCHEMA)
    feats, errs, meta = extract_features(spark, t, None)
    assert feats.count() == 0
    assert errs.count() == 0
    assert meta["topk_strategy"] == "vocab"  # empty vocab is still small


def test_single_turn_nulls(spark):
    ts = dt.datetime(2024, 1, 1, 12, 0, 0)
    t = spark.createDataFrame(
        [("c1", 0, "user", None, None, ts)], TRANSCRIPT_SCHEMA
    )
    feats, errs, _ = extract_features(spark, t, None)
    row = feats.first()
    assert errs.count() == 0
    assert row["clean_text"] is None and row["txt_len"] is None
    assert row["session_id"] == 0 and row["sess_turn_no"] == 1
    assert row["top_tools"] == []
    assert row["ctx_last_tool"] is None
    assert row["roll_cnt_5m"] == 1
    assert row["roll_rel_len_5m"] is None  # null length stays null


def test_context_no_match(spark):
    ts = dt.datetime(2024, 1, 1, 12, 0, 0)
    t = spark.createDataFrame(
        [("c1", 0, "user", "hello", "search", ts)], TRANSCRIPT_SCHEMA
    )
    c = spark.createDataFrame(
        [("OTHER", ts, 0, 1.5, "x")], CONTEXT_SCHEMA
    )
    feats, _e, _m = extract_features(spark, t, c)
    row = feats.first()
    assert row["asof_ctx_value"] is None and row["asof_ctx_label"] is None


def test_vocab_overflow_falls_back_to_stream(spark, transcripts_df, context_df):
    """A vocabulary larger than MAX_VOCAB switches to the streaming
    Arrow kernel — and the result is identical to the vocab plan on
    the same input (the extra fake tools never match, the kernel path
    recomputes from scratch)."""
    big_vocab = [f"fake_tool_{i}" for i in range(MAX_VOCAB + 5)]
    f_stream, _, m_stream = extract_features(
        spark, transcripts_df, context_df, vocab=big_vocab
    )
    assert m_stream["topk_strategy"] == "stream"
    f_vocab, _, m_vocab = extract_features(spark, transcripts_df, context_df)
    assert m_vocab["topk_strategy"] == "vocab"

    cols = ["conv_id", "ts", "turn_idx", "top_tools"]
    a = sorted(map(tuple, (r[:3] + (tuple(r[3]),) for r in
                           (tuple(x) for x in f_stream.select(cols).collect()))))
    b = sorted(map(tuple, (r[:3] + (tuple(r[3]),) for r in
                           (tuple(x) for x in f_vocab.select(cols).collect()))))
    assert a == b and len(a) > 0


def test_reduction_profiles(spark, transcripts_df):
    """P9 data-reduction profiles: text capped ahead of the kernel
    (reference's resize-before-OCR, same 4000/2000/1000 caps), and the
    'performance' profile flips the rolling distinct to the sketch.
    Reduction applies AFTER validation, so quarantine still sees the
    original row."""
    from engine.pipeline import REDUCTION_PROFILES

    f_perf, _e, m = extract_features(spark, transcripts_df, None, profile="performance")
    assert m["profile"] == "performance"
    cap = REDUCTION_PROFILES["performance"]["max_text_chars"]
    mx = f_perf.agg(F.max(F.length("clean_text"))).first()[0]
    assert mx is not None and mx <= cap  # clean_text never grows text

    # exact pipeline on manually-capped input == profile pipeline
    # (clean_text column; rolling distinct differs by design under
    # approx, so compare the deterministic columns)
    capped = transcripts_df.withColumn("text", F.substring("text", 1, cap))
    f_ref, _, _ = extract_features(spark, capped, None)
    cols = ["conv_id", "ts", "turn_idx", "clean_text", "txt_len", "session_id"]
    a = sorted(map(tuple, f_perf.select(cols).collect()))
    b = sorted(map(tuple, f_ref.select(cols).collect()))
    assert a == b and len(a) > 0


def test_round3_operators_on_empty_input(spark):
    """Empty inputs: no crashes, structurally correct empty results."""
    from engine.operators.rangejoin import interval_join
    from engine.queries import funnel_session_steps, funnel_steps

    empty_ev = spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    r = funnel_steps(empty_ev).first()
    assert r["n_sessions"] == 0 and r["n_view"] == 0
    assert r["full_funnel_rate"] is None  # avg over zero rows
    assert funnel_session_steps(empty_ev).count() == 0

    facts = spark.createDataFrame([], "user_id string, event_id long, ev_s double")
    ivs = spark.createDataFrame(
        [("u1", "A", 0.0, 10.0)],
        "user_id string, iv_id string, lo_s double, hi_s double",
    )
    assert interval_join(facts, ivs, "ev_s", "lo_s", "hi_s", keys=["user_id"]).count() == 0
    empty_ivs = spark.createDataFrame(
        [], "iv_id string, lo_s double, hi_s double"
    )
    one_fact = spark.createDataFrame(
        [("u1", 1, 5.0)], "user_id string, event_id long, ev_s double"
    )
    assert interval_join(one_fact, empty_ivs, "ev_s", "lo_s", "hi_s").count() == 0
    left = interval_join(
        one_fact, empty_ivs, "ev_s", "lo_s", "hi_s", how="left"
    ).collect()
    assert len(left) == 1 and left[0]["iv_id"] is None


def test_empty_graph_connected_components(spark):
    from engine.operators.dedup import connected_components

    vertices = spark.createDataFrame([(1,), (2,)], "doc_id long")
    no_pairs = spark.createDataFrame([], "id_a long, id_b long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(vertices, no_pairs).collect()
    }
    assert got == {1: 1, 2: 2}


def test_datasource_zero_convs(spark):
    from engine.sources.transcript_source import TranscriptDataSource

    spark.dataSource.register(TranscriptDataSource)
    df = (
        spark.read.format("transcripts")
        .option("n_convs", 0).option("partitions", 2).load()
    )
    assert df.count() == 0 and len(df.columns) == 6


def test_train_centroids_guards(spark):
    import pytest

    from engine.operators.similarity import train_centroids

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty corpus"):
        train_centroids(empty, k=2)
    tiny = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="corpus size"):
        train_centroids(tiny, k=5)
