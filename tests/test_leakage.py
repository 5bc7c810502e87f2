"""Zero-temporal-leakage property tests (SURVEY.md §5.3).

For every point-in-time feature, recomputing it from ONLY rows/events
with ts' <= ts (or < for strict) must give the same answer; and
adversarial edits to the FUTURE must not change the past.
"""

import numpy as np
import pandas as pd
import pytest

from engine.generate import generate_context_events, generate_transcripts
from engine.oracle.features import oracle_features
from engine.pipeline import extract_features
from engine.operators.asof import asof_join
from engine.schema import CONTEXT_SCHEMA, TRANSCRIPT_SCHEMA
from tests.compare import assert_frames_match


@pytest.fixture(scope="module")
def small(spark):
    tp = generate_transcripts(n_convs=60, seed=7)
    cp = generate_context_events(tp, seed=8)
    return tp, cp


def test_future_context_cannot_change_past(spark, small):
    """Mutate every context event strictly AFTER a cut ts; all probe
    rows at or before the cut must be bit-identical."""
    tp, cp = small
    cut = tp["ts"].quantile(0.5)
    cp_mut = cp.copy()
    fut = cp_mut["event_ts"] > cut
    assert fut.any()
    cp_mut.loc[fut, "ctx_value"] = -99999.0
    cp_mut.loc[fut, "ctx_label"] = "MUTATED"

    tdf = spark.createDataFrame(tp, schema=TRANSCRIPT_SCHEMA)
    a = asof_join(tdf, spark.createDataFrame(cp, schema=CONTEXT_SCHEMA)).toPandas()
    b = asof_join(tdf, spark.createDataFrame(cp_mut, schema=CONTEXT_SCHEMA)).toPandas()
    keys = ["conv_id", "ts", "turn_idx"]
    a = a[a["ts"] <= cut].sort_values(keys).reset_index(drop=True)
    b = b[b["ts"] <= cut].sort_values(keys).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_strict_excludes_boundary(spark, small):
    """strict=True: an event exactly at the probe ts must NOT match."""
    tp, cp = small
    tdf = spark.createDataFrame(tp, schema=TRANSCRIPT_SCHEMA)
    cdf = spark.createDataFrame(cp, schema=CONTEXT_SCHEMA)
    keys = ["conv_id", "ts", "turn_idx"]
    le = asof_join(tdf, cdf, strict=False).toPandas().sort_values(keys).reset_index(drop=True)
    lt = asof_join(tdf, cdf, strict=True).toPandas().sort_values(keys).reset_index(drop=True)
    # boundary rows: a context event exactly at the probe ts
    exact_keys = set(map(tuple, cp[["conv_id"]].assign(ts=cp["event_ts"]).itertuples(index=False)))
    on_boundary = le.apply(lambda r: (r["conv_id"], r["ts"]) in exact_keys, axis=1)
    assert on_boundary.any(), "fixture must contain boundary-coincident events"
    # strict result at boundary differs from <= result somewhere
    diff = (le.loc[on_boundary, "asof_ctx_value"].fillna(-1).to_numpy()
            != lt.loc[on_boundary, "asof_ctx_value"].fillna(-1).to_numpy())
    assert diff.any(), "strict made no difference at boundaries"
    # and strict never selects a boundary event: verify per row
    cmax = cp.groupby("conv_id")["event_ts"].min().to_dict()
    for _, r in lt.iterrows():
        first_ev = cmax.get(r["conv_id"])
        if first_ev is not None and r["ts"] <= first_ev:
            # probe at/before the first event: strict must be null at ==
            if r["ts"] == first_ev:
                assert pd.isna(r["asof_ctx_value"])


def test_truncated_prefix_equals_full_run(spark, small):
    """Running the pipeline on only rows with ts <= cut reproduces the
    full run's features for those rows — for past-only features."""
    tp, cp = small
    cut = tp["ts"].quantile(0.6)
    tp_cut = tp[tp["ts"] <= cut].reset_index(drop=True)
    cp_cut = cp[cp["event_ts"] <= cut].reset_index(drop=True)

    full = oracle_features(tp, cp)
    part = oracle_features(tp_cut, cp_cut)
    full_cut = full[full["ts"] <= cut].reset_index(drop=True)

    past_only_cols = [
        "conv_id", "turn_idx", "ts", "clean_text", "txt_len", "txt_words",
        "len_class", "ctx_last_tool", "ctx_last_user_text", "lag_text_len",
        "gap_prev_s", "session_id", "sess_turn_no", "sess_len_so_far",
        "roll_cnt_5m", "roll_avg_len_5m", "roll_tools_distinct_5m",
        "asof_ctx_value", "asof_ctx_label", "top_tools",
    ]
    # NOTE: turn_idx-dense truncation means groups keep identical prefixes
    assert_frames_match(part[past_only_cols], full_cut[past_only_cols])

    # and the Spark engine agrees with the truncated oracle
    tdf = spark.createDataFrame(tp_cut, schema=TRANSCRIPT_SCHEMA)
    cdf = spark.createDataFrame(cp_cut, schema=CONTEXT_SCHEMA)
    feats, _, _ = extract_features(spark, tdf, cdf)
    assert_frames_match(feats.toPandas()[past_only_cols], part[past_only_cols])


def test_rolling_is_past_only(small):
    """roll_* at row i depends only on rows with ts' <= ts_i."""
    tp, cp = small
    full = oracle_features(tp, None)
    # delete all rows strictly after a cut; per-row roll values must match
    cut = tp["ts"].quantile(0.5)
    part = oracle_features(tp[tp["ts"] <= cut].reset_index(drop=True), None)
    m = full[full["ts"] <= cut].reset_index(drop=True)
    for col in ("roll_cnt_5m", "roll_avg_len_5m", "roll_tools_distinct_5m"):
        np.testing.assert_allclose(
            pd.to_numeric(m[col]).to_numpy(dtype=float),
            pd.to_numeric(part[col]).to_numpy(dtype=float),
            rtol=1e-9, atol=1e-12, equal_nan=True,
        )
