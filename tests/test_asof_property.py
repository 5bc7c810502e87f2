"""Property-based as-of join tests (hypothesis): on random small
probe/context tables — duplicate timestamps, empty sides, unmatched
entities included by construction — the engine operator agrees with a
naive O(n·m) Python reference and with the pd.merge_asof oracle, for
strict and non-strict boundaries.

One Spark round-trip per example is slow, so hypothesis drives the
TABLE GENERATOR and the examples are batched into a handful of Spark
jobs (max_examples kept small; the generator's edge-case weighting —
ties, boundary-equal timestamps — does the heavy lifting)."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings, strategies as st

from engine.operators.asof import asof_join
from tests.asof_oracle import pandas_asof
from tests.compare import assert_frames_match

TS = [1000, 2000, 2000, 3000, 5000]  # duplicate ts by construction


@st.composite
def tables(draw):
    n_probe = draw(st.integers(1, 8))
    n_ctx = draw(st.integers(0, 8))
    entities = ["a", "b"]
    probe = [
        (
            draw(st.sampled_from(entities)),
            draw(st.sampled_from(TS)),
            i,
        )
        for i in range(n_probe)
    ]
    ctx = [
        (
            draw(st.sampled_from(entities + ["c"])),  # 'c' never probed
            draw(st.sampled_from(TS)),
            i,
            float(draw(st.integers(0, 100))),
        )
        for i in range(n_ctx)
    ]
    return probe, ctx


def _reference(probe, ctx, strict):
    out = {}
    for on, pts, pidx in probe:
        best = None
        for con, cts, cidx, val in ctx:
            if con != on:
                continue
            ok = cts < pts if strict else cts <= pts
            if ok and (best is None or (cts, cidx) > best[:2]):
                best = (cts, cidx, val)
        out[(on, pts, pidx)] = None if best is None else best[2]
    return out


@settings(max_examples=12, deadline=None)
@given(tables(), st.booleans())
def test_asof_matches_reference_and_pandas_oracle(spark_global, tb, strict):
    probe_rows, ctx_rows = tb
    probe_pdf = pd.DataFrame(probe_rows, columns=["conv", "pts", "pidx"]).astype({"pts": float})
    ctx_pdf = pd.DataFrame(ctx_rows, columns=["conv", "cts", "cidx", "val"]).astype(
        {"conv": object, "cts": float, "cidx": "int64", "val": float}
    )
    probe = spark_global.createDataFrame(
        [(a, float(b), c) for a, b, c in probe_rows],
        "conv string, pts double, pidx long",
    )
    ctx = spark_global.createDataFrame(
        [(a, float(b), c, d) for a, b, c, d in ctx_rows],
        "conv string, cts double, cidx long, val double",
    )
    args = dict(on="conv", probe_ts="pts", ctx_ts="cts", ctx_idx="cidx",
                payload=["val"], strict=strict)
    got = asof_join(probe, ctx, **args).toPandas()
    expect = _reference(probe_rows, ctx_rows, strict)
    assert len(got) == len(probe_rows)
    for r in got.itertuples(index=False):
        want = expect[(r.conv, r.pts, r.pidx)]
        assert (pd.isna(r.asof_val) and want is None) or r.asof_val == want, (r, expect)
    assert_frames_match(got, pandas_asof(probe_pdf, ctx_pdf, **args),
                        keys=["conv", "pts", "pidx"])


# module-scoped spark fixture alias: hypothesis re-runs the test body
# many times; the session must not be rebuilt per example
import pytest


@pytest.fixture(scope="module")
def spark_global(spark):
    return spark


def test_asof_null_timestamps_parity(spark):
    """Null timestamps: a NULL-ctx_ts context row is never admissible
    (a null-first sort would serve its payload to every early probe),
    and a NULL-ts probe emits null payloads — in the operator and in
    the pandas oracle alike."""
    from datetime import datetime

    def ts(s):
        return datetime(2024, 1, 1, 0, 0, s)

    probe = spark.createDataFrame(
        [("c1", 0, ts(10)), ("c1", 1, ts(20)), ("c1", 2, None)],
        "conv_id string, turn_idx int, ts timestamp",
    )
    context = spark.createDataFrame(
        [
            ("c1", None, 0, 999.0, "poison"),   # null event time
            ("c1", ts(15), 1, 1.0, "ok"),
        ],
        "conv_id string, event_ts timestamp, event_idx int, "
        "ctx_value double, ctx_label string",
    )
    got = asof_join(probe, context)
    rows = {
        r["turn_idx"]: (r["asof_ctx_value"], r["asof_ctx_label"])
        for r in got.collect()
    }
    # probe at t=10: only the null-ts row precedes it → NO match
    assert rows[0] == (None, None)
    # probe at t=20: the real t=15 event
    assert rows[1] == (1.0, "ok")
    # null-ts probe: no admissible event, nulls — not a crash
    assert rows[2] == (None, None)
    assert_frames_match(got.toPandas(), pandas_asof(probe.toPandas(), context.toPandas()),
                        keys=["turn_idx"])
