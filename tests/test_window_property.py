"""Property-based tests for the window family: random small tables
(duplicate timestamps, singleton entities, boundary-exact gaps) vs
naive Python references. Complements the fixture-based oracle suite
with shapes the generator never produces."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import given, settings, strategies as st

BASE = dt.datetime(2024, 1, 1)
GAP_S = 100.0


@st.composite
def rows(draw):
    n = draw(st.integers(1, 12))
    out = []
    for i in range(n):
        ent = draw(st.sampled_from(["a", "b"]))
        # offsets hit the gap boundary exactly (100 s) and create ties
        off = draw(st.sampled_from([0, 50, 100, 150, 200, 300, 301, 500]))
        val = draw(st.one_of(st.none(), st.integers(0, 9)))
        out.append((ent, off, i, val))
    return out


def _ref_sessions(data):
    """session_id per (ent, off, idx): new session iff gap > GAP_S."""
    out = {}
    by_ent: dict[str, list] = {}
    for ent, off, idx, _v in data:
        by_ent.setdefault(ent, []).append((off, idx))
    for ent, rs in by_ent.items():
        rs.sort()
        sid, last = -1, None
        for off, idx in rs:
            if last is None or off - last > GAP_S:
                sid += 1
            last = off
            out[(ent, off, idx)] = sid
    return out


def _ref_rolling(data, window_s=100):
    """count + sum(val) over [off - window_s, off] per entity."""
    out = {}
    for ent, off, idx, _v in data:
        cnt, tot, seen = 0, 0, False
        for e2, o2, _i2, v2 in data:
            if e2 == ent and off - window_s <= o2 <= off:
                cnt += 1
                if v2 is not None:
                    tot += v2
                    seen = True
        out[(ent, off, idx)] = (cnt, tot if seen else None)
    return out


@settings(max_examples=10, deadline=None)
@given(rows())
def test_sessionize_and_rolling_match_reference(spark_global, data):
    from engine.operators.core import rolling_range, sessionize

    df = spark_global.createDataFrame(
        [
            (ent, BASE + dt.timedelta(seconds=off), idx, v)
            for ent, off, idx, v in data
        ],
        "ent string, ts timestamp, idx long, val long",
    )
    got_s = sessionize(df, "ent", "ts", "idx", GAP_S, seq_col=None)
    ref_s = _ref_sessions(data)
    for r in got_s.collect():
        off = (r["ts"] - BASE).total_seconds()
        assert r["session_id"] == ref_s[(r["ent"], off, r["idx"])]

    got_r = rolling_range(
        df, "ent", "ts", 100,
        {"cnt": "count(1)", "tot": "sum(val)"},
    )
    ref_r = _ref_rolling(data)
    for r in got_r.collect():
        off = (r["ts"] - BASE).total_seconds()
        cnt, tot = ref_r[(r["ent"], off, r["idx"])]
        assert r["cnt"] == cnt and r["tot"] == tot, (r, cnt, tot)


@pytest.fixture(scope="module")
def spark_global(spark):
    return spark


def test_fractional_rolling_window(spark):
    """Sub-second rolling windows are exact to the microsecond: the
    frame is [ts - 0.5 s, ts] in whole µs, so a row 0.500001 s earlier
    falls outside it and one exactly 0.5 s earlier inside. The pandas
    oracle agrees on the same rows."""
    from datetime import datetime, timedelta

    import pandas as pd

    from engine.operators.core import rolling_range
    from engine.oracle.features import oracle_features

    t0 = datetime(2024, 1, 1)
    offsets_us = [
        0,
        300_000,    # within 0.5 s of #0
        1_200_000,  # not within 0.5 s of #1
        1_700_001,  # 0.500001 s after #2: outside
        2_200_001,  # exactly 0.5 s after #3: inside
    ]
    rows = [("a", i, t0 + timedelta(microseconds=us)) for i, us in enumerate(offsets_us)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")
    out = rolling_range(
        df, "conv_id", "ts", 0.5, {"n": "count(1)"}
    )
    got = {r["turn_idx"]: r["n"] for r in out.collect()}
    assert got == {0: 1, 1: 2, 2: 1, 3: 1, 4: 2}
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts"]).assign(
        role="user", text="x", tool=None
    )
    exp = oracle_features(pdf, roll_window_s=0.5)
    assert dict(zip(exp["turn_idx"], exp["roll_cnt_5m"])) == got
    # integral windows: the same frame in whole seconds
    out2 = rolling_range(df, "conv_id", "ts", 2, {"n": "count(1)"})
    assert {r["turn_idx"]: r["n"] for r in out2.collect()} == {0: 1, 1: 2, 2: 3, 3: 4, 4: 4}
