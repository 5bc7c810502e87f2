"""bench.py CLI: one small run end to end in a subprocess (it builds,
stops and shuts down its own Spark sessions), and the scale-factor
parser that names the record's `sf`."""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("sf_dir, sf", [
    ("/data/sf0.1", 0.1),
    ("/data/sf10/", 10.0),
    ("/data/sf_small", None),
    ("/data/tables", None),
])
def test_parse_sf(sf_dir, sf):
    from bench import parse_sf

    assert parse_sf(sf_dir) == sf


def test_bench_prints_one_record():
    proc = subprocess.run(
        [sys.executable, "bench.py", "--sf-dir", "/root/testdata/sf0.001",
         "--queries", "lag_lead", "--turns", "4000", "--reps", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rec = json.loads(proc.stdout.strip().splitlines()[-1])
    for key in ("metric", "value", "unit", "queries", "sf", "flagship", "scaling", "host"):
        assert key in rec
    assert set(rec["queries"]) == {"lag_lead", "flagship_pipeline"}
    assert rec["value"] == pytest.approx(sum(rec["queries"].values()), abs=1e-2)
    assert rec["sf"] == 0.001
    # whole conversations up to the target: over by less than one
    # conversation (at most 400 turns)
    assert 4000 <= rec["flagship"]["turns"] <= 4400, rec["flagship"]["turns"]
    assert rec["flagship"]["failed_tasks"] == 0
    scaling = rec["scaling"]
    assert math.isfinite(scaling["efficiency"]) and scaling["efficiency"] > 0
    affinity = len(os.sched_getaffinity(0))
    assert scaling["lo"]["cores"] == max(1, scaling["hi"]["cores"] // 4)
    assert scaling["hi"]["cores"] <= affinity and rec["host"]["cpus"] <= affinity
    assert len(scaling["lo"]["rep_s"]) == len(scaling["hi"]["rep_s"]) == 1
