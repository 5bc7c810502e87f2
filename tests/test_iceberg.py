"""IcebergTableIO contract test — runs ONLY when the iceberg-spark
runtime jar is on the classpath (never in this sandbox; see
engine/tableio_iceberg.py header for the spark-submit config). The
module itself must always import cleanly and the commit methods must
take TableIO's parameters."""

from __future__ import annotations

import pytest

from engine.tableio_iceberg import IcebergTableIO


def test_api_mirrors_tableio():
    """The methods `run_resumable` calls, plus `committed_runs`, take
    TableIO's parameters, so the runner swaps implementations without
    code changes. `append` has all of TableIO's but the Parquet layout
    options, which `run_resumable` never passes."""
    import inspect

    from engine.tableio import TableIO

    for name in ("is_committed", "read_manifest", "committed_runs"):
        assert inspect.signature(getattr(IcebergTableIO, name)) == inspect.signature(
            getattr(TableIO, name)
        ), name
    tableio_append = [
        p
        for p in inspect.signature(TableIO.append).parameters.values()
        if p.name not in ("partition_by", "range_layout")
    ]
    assert list(inspect.signature(IcebergTableIO.append).parameters.values()) == tableio_append


def test_iceberg_roundtrip(spark, transcripts_df):
    if not IcebergTableIO.available(spark):
        pytest.skip("iceberg-spark-runtime jar not on classpath (sandbox)")
    io = IcebergTableIO(spark, "local", "engine_test")
    m = io.append(spark, transcripts_df.limit(100), "t_rt", "run-0001")
    assert m["total_rows"] == 100
    assert io.is_committed("t_rt", "run-0001")
    # idempotent re-append
    m2 = io.append(spark, transcripts_df.limit(100), "t_rt", "run-0001")
    assert m2["snapshot_id"] == m["snapshot_id"]
    assert io.read(spark, "t_rt").count() == 100
