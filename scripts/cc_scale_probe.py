"""Scale probe for connected_components (large-star/small-star): one
measured datapoint on a planted >=10^6-edge graph backing the O(log^2)
rounds claim with evidence — rounds to fixpoint, wall clock, and
peak/total shuffle bytes from the Spark REST stage metrics (bytes do
not depend on host weather).

Graph: C chains of length L (distributed spark.range generation — no
driver-side edge list). Chains are the ADVERSARIAL case: diameter
L-1 per component, so per-round label propagation would need L-1
rounds while star contraction must stay at O(log^2 L).

Usage: python scripts/cc_scale_probe.py [--chains 2000] [--length 1000]
Emits one JSON line; paste into BENCH.md.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--chains", type=int, default=2000)
    ap.add_argument("--length", type=int, default=1000)
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args()

    from bench import _cpu_probe
    from engine.operators.dedup import connected_components
    from engine.session import build_session

    spark = build_session(
        app_name="cc-scale-probe",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    n = args.chains * args.length
    verts = spark.range(n).select(F.col("id").alias("doc_id"))
    # edge i -> i+1 within each chain of `length` consecutive ids
    edges = (
        spark.range(n)
        .filter(F.col("id") % args.length != args.length - 1)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )
    n_edges = edges.count()

    probe_before = _cpu_probe(args.cpus)
    stats: dict = {}
    t0 = time.time()
    labels = connected_components(
        verts, edges, "doc_id", max_iter=40, stats=stats
    )
    agg = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("cluster_id").alias("n_clusters"),
        # every vertex must label to its chain base: id - id % length
        F.sum(
            (
                F.col("cluster_id")
                != F.col("doc_id") - F.col("doc_id") % args.length
            ).cast("long")
        ).alias("mislabeled"),
    ).collect()[0]
    wall = time.time() - t0

    # REST stage metrics: shuffle totals + peak single-stage write
    import urllib.request

    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
    stages = json.loads(urllib.request.urlopen(url).read())
    sw = sum(s.get("shuffleWriteBytes", 0) for s in stages)
    sr = sum(s.get("shuffleReadBytes", 0) for s in stages)
    peak = max((s.get("shuffleWriteBytes", 0) for s in stages), default=0)
    spill = sum(
        s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        for s in stages
    )

    assert agg["n"] == n, agg
    assert agg["n_clusters"] == args.chains, agg
    assert agg["mislabeled"] == 0, agg
    print(json.dumps({
        "metric": "cc_star_scale_probe",
        "vertices": n,
        "edges": n_edges,
        "chains": args.chains,
        "chain_length": args.length,
        "rounds": stats.get("rounds"),
        "wall_s": round(wall, 2),
        "shuffle_write_MB": round(sw / 1e6, 1),
        "shuffle_read_MB": round(sr / 1e6, 1),
        "peak_stage_shuffle_write_MB": round(peak / 1e6, 1),
        "spilled_MB": round(spill / 1e6, 1),
        "correct": True,
        "cpu_probe": probe_before,
    }))


if __name__ == "__main__":
    main()
