"""Incremental IVF index maintenance for streaming ingest.

The ANN counterpart of engine/operators/dedup_incremental.py:
vectors arrive in batches/epochs; each epoch is ASSIGNED against the COMMITTED coarse-
quantizer snapshot (`similarity.assign_cells`, the per-row
broadcast-argmin projection `ivf_topk` assigns with — the corpus
never shuffles), so index
maintenance cost per epoch is O(new vectors), never a full re-train —
until measured drift says the quantizer no longer fits the data, at
which point the epoch retrains on the full corpus and re-assigns
(the standard FAISS-style operational recipe: assign-only ingest,
periodic/triggered re-train).

Drift trigger: each centroid snapshot's manifest records `train_mse`,
the mean squared quantization error (mean d2 to the assigned cell) at
training time. An epoch whose own mean d2 exceeds
`drift_factor × train_mse` is evidence the incoming distribution moved
away from the trained cells (queries would then scan badly-balanced
cells); that epoch retrains. Same-distribution epochs never trigger at
the default factor (test-pinned).

State (three TableIO tables in one warehouse):
- `ann_vecs`      (vec_id, embedding)            — the ingested corpus.
- `ann_centroids` (cell_id, centroid, upd_seq)   — quantizer snapshots;
  latest upd_seq wins (all rows of one training share one upd_seq).
- `ann_assign`    (vec_id, cell_id, d2, upd_seq) — cell assignment per
  vector, latest upd_seq wins. d2 is kept so rebalance/debug stats
  never need the vectors again.

Batch parity (test-pinned, mirroring dedup_incremental):
- assign-only epochs: every vector's cell equals the batch assignment
  of the full corpus against the SAME committed centroid snapshot —
  trivially, because assignment is a pure per-row function of
  (vector, snapshot);
- a retrain epoch: the resulting (centroids, assignment) equal the
  batch `train_centroids` + assign over the full corpus ingested so
  far, because the trainer's init is deterministic (smallest-k ids)
  and the retrain feeds it exactly that corpus.

Crash safety: the appends of an epoch share one run_id and commit
vecs → centroids (only when (re)trained) → assign; `ann_assign` is the
epoch's commit point. A replay or crash retry re-runs the epoch: the
earlier appends no-op on their committed run_id and assign commits
once. The full-state reads anti-join the new ids first (a retried
epoch's own vecs append may already be committed), same as the dedup
ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from engine.operators.core import argmax_by
from engine.operators.similarity import (
    assign_cells,
    probe_cells,
    rank_topk,
    train_centroids,
)
from engine.tableio import TableIO

VECS_TABLE = "ann_vecs"
CENTROIDS_TABLE = "ann_centroids"
ASSIGN_TABLE = "ann_assign"


def latest_centroids(spark: SparkSession, io: TableIO) -> DataFrame:
    """Current quantizer: the centroid rows of the highest upd_seq."""
    c = io.read(spark, CENTROIDS_TABLE)
    mx = c.agg(F.max("upd_seq").alias("m"))
    return (
        c.join(F.broadcast(mx), c.upd_seq == mx.m, "left_semi")
        .select("cell_id", "centroid")
    )


def latest_assignment(spark: SparkSession, io: TableIO) -> DataFrame:
    """Current (vec_id, cell_id, d2): latest upd_seq wins per vector
    (a vector gets at most one row per epoch)."""
    return argmax_by(
        io.read(spark, ASSIGN_TABLE), "vec_id", "upd_seq", "cell_id"
    ).select("vec_id", "cell_id", "d2")


def ingest_ann_increment(
    spark: SparkSession,
    io: TableIO,
    new_vecs: DataFrame,
    run_id: str,
    k: int = 8,
    train_fn=None,
    drift_factor: float = 4.0,
    max_iter: int = 10,
) -> dict:
    """Ingest one batch of new vectors (globally unique vec_ids — the
    ingest contract) into the IVF state. See module docstring for the
    algorithm, state tables, drift trigger, and crash-safety protocol.

    `train_fn(vecs_df) -> DataFrame(cell_id, centroid)` lets callers
    swap the quantizer trainer (e.g. a deterministic oracle-checkable
    stand-in for gate queries); default is Lloyd's `train_centroids`
    with its deterministic smallest-k-ids init."""
    if io.is_committed(ASSIGN_TABLE, run_id):
        m = io.read_manifest(ASSIGN_TABLE, run_id)
        return {"run_id": run_id, "status": "replayed",
                "assign_rows": m["total_rows"]}

    new_vecs = new_vecs.select("vec_id", "embedding")

    def _train(df: DataFrame) -> DataFrame:
        if train_fn is not None:
            return train_fn(df)
        rows = train_centroids(
            df, k, id_col="vec_id", vec_col="embedding", max_iter=max_iter
        )
        return spark.createDataFrame(
            rows, "cell_id int, centroid array<double>"
        )

    def _mse(assigned: DataFrame) -> float:
        r = assigned.agg(F.avg("d2").alias("m")).first()
        return float(r["m"]) if r["m"] is not None else 0.0

    def _commit(cents: DataFrame | None, assigned: DataFrame,
                status: str, mse: float) -> dict:
        upd_seq = io.max_commit_seq(ASSIGN_TABLE) + 1
        io.append(spark, new_vecs, VECS_TABLE, run_id, ts_col=None)
        if cents is not None:
            io.append(
                spark,
                cents.select(
                    "cell_id", "centroid",
                    F.lit(upd_seq).cast("long").alias("upd_seq"),
                ),
                CENTROIDS_TABLE, run_id, ts_col=None,
                extra_meta={"upd_seq": upd_seq, "train_mse": mse},
            )
        rows = assigned.select(
            "vec_id", "cell_id",
            F.round("d2", 9).alias("d2"),
            F.lit(upd_seq).cast("long").alias("upd_seq"),
        )
        m = io.append(spark, rows, ASSIGN_TABLE, run_id, ts_col=None,
                      extra_meta={"upd_seq": upd_seq, "epoch_mse": mse,
                                  "trained": cents is not None})
        return {"run_id": run_id, "status": status,
                "assign_rows": m["total_rows"], "epoch_mse": mse}

    if not io.committed_runs(CENTROIDS_TABLE):
        # first epoch: train on it, assign it
        cents = _train(new_vecs)
        assigned = assign_cells(new_vecs, cents).localCheckpoint()
        return _commit(cents, assigned, "trained", _mse(assigned))

    cents = latest_centroids(spark, io)
    assigned = assign_cells(new_vecs, cents).localCheckpoint()
    epoch_mse = _mse(assigned)
    # reference error: the LATEST centroid manifest (highest upd_seq)
    # carries the current snapshot's train_mse.
    manifests = [
        io.read_manifest(CENTROIDS_TABLE, r)
        for r in io.committed_runs(CENTROIDS_TABLE)
    ]
    ref_mse = max(manifests, key=lambda m: m.get("upd_seq", 0)).get(
        "train_mse", 0.0
    )
    if ref_mse > 0 and epoch_mse > drift_factor * ref_mse:
        # drift: retrain on the FULL corpus ingested so far + this
        # epoch, re-assign everything. Anti-join first — a retried
        # epoch's own vecs append may already be committed.
        new_ids = F.broadcast(new_vecs.select("vec_id"))
        corpus = (
            io.read(spark, VECS_TABLE)
            .select("vec_id", "embedding")
            .join(new_ids, "vec_id", "left_anti")
            .unionByName(new_vecs)
        )
        cents2 = _train(corpus)
        assigned_all = assign_cells(corpus, cents2).localCheckpoint()
        return _commit(cents2, assigned_all, "retrained", _mse(assigned_all))
    return _commit(None, assigned, "assigned", epoch_mse)


def ann_query(
    spark: SparkSession,
    io: TableIO,
    probes: DataFrame,
    k: int = 3,
    nprobe: int = 1,
    probe_id: str = "probe_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search over the maintained index, using the STORED inverted
    file (the committed assignment) instead of re-deriving it — the
    payoff of incremental maintenance. The probe cells and the re-rank
    are `ivf_topk`'s own steps (`probe_cells` against the committed
    centroid snapshot, `rank_topk`); candidates are the stored members
    of the probe's `nprobe` nearest cells. Plan: one hash join on
    cell_id + one per-probe top-k — the corpus never shuffles."""
    corpus = (
        io.read(spark, VECS_TABLE)
        .select("vec_id", "embedding")
        .join(latest_assignment(spark, io).select("vec_id", "cell_id"),
              "vec_id")
    )
    p_cells = probe_cells(
        probes, latest_centroids(spark, io), nprobe, probe_id, vec_col
    )
    return rank_topk(
        corpus.join(p_cells, "cell_id"), k, "vec_id", "embedding", probe_id
    )
