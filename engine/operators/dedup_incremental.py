"""Incremental MinHash near-dup dedup for streaming ingest.

The realistic training-data flow: documents arrive in batches/epochs;
each new batch's MinHash signatures are checked against the COMMITTED
signature state, so dedup cost per epoch is O(new docs × bucket
collisions), never a full-corpus re-run — while the resulting keep-list
stays EXACTLY equal to what the batch `near_dup_clusters` operator
would produce over everything ingested so far (batch-parity is
test-pinned).

State (three TableIO tables in one warehouse):
- `docs`      (doc_id, text)                 — the ingested corpus.
- `doc_sigs`  (doc_id, band_idx, band_key)   — LSH band buckets of
  every ingested doc: ids + hashes ONLY (the shuffle-payload doctrine;
  shingle sets are recomputed for the bounded candidate ids instead of
  stored).
- `doc_rep`   (doc_id, rep_id, upd_seq)      — cluster representative
  per doc, LATEST upd_seq wins. rep_id is always the cluster's min
  doc_id, so the keep-list is simply rep_id == doc_id.

Why the edge set is identical to the batch run: the batch operator's
edges are all pairs sharing ≥1 band key with verified Jaccard ≥ t.
For any such pair, the LATER-ingested doc discovers it in its own
epoch via the new×(old ∪ new) band join — old×old pairs need never be
re-examined. Connected components are then maintained EXACTLY: an
epoch recomputes labels only on the AFFECTED subgraph (the new docs,
every doc they touch, and all members of those docs' current clusters,
connected by the new verified edges plus the doc→rep star edges that
encode the old equivalences). Connected components (min-id labels)
on that subgraph merge clusters transitively across epochs, including
retroactive merges (a new doc bridging two old clusters re-labels BOTH
to the global min) — the part first-seen-wins heuristics get wrong.

Scale shape at 100 TB: per epoch, the only full-state relations
touched are `doc_sigs` (band join against the new docs' bands — a
bucketed hash join on (band_idx, band_key), ids+hashes only) and
`doc_rep` (two semi-join-shaped filters to pull affected members).
Text is read back only for candidate ids (broadcast-sized). The
affected-cluster rewrite is the standard price of EXACT incremental
connected components; the documented alternative at extreme churn is
periodic batch reconciliation via `near_dup_clusters`.

Crash safety: the three appends of an epoch share one run_id and
commit docs → doc_sigs → doc_rep; `doc_rep` is the epoch's commit
point. A replay (foreachBatch re-delivers the same epoch id) or a
crash retry re-runs the epoch: the earlier appends are idempotent
no-ops on their committed run_id and `doc_rep` commits once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from engine.operators.core import argmax_by
from engine.operators.dedup import (
    connected_components,
    lsh_band_rows,
    minhash_signature,
    verify_jaccard,
)
from engine.tableio import TableIO

DOCS_TABLE = "docs"
SIGS_TABLE = "doc_sigs"
REP_TABLE = "doc_rep"


def _band_rows(
    df: DataFrame, num_hashes: int, bands: int, shingle_n: int
) -> DataFrame:
    """(doc_id, band_idx, band_key) LSH bucket rows for a doc batch —
    the persisted signature state. Uses the SAME banding helper as the
    batch candidate join (dedup.lsh_band_rows), so the two definitions
    can never drift and invalid num_hashes/bands combinations raise
    here exactly as they do in the batch operator."""
    sigs = minhash_signature(df, "doc_id", "text", num_hashes, shingle_n)
    return lsh_band_rows(sigs, "doc_id", num_hashes, bands)


def latest_rep(spark: SparkSession, io: TableIO) -> DataFrame:
    """Current (doc_id, rep_id) mapping: latest upd_seq wins per doc
    (a doc gets at most one row per epoch)."""
    return argmax_by(
        io.read(spark, REP_TABLE), "doc_id", "upd_seq", "rep_id"
    ).select("doc_id", "rep_id")


def dedup_keep_list(spark: SparkSession, io: TableIO) -> DataFrame:
    """The dedup decision over everything ingested so far: one doc per
    near-dup cluster (the cluster-min representative) — identical to
    batch `near_dup_clusters` + keep-min-id over the same corpus."""
    return latest_rep(spark, io).filter(
        F.col("rep_id") == F.col("doc_id")
    ).select("doc_id")


def ingest_dedup_increment(
    spark: SparkSession,
    io: TableIO,
    new_docs: DataFrame,
    run_id: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> dict:
    """Ingest one batch of new documents (globally unique doc_ids —
    the ingest contract) into the dedup state. See module docstring
    for the algorithm, state tables, and crash-safety protocol."""
    if io.is_committed(REP_TABLE, run_id):
        m = io.read_manifest(REP_TABLE, run_id)
        return {"run_id": run_id, "status": "replayed", "rep_rows": m["total_rows"]}

    new_docs = new_docs.select("doc_id", "text")
    bands_new = _band_rows(new_docs, num_hashes, bands, shingle_n)
    # Each table is keyed on ITS OWN committed state, not a shared
    # flag: a first-epoch crash between the sigs and rep commits
    # otherwise leaves sigs committed but doc_rep empty, and a
    # latest_rep() read keyed on the sigs table would raise on every
    # retry — wedging the pipeline in exactly the crash window the
    # commit protocol promises to absorb.
    # Sigs without rep rows are also CORRECT to read here: those docs'
    # cluster state is exactly what the retried epoch recomputes. The
    # committed side anti-joins away the new doc ids (broadcast-sized)
    # so a retried epoch — whose own docs/sigs appends already
    # committed — does not see its rows twice.
    if io.committed_runs(SIGS_TABLE):
        new_ids = F.broadcast(new_docs.select("doc_id"))
        bands_all = io.read(spark, SIGS_TABLE).join(
            new_ids, "doc_id", "left_anti"
        ).unionByName(bands_new)
        docs_all = io.read(spark, DOCS_TABLE).select("doc_id", "text").join(
            new_ids, "doc_id", "left_anti"
        ).unionByName(new_docs)
    else:
        bands_all = bands_new
        docs_all = new_docs
    if io.committed_runs(REP_TABLE):
        rep_old = latest_rep(spark, io)
    else:
        # doc_id type follows the caller's corpus (a hardcoded `long`
        # breaks the first epoch of a string-keyed corpus with a
        # unionByName/join type mismatch); rep_id is always the
        # same type as doc_id (it IS a doc_id — the cluster min).
        id_t = new_docs.schema["doc_id"].dataType.simpleString()
        rep_old = spark.createDataFrame([], f"doc_id {id_t}, rep_id {id_t}")

    # Candidates: new × (old ∪ new) via the band-bucket join — the only
    # full-state shuffle, carrying ids + hashes only. Normalized to
    # (id_a < id_b) so new×new pairs dedupe.
    a = bands_new.alias("a")
    b = bands_all.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("id_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("id_b"),
        )
        .distinct()
    )
    # Exact Jaccard verification, the batch operator's step: text is
    # re-read just for the candidate ids.
    edges = (
        verify_jaccard(docs_all, cand, "doc_id", "text", shingle_n, threshold)
        .select("id_a", "id_b")
        .localCheckpoint()  # the fixpoint below iterates over it
    )

    # Affected subgraph: new docs + every old cluster a new edge
    # touches (ALL its members — a merge must re-label the whole
    # cluster), connected by new edges + doc→rep star edges.
    touched = edges.select(F.col("id_a").alias("doc_id")).unionByName(
        edges.select(F.col("id_b").alias("doc_id"))
    ).distinct()
    affected_reps = rep_old.join(touched, "doc_id", "left_semi").select(
        "rep_id"
    ).distinct()
    members = rep_old.join(affected_reps, "rep_id", "left_semi")
    verts = (
        new_docs.select("doc_id")
        .unionByName(members.select("doc_id"))
        .distinct()
    )
    star_edges = members.filter(F.col("doc_id") != F.col("rep_id")).select(
        F.col("doc_id").alias("id_a"), F.col("rep_id").alias("id_b")
    )
    labels = connected_components(
        verts, edges.unionByName(star_edges), "doc_id"
    )  # (doc_id, cluster_id) with cluster_id = component min

    upd_seq = io.max_commit_seq(REP_TABLE) + 1
    rep_rows = labels.select(
        "doc_id",
        F.col("cluster_id").alias("rep_id"),
        F.lit(upd_seq).cast("long").alias("upd_seq"),
    )
    # commit order: docs → sigs → rep (the gate); replays no-op
    io.append(spark, new_docs, DOCS_TABLE, run_id, ts_col=None)
    io.append(spark, bands_new, SIGS_TABLE, run_id, ts_col=None)
    m = io.append(spark, rep_rows, REP_TABLE, run_id, ts_col=None,
                  extra_meta={"upd_seq": upd_seq})
    return {"run_id": run_id, "status": "committed", "rep_rows": m["total_rows"]}


def stream_dedup_ingest(
    sdf: DataFrame,
    io: TableIO,
    job_id: str,
    checkpoint_dir: str | None = None,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
):
    """Structured-Streaming wrapper: each micro-batch of documents runs
    one `ingest_dedup_increment` epoch. foreachBatch is at-least-once
    (an epoch replays with the same id after failure), which the
    run_id-gated commit protocol absorbs — same recipe as
    stream_to_tableio (engine/streaming.py). Returns an un-started
    DataStreamWriter; caller picks the trigger."""

    def commit(batch_df: DataFrame, epoch_id: int) -> None:
        ingest_dedup_increment(
            batch_df.sparkSession, io, batch_df,
            f"{job_id}-e{int(epoch_id):06d}",
            num_hashes=num_hashes, bands=bands,
            shingle_n=shingle_n, threshold=threshold,
        )

    writer = sdf.writeStream.foreachBatch(commit).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer
