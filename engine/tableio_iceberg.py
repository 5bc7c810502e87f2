"""IcebergTableIO — the north-rule storage surface ("committed to
Iceberg snapshots"), with TableIO's commit methods.

The sandbox ships no iceberg-spark-runtime jar and has no network for
`--packages`, so this class cannot run here (TableIO is the documented
Parquet+manifest fallback, SURVEY §7.5). It is written against the
public Iceberg-Spark API so that on a real cluster:

    spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
      --conf spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.local.type=hadoop \
      --conf spark.sql.catalog.local.warehouse=<path> ...

`IcebergTableIO(spark, "local", "engine")` slots into
`runner.run_resumable` with no caller changes: `is_committed`,
`read_manifest` and `committed_runs` take TableIO's parameters, and
`append` takes them less TableIO's Parquet layout options
(`partition_by`, `range_layout`). `run_incremental` and the incremental
dedup/ANN ingest need TableIO: they read by `commit_seq`
(`read_since`, `max_commit_seq`), which this class does not have.

Mapping of the commit protocol onto Iceberg primitives:

- TableIO staging dir + atomic manifest rename  →  Iceberg's own
  atomic snapshot commit (metadata pointer swap).
- run_id idempotence                            →  a `run_id` snapshot
  summary property, set via the `snapshot-property.` write option;
  is_committed scans the `<table>.snapshots` metadata table.
- per-FILE lineage (rows/bytes/watermarks)      →  the `<table>.files`
  metadata table (record_count, file_size_in_bytes per data file),
  restricted to the snapshot via VERSION AS OF.
- read committed-only / time-travel             →  Iceberg reads are
  snapshot-isolated by construction; `as_of` maps to VERSION AS OF.

Tested by tests/test_iceberg.py, which skips unless the runtime jar is
on the classpath (`IcebergTableIO.available(spark)`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


class IcebergTableIO:
    def __init__(self, spark: SparkSession, catalog: str = "local", namespace: str = "engine"):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace

    # -- availability -------------------------------------------------------
    @staticmethod
    def available(spark: SparkSession) -> bool:
        """True iff the Iceberg Spark runtime is on the JVM classpath."""
        try:
            spark._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.SparkCatalog"
            )
            return True
        except Exception:
            return False

    # -- paths ---------------------------------------------------------------
    def _tbl(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    def _ensure_namespace(self) -> None:
        self.spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}"
        )

    # -- commit protocol -----------------------------------------------------
    def is_committed(self, table: str, run_id: str) -> bool:
        if not self.spark.catalog.tableExists(self._tbl(table)):
            return False
        # Column-expression filter, not SQL-string interpolation: a
        # run_id containing a quote must not break (or inject into)
        # the predicate.
        n = (
            self.spark.sql(f"SELECT summary FROM {self._tbl(table)}.snapshots")
            .where(F.col("summary")["run_id"] == F.lit(run_id))
            .count()
        )
        return n > 0

    def append(
        self,
        spark: SparkSession,
        df: DataFrame,
        table: str,
        run_id: str,
        ts_col: str | None = "ts",
        extra_meta: dict | None = None,
    ) -> dict:
        """Append `df` as ONE Iceberg snapshot stamped with run_id.
        Idempotent: a committed run_id is a no-op returning the
        existing manifest. The snapshot commit itself is atomic
        (Iceberg metadata-pointer swap), so there is no staging/rename
        protocol to manage here. `spark` is kept for TableIO's call
        shape; the constructor's session does the work."""
        tbl = self._tbl(table)
        if self.is_committed(table, run_id):
            return self.read_manifest(table, run_id)

        self._ensure_namespace()
        writer = df.writeTo(tbl).option("snapshot-property.run_id", run_id)
        for k, v in (extra_meta or {}).items():
            writer = writer.option(f"snapshot-property.{k}", str(v))
        if self.spark.catalog.tableExists(tbl):
            writer.append()
        else:
            writer.using("iceberg").create()
        return self.read_manifest(table, run_id)

    # -- reads ----------------------------------------------------------------
    def _snapshot_row(self, table: str, run_id: str):
        rows = (
            self.spark.sql(
                f"SELECT snapshot_id, committed_at, summary "
                f"FROM {self._tbl(table)}.snapshots"
            )
            .where(F.col("summary")["run_id"] == F.lit(run_id))
            .collect()
        )
        if not rows:
            raise FileNotFoundError(f"no snapshot for run_id {run_id!r}")
        return rows[0]

    def committed_runs(self, table: str) -> list[str]:
        if not self.spark.catalog.tableExists(self._tbl(table)):
            return []
        rows = self.spark.sql(
            f"SELECT summary['run_id'] AS run_id "
            f"FROM {self._tbl(table)}.snapshots ORDER BY committed_at"
        ).collect()
        return [r["run_id"] for r in rows if r["run_id"] is not None]

    def read_manifest(self, table: str, run_id: str) -> dict:
        """Manifest with the same keys as TableIO.read_manifest: totals
        from the snapshot summary, per-FILE lineage from the `.files`
        metadata table at VERSION AS OF the snapshot."""
        snap = self._snapshot_row(table, run_id)
        summary = dict(snap["summary"])
        files = [
            {
                "file": r["file_path"],
                "rows": r["record_count"],
                "bytes": r["file_size_in_bytes"],
            }
            for r in self.spark.sql(
                f"SELECT file_path, record_count, file_size_in_bytes "
                f"FROM {self._tbl(table)}.files "
                f"VERSION AS OF {snap['snapshot_id']}"
            ).collect()
        ]
        files.sort(key=lambda e: e["file"])
        return {
            "table": table,
            "run_id": run_id,
            "snapshot_id": snap["snapshot_id"],
            "committed_at_epoch_s": snap["committed_at"].timestamp(),
            "total_rows": int(summary.get("added-records", 0)),
            "total_bytes": int(summary.get("added-files-size", 0)),
            "n_files": len(files),
            "files": files,
            **{
                k: v
                for k, v in summary.items()
                if k not in ("added-records", "added-files-size")
            },
        }

    def read(
        self, spark: SparkSession, table: str, as_of: str | None = None
    ) -> DataFrame:
        """Snapshot-isolated scan; `as_of` = run_id time-travel (reads
        the table VERSION AS OF that run's snapshot)."""
        tbl = self._tbl(table)
        if as_of is None:
            return spark.read.table(tbl)
        snap = self._snapshot_row(table, as_of)
        return spark.sql(f"SELECT * FROM {tbl} VERSION AS OF {snap['snapshot_id']}")

    # -- maintenance ---------------------------------------------------------
    # Parity with TableIO's maintenance surface, over the public Iceberg
    # stored procedures. Like the rest of this class: written against
    # the documented API, exercised only where the runtime jar exists
    # (tests/test_iceberg.py gates on available()).

    def compact(self, spark: SparkSession, table: str) -> dict:
        """Small-files pass: CALL system.rewrite_data_files (Iceberg's
        native compaction — the TableIO.compact analog; snapshot
        history is preserved, so time-travel keeps working)."""
        row = spark.sql(
            f"CALL {self.catalog}.system.rewrite_data_files("
            f"table => '{self.namespace}.{table}')"
        ).collect()[0]
        return {k: row[k] for k in row.asDict()}

    def expire_snapshots(
        self, spark: SparkSession, table: str, older_than_ts: str
    ) -> dict:
        """Storage reclamation: CALL system.expire_snapshots — drops
        snapshot history older than the cut and deletes unreferenced
        data files (the TableIO.expire_replaced analog; expired
        history stops being time-travelable, current reads
        unaffected)."""
        row = spark.sql(
            f"CALL {self.catalog}.system.expire_snapshots("
            f"table => '{self.namespace}.{table}', "
            f"older_than => TIMESTAMP '{older_than_ts}')"
        ).collect()[0]
        return {k: row[k] for k in row.asDict()}
