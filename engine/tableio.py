"""TableIO — snapshot-committed table storage with per-partition
lineage manifests and exactly-once resume.

North-rule surface: "checkpoint-resumable with per-partition lineage
manifests and metrics (rows, bytes, watermark) committed to Iceberg
snapshots". No Iceberg runtime jar ships with local pyspark and the
sandbox has no network for `--packages`, so this is the documented
fallback (SURVEY.md §7.5): partitioned Parquet + atomic JSON snapshot
manifests exposing the same API shape (`append` → snapshot commit,
`read` → committed-snapshots-only scan). On a cluster with the
iceberg-spark-runtime jar, `engine.tableio_iceberg.IcebergTableIO`
(the same commit methods over `df.writeTo(tbl).append()` +
snapshot-summary run_id stamping + `.files` metadata lineage) slots
into `run_resumable` unchanged — callers never touch paths. Its test
activates iff the jar is present.

Commit protocol (the reference's atomic "response only after all
extractors finish" boundary, utils.py:155-214, as a storage contract):

1. data files  →  <root>/<table>/data/snap=<run_id>/   (staging; a
   crashed run leaves orphan files that are invisible to readers and
   overwritten on retry)
2. lineage     →  one record per data FILE (the unit of parallel
   recovery): rows, bytes, ts-watermark lo/hi, read on the driver from
   the Parquet footers of the files just written (Iceberg takes its
   file stats from the writer the same way), so no Spark job re-scans
   the snapshot. A footer without `ts` min/max (INT96, all-null)
   records None, which `read(ts_range=...)` never prunes.
3. manifest    →  <root>/<table>/_manifests/<run_id>.json written via
   tmp + atomic rename. The manifest IS the commit: `read` only scans
   files listed in committed manifests.

Exactly-once resume: `is_committed(run_id)` gates re-execution;
re-running a committed run_id is a no-op, re-running a crashed one
overwrites its staging dir. Idempotence is by run_id, which callers
derive deterministically from (input snapshot, config) — see
engine/runner.py.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F


def _write_atomic(path: str, text: str) -> None:
    """Replace `path` with `text` durably: the temp file is fsynced
    before the rename, so a crash never commits an empty or torn file."""
    tmp = path + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def _ts_string(v: dt.datetime) -> str:
    """Spark's `cast(ts as string)` in the UTC session zone: seconds,
    then the fraction only when non-zero, trailing zeros trimmed."""
    if v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    out = v.isoformat(" ", "seconds")
    return out + f".{v.microsecond:06d}".rstrip("0") if v.microsecond else out


def _footer_watermarks(md, ts_col: str) -> tuple[str | None, str | None]:
    """(lo, hi) of `ts_col` from the row-group statistics of one
    footer; (None, None) when any non-null row group lacks them (INT96
    carries none)."""
    idx = next(
        (i for i in range(md.num_columns) if md.schema.column(i).path == ts_col),
        None,
    )
    if idx is None:
        return None, None
    los, his = [], []
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        st = rg.column(idx).statistics
        if st is not None and st.has_min_max:
            los.append(st.min)
            his.append(st.max)
        elif st is None or not st.has_null_count or st.null_count != rg.num_rows:
            return None, None  # values present but unbounded
    if not los or not isinstance(los[0], dt.datetime):
        return None, None
    return _ts_string(min(los)), _ts_string(max(his))


def _footer_lineage(data_dir: str, ts_col: str | None) -> list[dict]:
    """One lineage record per non-empty data file under `data_dir`
    (partition directories included), read from the Parquet footers
    the write just produced, so committing costs no Spark job."""
    files = []
    for dirpath, dirnames, names in os.walk(os.path.abspath(data_dir)):
        dirnames[:] = [d for d in dirnames if d[0] not in "_."]
        for name in names:
            if name[0] in "_.":
                continue
            local = os.path.join(dirpath, name)
            md = pq.read_metadata(local)
            if md.num_rows == 0:
                continue
            entry = {"file": "file://" + local, "rows": md.num_rows,
                     "bytes": os.path.getsize(local)}
            if ts_col:
                entry["watermark_lo"], entry["watermark_hi"] = (
                    _footer_watermarks(md, ts_col)
                )
            files.append(entry)
    return sorted(files, key=lambda e: e["file"])


class TableIO:
    def __init__(self, root: str):
        self.root = root

    # -- paths ------------------------------------------------------------
    def _data_dir(self, table: str, run_id: str) -> str:
        return os.path.join(self.root, table, "data", f"snap={run_id}")

    def _manifest_dir(self, table: str) -> str:
        return os.path.join(self.root, table, "_manifests")

    def _manifest_path(self, table: str, run_id: str) -> str:
        return os.path.join(self._manifest_dir(table), f"{run_id}.json")

    # -- commit protocol ---------------------------------------------------
    def is_committed(self, table: str, run_id: str) -> bool:
        return os.path.exists(self._manifest_path(table, run_id))

    def _commit_order(
        self, table: str, manifests: dict[str, dict] | None = None
    ) -> list[tuple[tuple, str]]:
        """Committed manifests in COMMIT order as [(key, run_id)].

        Ordering key is the monotonic `commit_seq` stamped at append
        time (Iceberg's sequence-number analog) — NOT run_id
        lexicographic order, which is wrong the moment run_ids from
        different naming schemes coexist (e.g. a 'compact-…' snapshot
        sorts before 'jobc-…' run_ids even though it committed after
        them). Legacy manifests without commit_seq sort BEFORE every
        stamped one (phase 0 vs 1 — they were necessarily committed
        before stamping existed; epoch-seconds keys would sort them
        AFTER, silently breaking as_of on upgraded warehouses), in
        committed_at order among themselves."""
        out = []
        for run_id, m in (
            manifests if manifests is not None else self._load_manifests(table)
        ).items():
            key = (
                (1, m["commit_seq"], run_id)
                if "commit_seq" in m
                else (0, m.get("committed_at_epoch_s", 0.0), run_id)
            )
            out.append((key, run_id))
        out.sort()
        return out

    def _load_manifests(self, table: str) -> dict[str, dict]:
        """All committed manifests in ONE pass (run_id → manifest).
        Callers that need ordering + replaces + files (read()) parse
        each manifest once instead of three times; the per-epoch
        streaming sink makes this matter (commit latency would
        otherwise grow with stream age)."""
        return {
            run_id: self.read_manifest(table, run_id)
            for run_id in self.committed_runs(table)
        }

    def _commit_manifest(self, table: str, run_id: str, manifest: dict) -> dict:
        """Allocate the next commit_seq AND atomically commit the
        manifest, both inside ONE exclusive flock on `_seq.lock` in the
        table's manifest dir. Serializing allocation and commit
        together makes seq order == manifest commit order, which
        incremental consumers (read_since) depend on: without it, a
        writer that allocated seq N then stalled could commit AFTER a
        seq-N+1 commit was already consumed, and its rows would be
        skipped forever (Iceberg orders incremental scans by snapshot
        commit order for the same reason). Concurrent writers — a
        streaming sink plus a CLI --compact run — therefore can neither
        duplicate seqs nor reorder them.

        The lock file is NEVER replaced (replacing the locked inode
        would silently hand the lock's mutual exclusion to a second
        opener); the counter value lives in a separate `_seq` file
        updated via tmp + os.replace, so no crash point leaves it
        empty (a truncate-then-write window could reseed a seq already
        reserved by an in-flight append).
        Counter update precedes the manifest commit: a crash between
        the two burns a seq (harmless gap) instead of reusing one.
        First writer seeds from the max committed seq (legacy tables);
        O(1) per commit after that. Neither file ends in .json, so
        committed_runs never sees them."""
        import fcntl

        os.makedirs(self._manifest_dir(table), exist_ok=True)
        seq_path = os.path.join(self._manifest_dir(table), "_seq")
        lock_path = seq_path + ".lock"
        with open(lock_path, "a") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            cur = None
            if os.path.exists(seq_path):
                raw = open(seq_path).read().strip()
                cur = int(raw) if raw else None
            if cur is None:
                seqs = [
                    m.get("commit_seq", 0)
                    for m in self._load_manifests(table).values()
                ]
                cur = max(seqs) if seqs else 0
            nxt = cur + 1
            _write_atomic(seq_path, str(nxt))  # reservation
            manifest = {**manifest, "commit_seq": nxt}
            _write_atomic(self._manifest_path(table, run_id), json.dumps(manifest, indent=1))  # THE commit
        return manifest

    def append(
        self,
        spark: SparkSession,
        df: DataFrame,
        table: str,
        run_id: str,
        ts_col: str | None = "ts",
        extra_meta: dict | None = None,
        partition_by: list[str] | None = None,
        range_layout: bool | int = False,
    ) -> dict:
        """Stage `df` as a new snapshot and atomically commit its
        manifest. Returns the manifest. No-op (returns the existing
        manifest) if run_id is already committed.

        `partition_by`: hive-partition the snapshot's data files by
        these columns (e.g. an event-date column) — readers filtering
        on them then prune whole directories before any IO; the
        manifest's per-file lineage keys the partition values in the
        file paths. The Iceberg analog is the table's partition spec.

        `range_layout`: range-repartition + sort the snapshot on
        `ts_col` before writing, so each data FILE covers a disjoint
        slice of event time and the manifest's per-file watermarks
        become a pruning index — `read(ts_range=...)` then skips
        whole files before any IO (Iceberg's min/max file pruning,
        over our own lineage records). Costs one shuffle at WRITE
        time, amortized over every later time-scoped scan. Pass an
        int to pin the file count (True lets AQE pick, which may
        coalesce a small snapshot to one file and no pruning index)."""
        if self.is_committed(table, run_id):
            return self.read_manifest(table, run_id)

        data_dir = self._data_dir(table, run_id)
        t0 = time.time()
        if range_layout:
            if not ts_col or ts_col not in df.columns:
                raise ValueError("range_layout requires ts_col in df")
            if isinstance(range_layout, bool):
                df = df.repartitionByRange(F.col(ts_col))
            else:
                df = df.repartitionByRange(int(range_layout), F.col(ts_col))
            df = df.sortWithinPartitions(ts_col)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)

        files = _footer_lineage(data_dir, ts_col if ts_col in df.columns else None)
        total_rows = sum(e["rows"] for e in files)
        total_bytes = sum(e["bytes"] for e in files)

        manifest = {
            "table": table,
            "run_id": run_id,
            # commit_seq stamped by _commit_manifest inside the lock
            "partition_by": partition_by or [],
            "committed_at_epoch_s": time.time(),
            "elapsed_s": round(time.time() - t0, 3),
            "total_rows": total_rows,
            "total_bytes": total_bytes,
            "n_files": len(files),
            "files": files,
            **(extra_meta or {}),
        }
        return self._commit_manifest(table, run_id, manifest)

    def compact(
        self,
        spark: SparkSession,
        table: str,
        target_files: int = 8,
        ts_col: str | None = "ts",
        range_layout: bool = False,
    ) -> dict:
        """Rewrite ALL currently-committed snapshots into one compacted
        snapshot of `target_files` files (the small-files maintenance
        pass: a 10^12-turn table appended in thousands of batches
        accumulates file counts that slow every subsequent scan; Iceberg
        calls this rewrite_data_files).

        Protocol: write the compacted data as a new snapshot whose
        manifest carries `replaces: [run_ids...]`; `read()` skips any
        manifest listed as replaced. Crash-safe by the same atomic-
        rename commit: a crash mid-compaction leaves invisible staging
        data and the old snapshots intact. `is_committed` keeps
        answering True for replaced run_ids, so resumable jobs never
        re-run batches that were compacted away.

        `range_layout=True`: the compacted snapshot is range-clustered
        and sorted on `ts_col` (see `append`), turning compaction into
        the time-clustering pass as well — afterwards `read(ts_range)`
        prunes the WHOLE table's history at file granularity, which
        per-batch appends (each spanning the full time range of its
        batch) cannot offer."""
        manifests = self._load_manifests(table)
        replaced = self._replaced(manifests)
        live = [r for r in manifests if r not in replaced]
        compactions = [r for r in live if manifests[r].get("replaces")]
        runs = [r for r in live if not manifests[r].get("replaces")]
        if not runs:
            if compactions:  # idempotent: nothing new since last compaction
                latest = next(
                    r for _, r in reversed(self._commit_order(table, manifests))
                    if r in compactions
                )
                return manifests[latest]
            raise FileNotFoundError(f"nothing to compact for table {table!r}")
        run_id = f"compact-{max(runs)}-{len(runs)}"
        if run_id in manifests:
            return manifests[run_id]
        df = self.read(spark, table)
        if range_layout:
            return self.append(
                spark, df, table, run_id, ts_col=ts_col,
                extra_meta={"replaces": runs}, range_layout=target_files,
            )
        return self.append(
            spark, df.coalesce(target_files), table, run_id, ts_col=ts_col,
            extra_meta={"replaces": runs},
        )

    def expire_replaced(self, table: str) -> dict:
        """Physically delete the data files of snapshots a committed
        compaction has replaced — the storage-reclamation half of
        `compact()` (Iceberg's expire_snapshots): compaction rewrites
        rows but deliberately leaves the originals for time-travel;
        once history is no longer needed, this reclaims the space.

        Each expired snapshot's manifest is REWRITTEN (atomically) as a
        tombstone — commit_seq, run metadata and row totals survive,
        `files` empties, `expired: true` is stamped — so
        `is_committed()` keeps answering True and resumable jobs never
        re-run expired batches. A later time-travel read that NEEDS an
        expired snapshot raises a clear error instead of silently
        returning partial data. Current-table reads are unaffected
        (expired snapshots are by definition replaced)."""
        import shutil

        manifests = self._load_manifests(table)
        replaced = self._replaced(manifests)
        expired, n_deleted, bytes_reclaimed = [], 0, 0

        def _delete(paths: list[str]) -> None:
            nonlocal n_deleted, bytes_reclaimed
            for p in paths:
                local = p.removeprefix("file://").removeprefix("file:")
                if os.path.exists(local):
                    n_deleted += 1
                    bytes_reclaimed += os.path.getsize(local)
                    os.remove(local)

        for run_id in sorted(replaced):
            m = manifests[run_id]
            if m.get("expired"):
                # idempotent re-run: sweep orphans a crash between
                # tombstone and delete may have left behind
                _delete(m.get("expired_files", []))
                shutil.rmtree(self._data_dir(table, run_id), ignore_errors=True)
                continue
            # Tombstone FIRST, delete after: a crash in between leaves
            # an expired manifest + orphan files (swept by the next
            # run) — the reverse order would leave a live manifest
            # pointing at deleted files, turning the promised clear
            # 'expired' error into a raw scan failure.
            paths = [e["file"] for e in m["files"]]
            tomb = {
                **m,
                "files": [],
                "n_files": 0,
                "expired": True,
                "expired_files": paths,
                "expired_at_epoch_s": time.time(),
            }
            _write_atomic(self._manifest_path(table, run_id), json.dumps(tomb, indent=1))
            _delete(paths)
            shutil.rmtree(self._data_dir(table, run_id), ignore_errors=True)
            expired.append(run_id)
        return {
            "expired_run_ids": expired,
            "files_deleted": n_deleted,
            "bytes_reclaimed": bytes_reclaimed,
        }

    def lineage(self, spark: SparkSession, table: str) -> DataFrame:
        """Per-FILE lineage across all committed snapshots as a
        DataFrame (run_id, file, rows, bytes, watermark_lo/hi,
        replaced) — the audit surface for 'metrics committed with the
        snapshot': answerable with plain SQL, e.g. rows per day, bytes
        per snapshot, watermark gaps."""
        manifests = self._load_manifests(table)
        replaced = self._replaced(manifests)
        rows = []
        for run_id, m in manifests.items():
            for e in m["files"]:
                rows.append(
                    (
                        run_id,
                        e["file"],
                        e["rows"],
                        e.get("bytes"),
                        e.get("watermark_lo"),
                        e.get("watermark_hi"),
                        run_id in replaced,
                    )
                )
        return spark.createDataFrame(
            rows,
            "run_id string, file string, rows long, bytes long, "
            "watermark_lo string, watermark_hi string, replaced boolean",
        )

    @staticmethod
    def _replaced(manifests: dict[str, dict]) -> set[str]:
        return {r for m in manifests.values() for r in m.get("replaces") or []}

    # -- reads -------------------------------------------------------------
    def committed_runs(self, table: str) -> list[str]:
        d = self._manifest_dir(table)
        if not os.path.isdir(d):
            return []
        return sorted(
            f.removesuffix(".json") for f in os.listdir(d) if f.endswith(".json")
        )

    def read_manifest(self, table: str, run_id: str) -> dict:
        with open(self._manifest_path(table, run_id)) as fh:
            return json.load(fh)

    def read(
        self,
        spark: SparkSession,
        table: str,
        as_of: str | None = None,
        ts_range: tuple[str, str] | None = None,
    ) -> DataFrame:
        """Scan exactly the files of committed snapshots — orphaned
        staging data from crashed runs is invisible.

        `as_of`: time-travel (Iceberg snapshot-isolation analog) — read
        only snapshots that COMMITTED at or before `as_of`'s commit, in
        `commit_seq` order (never run_id lexicographic order — see
        `_commit_order`). Snapshots listed in a committed compaction's
        `replaces` are skipped (their rows live in the compacted
        snapshot); a compaction always carries a higher commit_seq than
        everything it replaces, so an `as_of` at a pre-compaction run
        excludes the compaction and still sees the originals.

        `ts_range=(lo, hi)`: manifest-watermark FILE pruning (the
        Iceberg min/max pruning analog): only files whose
        [watermark_lo, watermark_hi] overlaps [lo, hi] are scanned —
        zero IO for the rest. Bounds are inclusive timestamp STRINGS
        in the manifest's format ('YYYY-MM-DD HH:MM:SS[.ffffff]',
        lexicographic == chronological for the uniform rendering);
        pruning is exact only in the sense that no overlapping file is
        skipped — rows outside the range inside a kept file still need
        the usual ts filter (pair with `range_layout=True` appends,
        which make file spans disjoint and the residue small)."""
        manifests = self._load_manifests(table)
        order = self._commit_order(table, manifests)
        if as_of is not None:
            cut = next((key for key, r in order if r == as_of), None)
            if cut is None:
                raise FileNotFoundError(
                    f"as_of run_id {as_of!r} is not a committed snapshot of "
                    f"table {table!r}"
                )
            order = [(key, r) for key, r in order if key <= cut]
        included = [r for _, r in order]
        replaced: set[str] = set()
        for run_id in included:
            replaced.update(manifests[run_id].get("replaces") or [])
        def keep(entry: dict) -> bool:
            if ts_range is None:
                return True
            lo, hi = ts_range
            wlo, whi = entry.get("watermark_lo"), entry.get("watermark_hi")
            if wlo is None or whi is None:
                return True  # no stats → cannot prune safely
            return whi >= lo and wlo <= hi

        run_ids = [r for r in included if r not in replaced]
        return self._assemble_read(spark, table, manifests, run_ids, keep,
                                   prunable=ts_range is not None)

    def _assemble_read(
        self,
        spark: SparkSession,
        table: str,
        manifests: dict[str, dict],
        run_ids: list[str],
        keep,
        prunable: bool,
    ) -> DataFrame:
        """Scan the given snapshots' files (those passing `keep`),
        mergeSchema within each scan, basePath per hive-partitioned
        snapshot, unionByName across snapshots (schema evolution:
        columns added over time are nulled in older data — Iceberg
        add-column semantics)."""
        flat: list[str] = []
        partitioned: dict[str, list[str]] = {}
        flat_all: list[str] = []
        partitioned_all: dict[str, list[str]] = {}
        for run_id in run_ids:
            m = manifests[run_id]
            if m.get("expired"):
                raise FileNotFoundError(
                    f"snapshot {run_id!r} of table {table!r} was expired by "
                    f"expire_replaced(): its data files are gone, so this "
                    f"(time-travel) read can no longer be served"
                )
            every = [e["file"] for e in m["files"]]
            fs = [e["file"] for e in m["files"] if keep(e)]
            if m.get("partition_by"):
                # hive-partitioned snapshot: explicit file lists drop
                # the partition columns unless read under their basePath
                partitioned_all[run_id] = every
                if fs:
                    partitioned[run_id] = fs
            else:
                flat_all += every
                if fs:
                    flat += fs

        def assemble(
            flat_fs: list[str], part_fs: dict[str, list[str]]
        ) -> DataFrame:
            dfs = []
            if flat_fs:
                dfs.append(
                    spark.read.option("mergeSchema", "true").parquet(*flat_fs)
                )
            for run_id, fs in part_fs.items():
                dfs.append(
                    spark.read.option("mergeSchema", "true")
                    .option("basePath", self._data_dir(table, run_id))
                    .parquet(*fs)
                )
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d, allowMissingColumns=True)
            return out

        if not flat and not partitioned:
            if prunable and (flat_all or partitioned_all):
                # every file pruned: empty result, but built through the
                # SAME read path as the non-empty case (mergeSchema +
                # basePath per snapshot + unionByName) so hive partition
                # columns and schema-evolved columns survive into the
                # empty frame — downstream selects still resolve
                return assemble(flat_all, partitioned_all).filter(F.lit(False))
            raise FileNotFoundError(f"no committed snapshots for table {table!r}")
        return assemble(flat, partitioned)

    def max_commit_seq(self, table: str) -> int:
        """Highest committed commit_seq (0 for an empty/absent table) —
        the incremental-read watermark unit."""
        seqs = [
            m.get("commit_seq", 0)
            for m in self._load_manifests(table).values()
        ]
        return max(seqs) if seqs else 0

    def read_since(
        self,
        spark: SparkSession,
        table: str,
        since_seq: int,
        until_seq: int | None = None,
    ) -> tuple[DataFrame | None, int]:
        """Incremental read: rows of DATA snapshots committed with
        since_seq < commit_seq (<= until_seq, when given), plus the new
        high watermark. Returns (None, high watermark) when nothing new
        committed. `until_seq` pins a replay to the exact range a
        crashed consumer already partially committed (see
        runner.run_incremental's orphan recovery).

        Compaction snapshots (manifests carrying `replaces`) are
        EXCLUDED regardless of their seq: they rewrite rows that were
        already visible at lower seqs, so including them would hand the
        same rows to an incremental consumer twice. The watermark
        advances over them silently (a compaction carries no new rows).
        This is the Iceberg incremental-append-scan analog
        (snapshot-id-range read of append snapshots only)."""
        manifests = self._load_manifests(table)
        # Legacy (pre-stamping) manifests have no commit_seq, so no
        # increment would ever include their rows: refuse instead of
        # silently skipping them (full reads order them first).
        legacy = sorted(
            r for r, m in manifests.items() if "commit_seq" not in m
        )
        if legacy:
            raise RuntimeError(
                f"incremental read of table {table!r}: snapshots "
                f"{legacy} predate commit_seq stamping and would be "
                f"silently excluded from every increment. Bootstrap "
                f"instead: take ONE full read() as the baseline, start "
                f"incremental consumption at watermark "
                f"max_commit_seq(table), and only use read_since for "
                f"snapshots committed after that."
            )
        new = [
            run_id
            for _key, run_id in self._commit_order(table, manifests)
            if manifests[run_id].get("commit_seq", 0) > since_seq
            and (until_seq is None
                 or manifests[run_id].get("commit_seq", 0) <= until_seq)
            and not manifests[run_id].get("replaces")
        ]
        hi = max(
            (m.get("commit_seq", 0) for m in manifests.values()
             if until_seq is None or m.get("commit_seq", 0) <= until_seq),
            default=since_seq,
        )
        if not new:
            return None, hi
        df = self._assemble_read(
            spark, table, manifests, new, keep=lambda e: True, prunable=False
        )
        return df, hi
