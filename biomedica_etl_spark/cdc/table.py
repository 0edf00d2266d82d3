"""Snapshot-versioned copy-on-write table with hidden bucket partitioning.

A minimal Iceberg-semantics table for environments without lakehouse jars
(this sandbox has none — SURVEY.md §7.0): immutable parquet data files,
hidden partitioning ``bucket = pmod(xxhash64(conv_id), n_buckets)``, a JSON
snapshot manifest per commit, and atomic commits via write-temp + rename.

Reference analogue: the JSON-batch sink's read-modify-write + file-roll +
``get_next_index`` versioning (``src/pmc_oa/build_json.py:84-157``) — the
roll-to-a-new-file-never-overwrite discipline is exactly a snapshot commit,
and the separate output dir of the enrich stage
(``scripts/05_json_to_entrez.py:332-334``) is its copy-on-write.

Exactly-once fencing: every snapshot records the ``batch_id`` it applied.
``committed_batch_ids()`` is the checkpoint; committing an already-applied
batch_id is a structural no-op (merge.py checks before doing any work, and
``commit`` re-checks immediately before the rename so a crashed-and-retried
driver can never double-apply).

Scale notes: data files for UNAFFECTED buckets are carried forward by
manifest reference only — a merge that touches 3 of 1024 buckets rewrites
3 buckets' files and zero bytes elsewhere. Readers prune to requested
buckets from the manifest (file-level pruning, the moral equivalent of
Iceberg hidden-partition pruning). Manifests hold one entry per bucket dir,
not per file, so manifest size is O(buckets), independent of data size.

Metadata cost model (round-2 fix of the O(B²) driver path): a ``CowTable``
instance reads the manifest chain from disk AT MOST ONCE (lazily, on first
metadata access) and thereafter maintains the snapshot list / committed-id
set / current snapshot incrementally on every commit — so a run of B
micro-batches does O(B) manifest reads total, not O(B²). Cold processes
resolve the latest snapshot via a ``version-hint.text`` file (Iceberg's
HadoopTableOperations discipline) without globbing the manifest dir.
``refresh()`` drops the caches for cross-process readers; the commit
protocol already requires a single writer.
"""

from __future__ import annotations

import glob
import json
import os
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import PAYLOAD_FIELDS, SYS_DELETED, SYS_LSN

BUCKET_COL = "_bucket"

# On-disk bytes up to which one process folds a read set in Arrow: a
# point read or term lookup is then answered on the driver (no Spark
# job), a MOR log batch is staged on the driver, and a minor fold's
# bucket takes the packed local plan. Larger read sets keep their Spark
# plan. Every router reads it at call time (``fits_local``).
LOCAL_MAX_BYTES = 256 << 20


def fits_local(files: list[str]) -> bool:
    """Whether ``files`` total at most ``LOCAL_MAX_BYTES`` on disk. Sizes
    come from the file inventory; no data is read."""
    return sum(os.path.getsize(f) for f in files) <= LOCAL_MAX_BYTES


class ConcurrentCommitError(RuntimeError):
    """Another writer advanced the table between plan and publish — the
    optimistic-concurrency loser. Callers ``refresh()`` and retry; the
    fencing check then makes a retried already-committed batch a no-op."""


def _compress_ranges(ids: set[int]) -> list[list[int]]:
    """{1,2,3,7} -> [[1,3],[7,7]]: committed-batch ids are near-contiguous
    in practice, so the persisted fencing state stays O(gaps), not O(ids)."""
    out: list[list[int]] = []
    for i in sorted(ids):
        if out and i == out[-1][1] + 1:
            out[-1][1] = i
        else:
            out.append([i, i])
    return out


def _expand_ranges(ranges: list[list[int]]) -> set[int]:
    return {i for lo, hi in ranges for i in range(lo, hi + 1)}


def _is_layer_fold(snap: dict, parent_dirs: set, snap_dirs: set) -> bool:
    """True when a commit that dropped delta dirs is a PROVABLE minor fold
    (``commit_layer_rewrite``): the removed dirs are exactly the recorded
    folded set and the added dirs are within the recorded merged set. The
    change feed serves such commits (the merged layer is LWW-equivalent to
    the folded ones); anything else that drops layers is a rollback and
    must raise."""
    summ = snap.get("summary", {})
    return (
        summ.get("commit_type") == "compact-layers"
        and parent_dirs - snap_dirs == set(summ.get("folded_dirs", []))
        and snap_dirs - parent_dirs <= set(summ.get("merged_dirs", []))
    )


def bucket_expr(conv_col: str, n_buckets: int):
    """Hidden-partitioning transform: bucket(n, conv_id)."""
    return F.pmod(F.xxhash64(F.col(conv_col)), F.lit(n_buckets)).cast("int")


def stored_schema() -> T.StructType:
    fields = [T.StructField(n, t, True) for n, t in PAYLOAD_FIELDS]
    fields.append(T.StructField(SYS_LSN, T.LongType(), True))
    fields.append(T.StructField(SYS_DELETED, T.BooleanType(), True))
    return T.StructType(fields)


class CowTable:
    def __init__(self, root: str, n_buckets: int = 16) -> None:
        self.root = root
        self.snap_dir = os.path.join(root, "_snapshots")
        self.data_dir = os.path.join(root, "data")
        self._n_buckets_arg = n_buckets
        # metadata caches: populated lazily (one disk pass), maintained
        # incrementally by commits. manifest_reads counts actual JSON loads
        # so tests can pin the O(B)-total-reads contract.
        self._snaps_cache: list[dict[str, Any]] | None = None
        self._committed_cache: set[int] | None = None
        self._current_cache: dict[str, Any] | None = None
        self._refs_cache: dict[str, int] | None = None
        self.manifest_reads = 0

    def refresh(self) -> None:
        """Drop metadata caches (for readers racing an external writer)."""
        self._snaps_cache = None
        self._committed_cache = None
        self._current_cache = None
        self._refs_cache = None

    # ---- metadata ----------------------------------------------------
    def create(self) -> None:
        os.makedirs(self.snap_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)
        if self.current_snapshot() is None:
            self._write_snapshot(
                {
                    "snapshot_id": 0,
                    "parent_id": None,
                    "batch_id": None,
                    "lsn_lo": None,
                    "lsn_hi": None,
                    "n_buckets": self._n_buckets_arg,
                    "bucket_dirs": {},
                    "delta_dirs": {},
                    "summary": {"rows_upserted": 0, "rows_deleted": 0},
                }
            )

    @property
    def n_buckets(self) -> int:
        snap = self.current_snapshot()
        return snap["n_buckets"] if snap else self._n_buckets_arg

    def _snap_path(self, snapshot_id: int) -> str:
        return os.path.join(self.snap_dir, f"snap-{snapshot_id:08d}.json")

    def _hint_path(self) -> str:
        return os.path.join(self.snap_dir, "version-hint.text")

    def _read_manifest(self, path: str) -> dict[str, Any]:
        self.manifest_reads += 1
        with open(path) as f:
            return json.load(f)

    def _atomic_write(self, path: str, payload: str,
                      exclusive: bool = False) -> None:
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        if not exclusive:
            os.rename(tmp, path)  # atomic publish: readers never see a partial file
            return
        try:  # exclusive create: link fails on an existing path, rename replaces it
            os.link(tmp, path)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"{path} already exists — another writer committed; "
                "refresh() and retry") from None
        finally:
            os.unlink(tmp)

    def _write_snapshot(self, snap: dict[str, Any]) -> None:
        """Publish a snapshot with optimistic-concurrency detection: the
        parent this commit was planned against must still be the table's
        current version on disk (Iceberg's commit CAS, approximated with
        the version-hint + exclusive manifest create on a filesystem).
        Two racing writers cannot both win — the loser raises
        ``ConcurrentCommitError`` and retries against the new state."""
        parent_id = snap.get("parent_id")
        if parent_id is not None:
            hint = self._hint_path()
            if os.path.exists(hint):
                try:
                    with open(hint) as f:
                        disk_current = int(f.read().strip())
                    # the hint is ADVISORY (it lags by one commit when a
                    # writer crashed between manifest publish and hint
                    # update) — probe forward to the true current so a
                    # torn hint can never wedge the CAS permanently
                    disk_current = self._probe_latest(disk_current)
                except ValueError:
                    disk_current = parent_id  # corrupt hint: manifest wins below
                if disk_current != parent_id:
                    raise ConcurrentCommitError(
                        f"commit planned against snapshot {parent_id} but "
                        f"table is at {disk_current} — another writer "
                        "committed; refresh() and retry"
                    )
        self._atomic_write(self._snap_path(snap["snapshot_id"]),
                           json.dumps(snap), exclusive=parent_id is not None)
        self._atomic_write(self._hint_path(), str(snap["snapshot_id"]))
        # incremental cache maintenance: commit N+1 never re-reads N manifests
        self._current_cache = snap
        if self._snaps_cache is not None:
            self._snaps_cache.append(snap)
        if self._committed_cache is not None and snap["batch_id"] is not None:
            self._committed_cache.add(snap["batch_id"])

    def _load_all(self) -> None:
        """One full manifest-chain read; every later metadata call is O(1)."""
        if self._snaps_cache is not None:
            return
        snaps = [
            self._read_manifest(p)
            for p in sorted(glob.glob(os.path.join(self.snap_dir, "snap-*.json")))
        ]
        self._snaps_cache = snaps
        self._committed_cache = {
            s["batch_id"] for s in snaps if s["batch_id"] is not None
        }
        # batches whose manifests were expired: carried as compressed id
        # ranges so fencing survives expiration in a COLD process too
        for s in snaps:
            self._committed_cache.update(_expand_ranges(
                s.get("committed_ancestors", [])))
        if snaps:
            self._current_cache = snaps[-1]

    def _probe_latest(self, snap_id: int) -> int:
        """Version-hint recovery rule (Iceberg HadoopTableOperations): the
        hint file is advisory and lags by exactly one commit if a writer
        crashed between manifest publish and hint update. Snapshot ids are
        dense and strictly monotone (every commit — rollback included —
        appends parent+1), so the true current is found by probing forward
        until the next id's manifest is missing: O(lag) ``exists`` checks,
        no directory listing. Found by the crash-point sweep
        (``tests/test_crash_sweep.py``): without this, the torn-hint state
        bricked every future commit with a spurious ConcurrentCommitError
        and cold readers silently served the previous snapshot."""
        while os.path.exists(self._snap_path(snap_id + 1)):
            snap_id += 1
        return snap_id

    def current_snapshot(self) -> dict[str, Any] | None:
        if self._current_cache is not None:
            return self._current_cache
        # cold fast path: version hint -> one manifest read, no globbing
        # (plus the O(lag) torn-hint probe — see _probe_latest)
        hint = self._hint_path()
        if os.path.exists(hint):
            try:
                with open(hint) as f:
                    snap_id = int(f.read().strip())
                snap_id = self._probe_latest(snap_id)
                self._current_cache = self._read_manifest(self._snap_path(snap_id))
                return self._current_cache
            except (ValueError, FileNotFoundError, json.JSONDecodeError):
                pass  # stale/corrupt hint: fall through to the full listing
        self._load_all()
        return self._current_cache

    def snapshot_by_id(self, snapshot_id: int) -> dict[str, Any] | None:
        if self._snaps_cache is not None:
            for s in self._snaps_cache:
                if s["snapshot_id"] == snapshot_id:
                    return s
            return None
        path = self._snap_path(snapshot_id)
        if not os.path.exists(path):
            return None
        return self._read_manifest(path)

    def snapshots(self) -> list[dict[str, Any]]:
        self._load_all()
        return list(self._snaps_cache or [])

    def committed_batch_ids(self) -> set[int]:
        self._load_all()
        return set(self._committed_cache or ())

    def is_committed(self, batch_id: int) -> bool:
        """O(1) fencing check (after the one-time lazy load) — the per-batch
        hot path; ``committed_batch_ids`` copies and is for reporting."""
        self._load_all()
        return batch_id in (self._committed_cache or ())

    # ---- read --------------------------------------------------------
    def _dirs_for(
        self, snap: dict[str, Any], key: str, buckets: list[int] | None
    ) -> list[str]:
        out: list[str] = []
        for b, d in snap.get(key, {}).items():
            if buckets is None or int(b) in buckets:
                out.extend(d if isinstance(d, list) else [d])
        return out

    def _files_for(self, snap: dict[str, Any], buckets: list[int] | None) -> list[str]:
        files: list[str] = []
        for d in self._dirs_for(snap, "bucket_dirs", buckets):
            files.extend(sorted(glob.glob(os.path.join(self.root, d, "*.parquet"))))
        return files

    def _delta_files_for(self, snap: dict[str, Any], buckets: list[int] | None) -> list[str]:
        files: list[str] = []
        for d in self._dirs_for(snap, "delta_dirs", buckets):
            files.extend(sorted(glob.glob(os.path.join(self.root, d, "*.parquet"))))
        return files

    def _resolve_snapshot(
        self, snapshot_id: int | str | None
    ) -> dict[str, Any] | None:
        """None = current; an explicit id time-travels — every snapshot
        manifest is self-contained (full bucket map), so reading table
        state as of any retained commit is just resolving from that
        manifest, Iceberg-style. The string ``"staged"`` resolves the
        pending write-audit-publish snapshot — the view an audit gate
        validates before ``publish_staged`` makes it the table state."""
        if snapshot_id is None:
            return self.current_snapshot()
        if snapshot_id == "staged":
            snap = self.staged_snapshot()
            if snap is None:
                raise ValueError("no staged snapshot pending audit")
            return snap
        snap = self.snapshot_by_id(snapshot_id)
        if snap is None:
            raise ValueError(f"unknown snapshot_id {snapshot_id}")
        return snap

    def read_stored_files(
        self, spark: SparkSession, buckets: list[int] | None = None,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """UNRESOLVED stored rows: base files + all delta-layer files, which
        may hold several versions of a key. Callers that fold versions
        themselves (compaction) use this to keep the resolve inside their
        own single-shuffle plan."""
        snap = self._resolve_snapshot(snapshot_id)
        base_files = self._files_for(snap, buckets) if snap else []
        delta_files = self._delta_files_for(snap, buckets) if snap else []
        if not base_files and not delta_files:
            return spark.createDataFrame([], stored_schema())
        return spark.read.schema(stored_schema()).parquet(*base_files, *delta_files)

    def read_raw(self, spark: SparkSession, buckets: list[int] | None = None,
                 snapshot_id: int | None = None,
                 columns: list[str] | None = None) -> DataFrame:
        """Resolved stored rows (incl. tombstones + system cols).

        COW-only snapshots read the base files directly. When merge-on-read
        delta layers exist, the view is resolved on the fly: base UNION
        deltas, max-_lsn winner per key (groupBy + max_by — partial-agg
        shuffle, same reducer as ingest). Iceberg-v2-MOR semantics without
        the jar. ``snapshot_id`` time-travels to any retained commit.

        ``columns`` prunes the PAYLOAD columns resolved (keys + system
        cols always ride): the MOR ``max_by`` struct otherwise references
        every column, which blocks Catalyst's column pruning and forces
        the scan to read the fat ``text`` column even for a query that
        only touches ``role`` — with pruning the parquet ReadSchema
        shrinks to exactly what the caller needs."""
        snap = self._resolve_snapshot(snapshot_id)
        delta_files = self._delta_files_for(snap, buckets) if snap else []
        df = self.read_stored_files(spark, buckets, snapshot_id)
        if columns is not None:
            # keys ride up front exactly once even when the caller lists
            # them in columns (a duplicate would make every downstream
            # reference AMBIGUOUS_REFERENCE)
            wanted = (set(columns) | {SYS_LSN, SYS_DELETED}) - {
                "conv_id", "turn_idx"}
            keep = ["conv_id", "turn_idx"] + [
                c for c in df.columns if c in wanted]
            df = df.select(*keep)
        if not delta_files:
            return df
        value_cols = [c for c in df.columns if c not in ("conv_id", "turn_idx")]
        return (
            df.groupBy("conv_id", "turn_idx")
            .agg(F.max_by(F.struct(*value_cols), F.col(SYS_LSN)).alias("_w"))
            .select("conv_id", "turn_idx",
                    *[F.col(f"_w.{c}").alias(c) for c in value_cols])
        )

    def read(self, spark: SparkSession, buckets: list[int] | None = None,
             snapshot_id: int | None = None,
             columns: list[str] | None = None) -> DataFrame:
        """Live rows (tombstones filtered, system cols dropped).
        ``columns`` prunes resolved payload columns — see ``read_raw``."""
        raw = self.read_raw(spark, buckets, snapshot_id, columns=columns)
        return raw.filter(~F.col(SYS_DELETED)).drop(SYS_LSN, SYS_DELETED)

    # ---- write -------------------------------------------------------
    def new_data_dir(self) -> str:
        """Uncommitted staging dir; becomes live only via a manifest reference."""
        d = os.path.join(self.data_dir, f"snap-{uuid.uuid4().hex}")
        os.makedirs(d, exist_ok=True)
        return d

    def commit(
        self,
        batch_id: int,
        rewritten: dict[int, str],
        lsn_lo: int | None,
        lsn_hi: int | None,
        summary: dict[str, Any] | None = None,
        staged: bool = False,
    ) -> dict[str, Any] | None:
        """Publish a snapshot: rewritten buckets point at new dirs, all other
        buckets carry forward the parent's dirs. Returns the new snapshot, or
        None if the batch_id was already committed (fencing no-op).

        ``staged=True`` is the write half of write-audit-publish (Iceberg
        WAP): the snapshot is written to a side manifest that readers,
        fencing, and the snapshot chain never see — ``publish_staged``
        promotes it (fencing engages THEN), ``abort_staged`` discards it
        and its data dirs. The staged batch stays replayable until
        published."""
        parent = self.current_snapshot()
        assert parent is not None, "create() first"
        if batch_id is not None and self.is_committed(batch_id):
            return None
        bucket_dirs = dict(parent["bucket_dirs"])
        delta_dirs = {b: list(ds) for b, ds in parent.get("delta_dirs", {}).items()}
        for b, d in rewritten.items():
            bucket_dirs[str(b)] = os.path.relpath(d, self.root)
            # a rewritten bucket has its delta layers folded in
            delta_dirs.pop(str(b), None)
        snap = {
            "snapshot_id": parent["snapshot_id"] + 1,
            "parent_id": parent["snapshot_id"],
            "batch_id": batch_id,
            "lsn_lo": lsn_lo,
            "lsn_hi": lsn_hi,
            "n_buckets": parent["n_buckets"],
            "bucket_dirs": bucket_dirs,
            "delta_dirs": delta_dirs,
            "summary": summary or {},
        }
        if staged:
            return self._write_staged(snap)
        self._write_snapshot(snap)
        return snap

    def commit_compaction(
        self,
        rewritten: dict[int, str],
        folded: dict[int, list[str]],
        summary: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Publish a compaction that folded EXACTLY the layers in ``folded``
        (bucket -> layer relpaths read by the fold). Unlike ``commit``,
        which drops ALL of a rewritten bucket's layers, this pops only the
        folded ones — so an ingest commit that appended a new layer to the
        same bucket between the fold's read and this commit keeps that
        layer live. This is what makes maintenance safe to run CONCURRENT
        with ingest: appenders only ever add layers, the fold only consumes
        layers that existed at its read, and the LWW max-lsn read resolves
        the new base against any layers that arrived since. Retries after
        ``ConcurrentCommitError`` are metadata-only for the same reason —
        the staged fold output stays valid against any newer parent."""
        parent = self.current_snapshot()
        assert parent is not None, "create() first"
        bucket_dirs = dict(parent["bucket_dirs"])
        delta_dirs = {b: list(ds) for b, ds in parent.get("delta_dirs", {}).items()}
        for b, d in rewritten.items():
            bucket_dirs[str(b)] = os.path.relpath(d, self.root)
            consumed = set(folded.get(b, []) or folded.get(str(b), []))
            remaining = [x for x in delta_dirs.get(str(b), []) if x not in consumed]
            if remaining:
                delta_dirs[str(b)] = remaining
            else:
                delta_dirs.pop(str(b), None)
        snap = {
            "snapshot_id": parent["snapshot_id"] + 1,
            "parent_id": parent["snapshot_id"],
            "batch_id": None,
            # watermark continuity: a maintenance commit carries the
            # commit-time parent's applied-lsn range, which under a lost
            # race is NEWER than the fold's planned snapshot
            "lsn_lo": parent["lsn_lo"],
            "lsn_hi": parent["lsn_hi"],
            "n_buckets": parent["n_buckets"],
            "bucket_dirs": bucket_dirs,
            "delta_dirs": delta_dirs,
            "summary": summary or {},
        }
        self._write_snapshot(snap)
        return snap

    def read_delta_layer_files(
        self, spark: SparkSession, buckets: list[int] | None = None,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """UNRESOLVED delta-layer rows ONLY (no base files). The read half
        of minor compaction (``merge.compact_layers``): folding layers
        into one layer per bucket must never pay to scan the base — at the
        100 TB design point the base dwarfs the deltas by orders of
        magnitude and an O(table) read would make routine maintenance cost
        what a full rewrite costs."""
        snap = self._resolve_snapshot(snapshot_id)
        delta_files = self._delta_files_for(snap, buckets) if snap else []
        if not delta_files:
            return spark.createDataFrame([], stored_schema())
        return spark.read.schema(stored_schema()).parquet(*delta_files)

    def commit_layer_rewrite(
        self,
        new_layers: dict[int, str],
        folded: dict[int, list[str]],
        summary: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Publish a MINOR compaction: per bucket, the consumed layer dirs
        in ``folded`` are replaced by the single merged layer in
        ``new_layers``; ``bucket_dirs`` (the base) is untouched. Same
        concurrent-with-ingest contract as ``commit_compaction``: only the
        layers the fold actually read are popped, so a layer an
        interleaved apply appended between the fold's read and this commit
        stays live, and retries after ``ConcurrentCommitError`` are
        metadata-only (the staged fold output remains valid against any
        newer parent — appenders only ever add layers)."""
        parent = self.current_snapshot()
        assert parent is not None, "create() first"
        delta_dirs = {b: list(ds) for b, ds in parent.get("delta_dirs", {}).items()}
        merged_rel: list[str] = []
        folded_rel: list[str] = []
        for b, d in new_layers.items():
            consumed = set(folded.get(b, []) or folded.get(str(b), []))
            live = set(delta_dirs.get(str(b), []))
            if consumed and not consumed <= live:
                # a competing fold (another minor owner, or a major compact
                # that won the CAS race) already consumed these layers:
                # publishing the merged layer now would duplicate its rows
                # (reads stay correct — identical rows, identical lsns —
                # but the bytes leak). Skip the bucket; the staged merged
                # dir is unreferenced and falls to remove_orphaned_files.
                continue
            remaining = [x for x in delta_dirs.get(str(b), []) if x not in consumed]
            rel = os.path.relpath(d, self.root)
            delta_dirs[str(b)] = [rel] + remaining
            merged_rel.append(rel)
            folded_rel.extend(sorted(consumed))
        # recorded so the change feed can prove this commit is an
        # LWW-equivalent fold (serve merged_dirs) and not a rollback
        summary = {**(summary or {}), "merged_dirs": sorted(merged_rel),
                   "folded_dirs": sorted(folded_rel)}
        snap = {
            "snapshot_id": parent["snapshot_id"] + 1,
            "parent_id": parent["snapshot_id"],
            "batch_id": None,
            "lsn_lo": parent["lsn_lo"],
            "lsn_hi": parent["lsn_hi"],
            "n_buckets": parent["n_buckets"],
            "bucket_dirs": dict(parent["bucket_dirs"]),
            "delta_dirs": delta_dirs,
            "summary": summary or {},
        }
        self._write_snapshot(snap)
        return snap

    def commit_delta(
        self,
        batch_id: int,
        appended: dict[int, str],
        lsn_lo: int | None,
        lsn_hi: int | None,
        summary: dict[str, Any] | None = None,
        staged: bool = False,
    ) -> dict[str, Any] | None:
        """Merge-on-read commit: append a delta layer per bucket; base files
        untouched. O(delta) write cost — the ingest-optimized path.
        ``staged=True``: write-audit-publish, see ``commit``."""
        parent = self.current_snapshot()
        assert parent is not None, "create() first"
        if batch_id is not None and self.is_committed(batch_id):
            return None
        delta_dirs = {b: list(ds) for b, ds in parent.get("delta_dirs", {}).items()}
        for b, d in appended.items():
            delta_dirs.setdefault(str(b), []).append(os.path.relpath(d, self.root))
        snap = {
            "snapshot_id": parent["snapshot_id"] + 1,
            "parent_id": parent["snapshot_id"],
            "batch_id": batch_id,
            "lsn_lo": lsn_lo,
            "lsn_hi": lsn_hi,
            "n_buckets": parent["n_buckets"],
            "bucket_dirs": dict(parent["bucket_dirs"]),
            "delta_dirs": delta_dirs,
            "summary": {**(summary or {}), "commit_type": "append-delta"},
        }
        if staged:
            return self._write_staged(snap)
        self._write_snapshot(snap)
        return snap

    # ---- write-audit-publish (Iceberg WAP) ---------------------------
    def _staged_path(self) -> str:
        # deliberately NOT matching the snap-*.json chain glob: a staged
        # snapshot is invisible to readers, fencing, expiration, and GC's
        # live-set until published
        return os.path.join(self.snap_dir, "staged.json")

    def _write_staged(self, snap: dict[str, Any]) -> dict[str, Any]:
        live = self.staged_snapshot()
        if live is not None and live["batch_id"] != snap["batch_id"]:
            raise RuntimeError(
                f"a staged snapshot for batch {live['batch_id']} is pending "
                "audit — publish_staged() or abort_staged() first"
            )
        # same batch restaged (crash between stage and publish, then
        # replay): overwrite; the old attempt's dirs become orphans that
        # remove_orphaned_files collects
        snap = dict(snap)
        snap["staged"] = True
        self._atomic_write(self._staged_path(), json.dumps(
            {k: v for k, v in snap.items() if not k.startswith("_")}))
        return snap

    def staged_snapshot(self) -> dict[str, Any] | None:
        """The pending-audit snapshot, or None. A staged file whose parent
        is no longer the table head is STALE (its batch either published
        under a new id or the chain moved on) and reads as absent."""
        path = self._staged_path()
        if not os.path.exists(path):
            return None
        self.manifest_reads += 1
        with open(path) as f:
            snap = json.load(f)
        head = self.current_snapshot()
        if head is None or snap.get("parent_id") != head["snapshot_id"]:
            return None
        return snap

    def publish_staged(self) -> dict[str, Any] | None:
        """Promote the staged snapshot into the manifest chain (the audit
        passed). Fencing engages here — the batch id becomes committed —
        and the published snapshot keeps the id the stage reserved, so
        time-travel ids stay dense. Returns the published snapshot, or
        None if nothing (live) is staged. Crash-safe: a crash between the
        chain write and the side-file cleanup leaves a stale staged file
        that reads as absent and is overwritten by the next stage."""
        snap = self.staged_snapshot()
        if snap is None:
            return None
        pub = {k: v for k, v in snap.items() if k != "staged"}
        pub["summary"] = {**pub.get("summary", {}), "wap_published": True}
        self._write_snapshot(pub)
        try:
            os.remove(self._staged_path())
        except FileNotFoundError:
            pass
        return pub

    def abort_staged(self) -> dict[str, Any]:
        """Discard the staged snapshot (the audit failed): delete the side
        manifest and every data dir the staged snapshot references that
        its parent does not. The batch id was never committed, so the
        batch stays pending and replays after remediation."""
        import shutil as _shutil

        snap = self.staged_snapshot()
        stale = not snap and os.path.exists(self._staged_path())
        if snap is None:
            if stale:
                os.remove(self._staged_path())
            return {"aborted": False, "dirs_removed": 0}
        parent = self.snapshot_by_id(snap["parent_id"])
        parent_dirs = set(parent["bucket_dirs"].values()) | {
            d for ds in parent.get("delta_dirs", {}).values() for d in ds
        }
        staged_dirs = set(snap["bucket_dirs"].values()) | {
            d for ds in snap.get("delta_dirs", {}).values() for d in ds
        }
        # remove the whole stage ROOT (data/<snap-...>) of each new dir,
        # not just the bucket=N subdirs the manifest references — a stage
        # root belongs to exactly one commit attempt, so once no parent
        # dir lives under it, the root (and its _SUCCESS marker) goes too
        roots = set()
        for d in staged_dirs - parent_dirs:
            parts = os.path.normpath(d).split(os.sep)
            roots.add(os.sep.join(parts[:2]) if len(parts) > 1 else d)
        removed = 0
        for root in sorted(roots):
            if any(os.path.normpath(p).startswith(root + os.sep) or
                   os.path.normpath(p) == root for p in parent_dirs):
                continue
            _shutil.rmtree(os.path.join(self.root, root), ignore_errors=True)
            removed += 1
        os.remove(self._staged_path())
        return {"aborted": True, "dirs_removed": removed}

    def commit_rebucket(
        self,
        rewritten: dict[int, str],
        new_n_buckets: int,
        lsn_lo: int | None,
        lsn_hi: int | None,
        summary: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Partition-spec-evolution commit: the FULL bucket map is replaced
        and the manifest records the new bucket count. Older retained
        snapshots keep their own spec (each manifest is self-contained),
        so time travel across the rebucket keeps working."""
        parent = self.current_snapshot()
        assert parent is not None, "create() first"
        snap = {
            "snapshot_id": parent["snapshot_id"] + 1,
            "parent_id": parent["snapshot_id"],
            "batch_id": None,
            "lsn_lo": lsn_lo,
            "lsn_hi": lsn_hi,
            "n_buckets": new_n_buckets,
            "bucket_dirs": {
                str(b): os.path.relpath(d, self.root)
                for b, d in rewritten.items()
            },
            "delta_dirs": {},
            "summary": {**(summary or {}), "commit_type": "rebucket"},
        }
        self._write_snapshot(snap)
        return snap

    def read_conversation(
        self, spark: SparkSession, conv_id: str, snapshot_id: int | None = None
    ) -> DataFrame:
        """The flagship point query: one conversation's live turns in stable
        order. Hidden-partition pruning happens driver-side from the
        manifest — only bucket(conv_id)'s files are ever listed or scanned
        (at 100 TB with 4096 buckets that is 1/4096th of the table). The
        bucket is computed in-process (pure-Python xxhash64, pinned
        bit-identical to the Spark expression), and its count comes from
        the RESOLVED snapshot's spec, so point lookups stay correct across
        partition-spec evolution (rebucket) and time travel.

        A bucket of at most ``LOCAL_MAX_BYTES`` on disk is answered on the
        driver: its files are read in Arrow with ``conv_id = x`` pushed
        into the row-group statistics, LWW-folded by the same kernel the
        minor folds use, and returned as a local relation, so the read
        starts NO Spark job, whose fixed cost dwarfs the few milliseconds
        of work at this size. A larger bucket keeps the pruned Spark scan,
        filter and sort."""
        from .xxhash import bucket_of

        snap = self._resolve_snapshot(snapshot_id)
        bucket = bucket_of(conv_id, snap["n_buckets"] if snap
                           else self.n_buckets)
        files = (self._files_for(snap, [bucket])
                 + self._delta_files_for(snap, [bucket])) if snap else []
        if fits_local(files):
            from ..sources.datasource import (
                _lww_fold,
                _read_stored_arrow,
                _to_dataframe,
            )

            stored = _read_stored_arrow(
                files, filters=[("conv_id", "=", conv_id)])
            live = _lww_fold(stored, tombstones=False).sort_by("turn_idx")
            return _to_dataframe(spark, live, T.StructType(
                [T.StructField(n, t, True) for n, t in PAYLOAD_FIELDS]))
        return (
            self.read(spark, buckets=[bucket], snapshot_id=snapshot_id)
            .filter(F.col("conv_id") == conv_id)
            .orderBy("turn_idx")
        )

    def read_changes_since(
        self, spark: SparkSession, snapshot_id: int,
        to_snapshot: int | None = None,
    ) -> DataFrame:
        """Incremental (CDC-out) read: the stored rows committed AFTER
        ``snapshot_id`` — upserts and tombstones with their ``_lsn``, i.e.
        a change feed a downstream pipeline can apply with the same LWW
        reducer. This is the Iceberg incremental-scan / Delta CDF
        discipline: each MOR commit's delta layers are the change set, so
        the read is O(changes), never a table diff. ``to_snapshot`` bounds
        the feed to commits at or before it (default: head).

        Works across MOR commits (append-delta) and quarantine-only/empty
        commits (no dirs → no rows). A COW rewrite or MAJOR compaction
        between ``snapshot_id`` and now rewrites history in place; those
        commits cannot be served incrementally and raise — the consumer
        resyncs from a full scan (the same contract real lakehouses
        document).

        A MINOR fold (``compact_layers`` / ``commit_layer_rewrite``) is
        served, not raised: the merged layer holds exactly the per-key
        max-lsn winners of the folded layers with tombstones retained, so
        under this feed's declared contract (apply with the same LWW
        reducer) it is an equivalent change set — the fold compresses away
        intermediate versions and may re-deliver winners the consumer
        already applied, both no-ops under max-lsn resolution. Routine
        maintenance therefore never breaks CDC-out subscribers (unlike
        Iceberg/Delta CDF, where compaction forces a resync). A consumer
        that needs EVERY intermediate version (audit log) must not run
        minor folds upstream of its checkpoint.
        """
        self._load_all()
        if self.snapshot_by_id(snapshot_id) is None:
            raise ValueError(f"unknown snapshot_id {snapshot_id}")
        if to_snapshot is not None and self.snapshot_by_id(to_snapshot) is None:
            raise ValueError(f"unknown snapshot_id {to_snapshot}")
        files: list[str] = []
        for s in (self._snaps_cache or []):
            if s["snapshot_id"] <= snapshot_id:
                continue
            if to_snapshot is not None and s["snapshot_id"] > to_snapshot:
                continue
            parent = self.snapshot_by_id(s["parent_id"]) or {}
            if s["bucket_dirs"] != parent.get("bucket_dirs", {}):
                # base files changed: COW merge or compaction rewrote
                # history in place — this commit has no separable change set
                raise ValueError(
                    f"snapshot {s['snapshot_id']} rewrote base files "
                    f"({s.get('summary', {}).get('commit_type', 'cow')}): "
                    "incremental read across it is impossible — resync "
                    "from a full scan"
                )
            parent_dirs = {
                d for ds in parent.get("delta_dirs", {}).values() for d in ds
            }
            snap_dirs = {
                d for ds in s.get("delta_dirs", {}).values() for d in ds
            }
            if not parent_dirs <= snap_dirs and not _is_layer_fold(
                    s, parent_dirs, snap_dirs):
                # delta layers DISAPPEARED without a base rewrite and not
                # as a provable minor fold: a rollback commit — the feed
                # across it is not a forward change set
                raise ValueError(
                    f"snapshot {s['snapshot_id']} removed delta layers "
                    f"({s.get('summary', {}).get('commit_type', '?')}): "
                    "incremental read across it is impossible — resync "
                    "from a full scan"
                )
            for ds in s.get("delta_dirs", {}).values():
                for d in ds:
                    if d not in parent_dirs:
                        files.extend(sorted(glob.glob(
                            os.path.join(self.root, d, "*.parquet"))))
        if not files:
            return spark.createDataFrame([], stored_schema())
        return spark.read.schema(stored_schema()).parquet(*files)

    def read_changes_with_images(
        self, spark: SparkSession, from_snapshot: int,
        to_snapshot: int | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Delta-CDF-style change feed WITH row images: for every key whose
        resolved winner changed between the two snapshots, emit
        ``_change_type`` rows a downstream consumer can use to maintain
        retractable derived state (incremental aggregates, search indexes,
        replicas that need old values):

        - ``insert`` — the new row (key absent or tombstoned at ``from``),
        - ``update_preimage`` + ``update_postimage`` — the old and new
          rows (Delta CDF's two-row update encoding),
        - ``delete`` — the OLD row's payload (the before-image a consumer
          needs to retract it; the raw feed's tombstones carry nulls).

        All rows carry ``_lsn`` = the winning change's LSN. Net semantics
        per key (like ``diff``, unlike the raw feed): a change that LOSES
        LWW to a version already present at ``from`` emits nothing, an
        insert-then-delete inside the window emits nothing, a re-delivered
        verbatim duplicate (equal LSN) emits nothing, and a change
        overwriting a ``from``-side tombstone emits ``insert`` (an LWW
        resurrection), matching what a consumer applying the raw feed with
        the max-lsn reducer would observe.

        Plan, and why it scales: the after-side is the O(changes) raw feed
        (``read_changes_since`` — MOR delta layers only, same
        raise-on-rewrite / serve-folds contract) reduced to one net winner
        per key (single shuffle); the before-side reads ``from``'s
        resolved view ONLY for the buckets whose delta-dir sets changed —
        known driver-side from the two manifests, no scan — so a small
        change window against a huge table never reads the untouched
        buckets. The join is key-equi inside those buckets; emission is
        one generated-column explode, no second shuffle. ``columns``
        prunes the image payload exactly like ``read(columns=)`` — a
        consumer that only needs keys + ``_change_type`` (e.g. a count
        maintainer) passes ``columns=[]`` and neither side ever reads a
        payload byte.
        """
        self._load_all()
        from_snap = self.snapshot_by_id(from_snapshot)
        if from_snap is None:
            raise ValueError(f"unknown snapshot_id {from_snapshot}")
        to_snap = self._resolve_snapshot(to_snapshot)
        feed = self.read_changes_since(spark, from_snapshot,
                                       to_snapshot=to_snap["snapshot_id"])
        # touched buckets, driver-side from the two manifests (an over-
        # approximation under folds — extra buckets only add pre-image
        # rows that find no feed match)
        f_dirs = from_snap.get("delta_dirs", {})
        t_dirs = to_snap.get("delta_dirs", {})
        touched = sorted(
            int(b) for b in set(f_dirs) | set(t_dirs)
            if f_dirs.get(b, []) != t_dirs.get(b, []))
        payload = [c for c, _ in PAYLOAD_FIELDS
                   if c not in ("conv_id", "turn_idx")
                   and (columns is None or c in columns)]
        value_cols = payload + [SYS_LSN, SYS_DELETED]
        net = (
            feed.groupBy("conv_id", "turn_idx")
            .agg(F.max_by(F.struct(*value_cols), F.col(SYS_LSN)).alias("_n"))
            .select("conv_id", "turn_idx",
                    *[F.col(f"_n.{c}").alias(f"n_{c}") for c in value_cols])
        )
        pre = self.read_raw(
            spark, buckets=touched, snapshot_id=from_snapshot,
            columns=payload if columns is not None else None,
        ).select("conv_id", "turn_idx",
                 *[F.col(c).alias(f"p_{c}") for c in value_cols])
        j = net.join(pre, on=["conv_id", "turn_idx"], how="left_outer")
        effective = (F.col(f"p_{SYS_LSN}").isNull()
                     | (F.col(f"n_{SYS_LSN}") > F.col(f"p_{SYS_LSN}")))
        p_live = F.coalesce(~F.col(f"p_{SYS_DELETED}"), F.lit(False))
        n_live = ~F.col(f"n_{SYS_DELETED}")

        def _img(side: str, kind: str):
            return F.struct(
                *[F.col(f"{side}_{c}").alias(c) for c in payload],
                F.lit(kind).alias("_change_type"),
                F.col(f"n_{SYS_LSN}").alias(SYS_LSN),
            )

        img_fields = "".join(
            f"{c}: {t.simpleString()}, " for c, t in PAYLOAD_FIELDS
            if c in payload)
        empty = F.array().cast(
            f"array<struct<{img_fields}_change_type: string, "
            f"{SYS_LSN}: bigint>>")
        imgs = (
            F.when(~effective, empty)
            .when(p_live & n_live,
                  F.array(_img("p", "update_preimage"),
                          _img("n", "update_postimage")))
            .when(p_live & ~n_live, F.array(_img("p", "delete")))
            .when(~p_live & n_live, F.array(_img("n", "insert")))
            .otherwise(empty)
        )
        return (
            j.select("conv_id", "turn_idx", F.explode(imgs).alias("_i"))
            .select("conv_id", "turn_idx",
                    *[F.col(f"_i.{c}").alias(c) for c in payload],
                    F.col("_i._change_type").alias("_change_type"),
                    F.col(f"_i.{SYS_LSN}").alias(SYS_LSN))
        )

    def diff(
        self, spark: SparkSession, from_snapshot: int,
        to_snapshot: int | None = None,
    ) -> DataFrame:
        """Time-travel diff: per-key net change between two snapshots.

        Unlike ``read_changes_since`` (the raw change FEED, MOR-only and
        O(changes)), this is the semantic table comparison — it works
        across ANY pair of retained snapshots including COW rewrites and
        compactions, at the cost of scanning both versions. Output:
        ``(conv_id, turn_idx, change_type in insert|update|delete,
        old_lsn, new_lsn)``; keys whose winning version is unchanged are
        absent. The join is key-equi on the table key (bucket-prunable on
        both sides at scale) and a no-op key never survives the filter.
        """
        # columns=[]: the comparison needs keys + system cols only — the
        # MOR resolve's struct would otherwise force both version scans to
        # read every payload column (text included) for a diff that never
        # looks at one
        a = self.read_raw(spark, snapshot_id=from_snapshot, columns=[]).select(
            "conv_id", "turn_idx",
            F.col(SYS_LSN).alias("old_lsn"),
            (~F.coalesce(F.col(SYS_DELETED), F.lit(False))).alias("a_live"),
        )
        b = self.read_raw(spark, snapshot_id=to_snapshot, columns=[]).select(
            "conv_id", "turn_idx",
            F.col(SYS_LSN).alias("new_lsn"),
            (~F.coalesce(F.col(SYS_DELETED), F.lit(False))).alias("b_live"),
        )
        j = a.join(b, on=["conv_id", "turn_idx"], how="full_outer")
        a_live = F.coalesce(F.col("a_live"), F.lit(False))
        b_live = F.coalesce(F.col("b_live"), F.lit(False))
        change = (
            F.when(~a_live & b_live, "insert")
            .when(a_live & ~b_live, "delete")
            .when(a_live & b_live
                  & (F.col("new_lsn") != F.col("old_lsn")), "update")
        )
        return (
            j.select("conv_id", "turn_idx", change.alias("change_type"),
                     "old_lsn", "new_lsn")
            .filter(F.col("change_type").isNotNull())
        )

    def history(self, spark: SparkSession) -> DataFrame:
        """Iceberg ``snapshots`` metadata-table analogue: the retained
        snapshot chain as a typed DataFrame — commit type, applied batch,
        lsn range, and summary counts per commit. Metadata-only (built
        from the cached manifests, no data files touched)."""
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("snapshot_id", T.LongType()),
            T.StructField("parent_id", T.LongType()),
            T.StructField("batch_id", T.LongType()),
            T.StructField("commit_type", T.StringType()),
            T.StructField("lsn_lo", T.LongType()),
            T.StructField("lsn_hi", T.LongType()),
            T.StructField("rows_upserted", T.LongType()),
            T.StructField("rows_deleted", T.LongType()),
        ])
        rows = []
        for s in self.snapshots():
            summ = s.get("summary", {})
            rows.append((
                s["snapshot_id"], s["parent_id"], s["batch_id"],
                summ.get("commit_type",
                         "create" if s["parent_id"] is None else "cow-merge"),
                s["lsn_lo"], s["lsn_hi"],
                summ.get("rows_upserted"), summ.get("rows_deleted"),
            ))
        return spark.createDataFrame(rows, schema)

    def rollback(self, snapshot_id: int) -> dict[str, Any]:
        """Iceberg-style rollback: publish a NEW snapshot whose file
        references equal the target's — history moves forward, nothing is
        deleted, and every retained snapshot still time-travels. The
        maintenance undo switch (bad compaction, operator error).

        Exactly-once fencing is INTENTIONALLY unchanged: batches applied
        after the target remain committed, so replaying them is still a
        structural no-op. Rollback reverts state, it does not reopen the
        log — reprocessing corrected data goes through
        ``CdcRunner.reinject`` under fresh batch ids, exactly like the
        quarantine repair loop. (The alternative — un-committing batches —
        would let a lagging tail replay stale events over the rolled-back
        state with old lsns and silently win nothing, or worse, resurrect
        the bad data; real lakehouse + CDC deployments document the same
        split of responsibilities.)"""
        target = self.snapshot_by_id(snapshot_id)
        if target is None:
            raise ValueError(f"unknown snapshot_id {snapshot_id}")
        parent = self.current_snapshot()
        assert parent is not None, "create() first"
        snap = {
            "snapshot_id": parent["snapshot_id"] + 1,
            "parent_id": parent["snapshot_id"],
            "batch_id": None,
            "lsn_lo": target["lsn_lo"],
            "lsn_hi": target["lsn_hi"],
            "n_buckets": parent["n_buckets"],
            "bucket_dirs": dict(target["bucket_dirs"]),
            "delta_dirs": {b: list(ds)
                           for b, ds in target.get("delta_dirs", {}).items()},
            "summary": {"commit_type": "rollback",
                        "rolled_back_to": snapshot_id},
        }
        self._write_snapshot(snap)
        return snap

    # ---- named refs (tags) -------------------------------------------
    def _refs_path(self) -> str:
        return os.path.join(self.snap_dir, "refs.json")

    def refs(self) -> dict[str, int]:
        """Named snapshot refs (Iceberg tags): name -> snapshot_id. Tags pin
        retention — ``expire_snapshots`` never drops a tagged snapshot —
        so 'audit-2026-08' or 'prod' stays time-travelable past the
        rolling retention window."""
        if self._refs_cache is None:
            path = self._refs_path()
            if os.path.exists(path):
                self.manifest_reads += 1
                with open(path) as f:
                    self._refs_cache = {k: int(v) for k, v in json.load(f).items()}
            else:
                self._refs_cache = {}
        return dict(self._refs_cache)

    def set_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Tag a retained snapshot (default: current). Atomic publish of the
        whole refs map, same write-temp+rename discipline as manifests."""
        if snapshot_id is None:
            snap = self.current_snapshot()
            assert snap is not None, "create() first"
            snapshot_id = snap["snapshot_id"]
        elif self.snapshot_by_id(snapshot_id) is None:
            raise ValueError(f"unknown snapshot_id {snapshot_id}")
        refs = self.refs()
        refs[name] = snapshot_id
        self._atomic_write(self._refs_path(), json.dumps(refs))
        self._refs_cache = refs
        return snapshot_id

    def remove_tag(self, name: str) -> None:
        refs = self.refs()
        if name in refs:
            del refs[name]
            self._atomic_write(self._refs_path(), json.dumps(refs))
            self._refs_cache = refs

    def ref(self, name: str) -> int:
        """Resolve a tag to its snapshot_id (for ``read(snapshot_id=...)``,
        ``diff``, ``rollback``)."""
        refs = self.refs()
        if name not in refs:
            raise ValueError(f"unknown ref {name!r}; have {sorted(refs)}")
        return refs[name]

    # ---- maintenance -------------------------------------------------
    def files(self, spark: SparkSession,
              snapshot_id: int | None = None) -> DataFrame:
        """Iceberg ``files`` metadata-table analogue: one row per live data
        file of a snapshot (bucket, base/delta kind, layer, path, bytes,
        parquet-footer row count). Driver-side metadata + footer reads
        only — no Spark scan of the data. The ops view behind size-based
        compaction policies and storage audits."""
        import pyarrow.parquet as pq

        snap = self._resolve_snapshot(snapshot_id)
        schema = T.StructType([
            T.StructField("bucket", T.IntegerType()),
            T.StructField("kind", T.StringType()),
            T.StructField("layer", T.IntegerType()),
            T.StructField("path", T.StringType()),
            T.StructField("file_bytes", T.LongType()),
            T.StructField("num_rows", T.LongType()),
        ])
        rows: list[tuple] = []
        if snap:
            per_bucket: list[tuple[int, str, int, str]] = []
            for b, d in snap.get("bucket_dirs", {}).items():
                per_bucket.append((int(b), "base", 0, d))
            for b, dirs in snap.get("delta_dirs", {}).items():
                for layer, d in enumerate(dirs, start=1):
                    per_bucket.append((int(b), "delta", layer, d))
            for bucket, kind, layer, d in per_bucket:
                for p in sorted(glob.glob(os.path.join(self.root, d, "*.parquet"))):
                    rows.append((
                        bucket, kind, layer, os.path.relpath(p, self.root),
                        os.path.getsize(p), pq.ParquetFile(p).metadata.num_rows,
                    ))
        return spark.createDataFrame(rows, schema)

    def partitions(self, spark: SparkSession,
                   snapshot_id: int | None = None) -> DataFrame:
        """Iceberg ``partitions`` metadata-table analogue: one row per
        bucket of a snapshot — file/layer counts, stored bytes and rows
        (base + unresolved delta versions). Built on the same driver-side
        footer reads as ``files`` (no data scan); the view an operator
        uses to SEE skew (hot buckets with deep delta stacks) and target
        partial compaction / bin-pack at exactly those buckets."""
        f = self.files(spark, snapshot_id=snapshot_id)
        return (
            f.groupBy("bucket")
            .agg(
                F.count("*").alias("n_files"),
                F.max("layer").alias("delta_layers"),
                F.sum("file_bytes").alias("stored_bytes"),
                F.sum("num_rows").alias("stored_rows"),
            )
            .orderBy("bucket")
        )

    def remove_orphaned_files(self, grace_seconds: float = 3600.0) -> dict[str, int]:
        """Iceberg ``remove_orphan_files`` analogue: delete data dirs that no
        retained snapshot references AND whose mtime is older than
        ``grace_seconds`` — i.e. staging dirs a crashed writer abandoned.

        Unlike ``expire_snapshots``'s dir sweep (which assumes no writer is
        mid-commit), the grace period makes this safe to run ALONGSIDE
        ingest: an in-flight writer's staging dir is newer than any sane
        grace window, so it is never touched; only dirs that have sat
        unreferenced for the full window go. Same contract Iceberg
        documents for orphan GC on a live table."""
        import shutil
        import time as _time

        live: set[str] = set()
        for snap in self.snapshots():
            for key in ("bucket_dirs", "delta_dirs"):
                for d in self._dirs_for(snap, key, None):
                    live.add(os.path.normpath(d))
        now = _time.time()
        removed = 0
        for entry in sorted(os.listdir(self.data_dir)):
            rel = os.path.normpath(os.path.join("data", entry))
            full = os.path.join(self.data_dir, entry)
            if any(ref == rel or ref.startswith(rel + os.sep) for ref in live):
                continue
            try:
                age = now - os.path.getmtime(full)
            except FileNotFoundError:
                continue
            if age < grace_seconds:
                continue
            shutil.rmtree(full, ignore_errors=True)
            removed += 1
        return {"dirs_removed": removed}

    def expire_snapshots(self, keep_last: int = 10) -> dict[str, int]:
        """Iceberg-style snapshot expiration: drop all but the newest
        ``keep_last`` manifests (tagged snapshots — see ``set_tag`` — are
        pinned and never expire), then delete data dirs no retained snapshot
        references. Time travel keeps working for retained snapshots;
        immutable files mean expiration never touches live data. Assumes
        the single-writer discipline the commit protocol already requires
        (no in-flight staging dir while maintenance runs).

        Exactly-once fencing survives expiration ACROSS PROCESS RESTARTS:
        the batch ids committed by the expired snapshots (plus any ids an
        earlier expiration already folded) are persisted as compressed
        ``committed_ancestors`` [lo, hi] ranges in the oldest RETAINED
        manifest before the expired ones are deleted — a cold process
        rebuilding its committed-id cache from retained manifests sees
        them, so a replayed log batch older than the retention window is
        still a structural no-op (not just value-idempotent)."""
        import shutil

        snaps = self.snapshots()
        if len(snaps) <= keep_last:
            return {"snapshots_removed": 0, "dirs_removed": 0}
        # tagged snapshots are pinned: a named ref (audit tag, 'prod')
        # keeps its snapshot time-travelable past the rolling window
        tagged = set(self.refs().values())
        window = {s["snapshot_id"] for s in snaps[-keep_last:]}
        retained = [s for s in snaps
                    if s["snapshot_id"] in window or s["snapshot_id"] in tagged]
        expired = [s for s in snaps if s["snapshot_id"] not in
                   {r["snapshot_id"] for r in retained}]
        if not expired:
            return {"snapshots_removed": 0, "dirs_removed": 0}
        # fold the expiring commits' batch ids (and previously folded
        # ancestors) into the oldest retained manifest, atomically, BEFORE
        # any deletion — a crash mid-expiration can only leave extra
        # manifests behind, never lose fencing state
        ancestor_ids: set[int] = set()
        for snap in expired:
            if snap["batch_id"] is not None:
                ancestor_ids.add(snap["batch_id"])
            ancestor_ids.update(_expand_ranges(
                snap.get("committed_ancestors", [])))
        if ancestor_ids:
            boundary = retained[0]
            ancestor_ids.update(_expand_ranges(
                boundary.get("committed_ancestors", [])))
            boundary["committed_ancestors"] = _compress_ranges(ancestor_ids)
            self._atomic_write(
                self._snap_path(boundary["snapshot_id"]), json.dumps(boundary)
            )
        live: set[str] = set()
        for snap in retained:
            for d in self._dirs_for(snap, "bucket_dirs", None):
                live.add(os.path.normpath(d))
            for d in self._dirs_for(snap, "delta_dirs", None):
                live.add(os.path.normpath(d))
        removed_dirs = 0
        for entry in os.listdir(self.data_dir):
            rel = os.path.normpath(os.path.join("data", entry))
            full = os.path.join(self.data_dir, entry)
            # a data dir is live if any retained snapshot references it or
            # a bucket subdir of it
            if any(ref == rel or ref.startswith(rel + os.sep) for ref in live):
                continue
            shutil.rmtree(full, ignore_errors=True)
            removed_dirs += 1
        for snap in expired:
            try:
                os.remove(self._snap_path(snap["snapshot_id"]))
            except FileNotFoundError:
                pass
        # expired manifests are gone from disk; keep caches consistent
        # without a re-read. The warm committed-id cache keeps the expired
        # batch ids, and cold processes recover them from the
        # committed_ancestors ranges persisted above.
        if self._snaps_cache is not None:
            keep_ids = {r["snapshot_id"] for r in retained}
            self._snaps_cache = [s for s in self._snaps_cache
                                 if s["snapshot_id"] in keep_ids]
        return {"snapshots_removed": len(expired), "dirs_removed": removed_dirs}

    def max_delta_layers(self) -> int:
        snap = self.current_snapshot()
        if not snap:
            return 0
        return max((len(v) for v in snap.get("delta_dirs", {}).values()), default=0)
