"""Zero-copy table branches: fork, diverge, LWW merge-back, drop.

The engine's snapshot chain is deliberately LINEAR — dense monotone ids
are what make the version-hint crash recovery (``_probe_latest``), CAS
commits, and O(lag) cold reads work — so Iceberg-style in-chain branch
refs would undermine the table format's core invariants. The Spark-first
branch design is instead the Delta-shallow-clone / Neon shape:

- :func:`fork_table` — a branch is its OWN table whose fork snapshot
  references the source's data dirs by absolute path. No data is copied
  (O(metadata) fork regardless of table size); the source snapshot is
  pinned with a fork tag so source-side ``expire_snapshots`` retains the
  shared files (tagged snapshots never expire — ``CowTable.set_tag``).
- Diverge freely: ingest / DML / compaction on the branch write only
  under the branch root. Both GC paths (``expire_snapshots``,
  ``remove_orphaned_files``) enumerate candidates from the table's OWN
  ``data/`` dir, so shared dirs — outside the branch root — are
  structurally un-deletable from the branch side. The fork snapshot also
  carries the source's committed batch ids (compressed
  ``committed_ancestors`` ranges), so a runner resumed against the
  branch fences already-applied batches exactly like a restore from
  checkpoint — fork + resume IS the branch-ingest workflow.
- :func:`merge_branch` — merging back is a REPLAY, not a file graft:
  the branch's net changes since the fork re-enter the destination
  through the ordinary merge path at their original LSNs. Because the
  merge is max-LSN LWW (order-independent, duplicate-tolerant), the
  merge-back is conflict-free by construction: if the destination also
  advanced on the same keys, the higher LSN wins on both sides — the
  same answer a single linear history would have produced. No
  three-way-merge machinery, no conflict markers; the CRDT-ish reducer
  the engine already trusts IS the merge semantics.
- :func:`drop_branch` — delete the branch root, release the fork tag.

Change extraction is feed-first: the O(changes) raw feed when the
branch's commit chain is feed-serveable, falling back to the semantic
``diff`` + a bucket-pruned payload read when branch-side maintenance
(major compaction / base rewrites) broke the feed window — the same
two-tier discipline the derived-table maintainers use.

Reference analogue: the reference's stage-directory convention — run a
stage into a scratch output, validate, then promote
(``scripts/05_json_to_entrez.py:347-398`` completed-log promotion) —
here with real isolation, retention safety, and exactly-once promotion.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import PAYLOAD_FIELDS, SYS_DELETED, SYS_LSN
from .table import CowTable, _compress_ranges, bucket_expr

FORK_SNAPSHOT_ID = 0


def _fork_tag(branch_root: str) -> str:
    """Collision-resistant fork-pin tag for a branch root.

    Keyed by the branch root's ABSOLUTE path (basename kept for operator
    readability, sha256 of the full path for identity): two branches with
    the same basename under different parents must NOT share a tag —
    a shared tag would let ``set_tag`` silently retarget the first
    branch's pin and ``drop_branch`` of either release the pin while the
    other branch still references the source's data dirs, re-opening the
    expire-then-dangle hazard ``pin_source=True`` exists to prevent.
    """
    p = os.path.abspath(os.path.normpath(branch_root))
    digest = hashlib.sha256(p.encode()).hexdigest()[:12]
    return f"fork/{os.path.basename(p)}-{digest}"


def fork_table(
    src: CowTable, branch_root: str, snapshot_id: int | None = None,
    pin_source: bool = True,
) -> CowTable:
    """Create a zero-copy branch of ``src`` at ``snapshot_id`` (default:
    current). O(metadata): the branch's fork snapshot references the
    source snapshot's data dirs by ABSOLUTE path; no file is copied.

    ``pin_source=True`` tags the source snapshot (``fork/<branch-name>``)
    so source-side snapshot expiration retains the shared files for the
    branch's lifetime — ``drop_branch`` releases the pin. With
    ``pin_source=False`` the caller owns retention (a source
    ``expire_snapshots`` that drops the fork base then breaks the branch,
    the documented hazard of shallow clones everywhere).

    The tag is written BEFORE the branch manifest (a fork crashing in
    between leaves a stranded pin an operator releases with
    ``src.remove_tag``, which is safe); the other order would let an
    expiration race delete the shared dirs out from under a live fork.
    """
    src._load_all()
    snap = (src.current_snapshot() if snapshot_id is None
            else src.snapshot_by_id(snapshot_id))
    if snap is None:
        raise ValueError(f"unknown snapshot_id {snapshot_id}")
    if os.path.exists(os.path.join(branch_root, "snapshots")):
        raise ValueError(f"branch root {branch_root} already holds a table")
    if pin_source:
        tag = _fork_tag(branch_root)
        existing = src.refs().get(tag)
        if existing is not None and existing != snap["snapshot_id"]:
            # a live pin at a DIFFERENT snapshot means another fork of this
            # exact root exists (or a crashed fork pinned elsewhere) —
            # overwriting would retarget its retention pin out from under it
            raise ValueError(
                f"fork tag {tag!r} already pins snapshot {existing}; "
                "drop the existing branch (drop_branch) or release the "
                "stranded pin (src.remove_tag) first")
        src.set_tag(tag, snap["snapshot_id"])

    def _abs(d: str) -> str:
        return os.path.abspath(os.path.join(src.root, d))

    branch = CowTable(branch_root, n_buckets=snap["n_buckets"])
    os.makedirs(branch.snap_dir, exist_ok=True)
    os.makedirs(branch.data_dir, exist_ok=True)
    fork_snap = {
        "snapshot_id": FORK_SNAPSHOT_ID,
        "parent_id": None,
        "batch_id": None,
        "lsn_lo": snap.get("lsn_lo"),
        "lsn_hi": snap.get("lsn_hi"),
        "n_buckets": snap["n_buckets"],
        "bucket_dirs": {b: _abs(d) for b, d in snap["bucket_dirs"].items()},
        "delta_dirs": {b: [_abs(d) for d in ds]
                       for b, ds in snap.get("delta_dirs", {}).items()},
        "summary": {"commit_type": "fork", "fork_of": os.path.abspath(src.root),
                    "fork_snapshot": snap["snapshot_id"]},
        # the source's exactly-once state rides along: a log batch the
        # source already applied fences to a no-op on the branch too, so
        # fork + CdcRunner(resume) applies exactly the remaining batches
        "committed_ancestors": _compress_ranges(set(src.committed_batch_ids())),
    }
    branch._write_snapshot(fork_snap)
    return branch


def branch_changes(spark: SparkSession, branch: CowTable) -> DataFrame:
    """The branch's net changes since its fork, as engine change events
    (``lsn, op, payload``) at their ORIGINAL LSNs.

    Feed-first: the O(changes) raw feed over ``(fork, head]`` when the
    branch chain is feed-serveable; otherwise (branch-side major
    compaction / base rewrites) the semantic ``diff`` + a payload read
    bucket-pruned to the changed keys' buckets (bounded driver-side
    bucket list, never a full scan of the untouched buckets).
    """
    payload = [c for c, _ in PAYLOAD_FIELDS if c not in ("conv_id", "turn_idx")]
    try:
        feed = branch.read_changes_since(spark, FORK_SNAPSHOT_ID)
        return feed.select(
            F.col(SYS_LSN).alias("lsn"),
            F.when(F.col(SYS_DELETED), F.lit("D")).otherwise(F.lit("U")).alias("op"),
            "conv_id", "turn_idx", *payload,
        )
    except ValueError:
        pass  # non-serveable window: fall through to the semantic diff
    # localCheckpoint (the dedup.py discipline), NOT persist/unpersist: the
    # returned frame executes AFTER this function returns, so an unpersist
    # here would silently recompute the two-version diff at apply time,
    # and a leaked persist would pin executor storage with no owner
    changed = branch.diff(spark, FORK_SNAPSHOT_ID).localCheckpoint()
    n_buckets = branch.n_buckets
    buckets = sorted(
        r[0] for r in changed
        .select(bucket_expr("conv_id", n_buckets).alias("b"))
        .distinct().collect())  # O(n_buckets) driver rows, bounded
    dels = changed.filter(F.col("change_type") == "delete").select(
        F.col("new_lsn").alias("lsn"), F.lit("D").alias("op"),
        "conv_id", "turn_idx",
        *[F.lit(None).cast(dict(PAYLOAD_FIELDS)[c]).alias(c)
          for c in payload],
    )
    ups_keys = (changed.filter(F.col("change_type") != "delete")
                .select("conv_id", "turn_idx"))
    cur = branch.read_raw(spark, buckets=buckets)
    ups = cur.join(ups_keys, on=["conv_id", "turn_idx"], how="left_semi").select(
        F.col(SYS_LSN).alias("lsn"), F.lit("U").alias("op"),
        "conv_id", "turn_idx", *payload,
    )
    return ups.unionByName(dels)


def merge_branch(
    spark: SparkSession, branch: CowTable, dst: CowTable, batch_id: int,
    **apply_kw: Any,
) -> dict[str, Any] | None:
    """Replay the branch's net post-fork changes into ``dst`` through the
    ordinary MOR merge at their original LSNs — conflict-free by LWW
    (concurrent destination commits on the same keys resolve by max LSN,
    the answer a single history would have given). ``batch_id`` fences
    the merge exactly-once: re-merging is a structural no-op. Returns the
    commit result, or None when the batch id was already committed."""
    from .merge import mor_apply_batch

    if dst.is_committed(batch_id):
        return None
    events = branch_changes(spark, branch)
    res = mor_apply_batch(spark, dst, events, batch_id, **apply_kw)
    dst.refresh()
    return res


def drop_branch(branch: CowTable, src: CowTable | None = None) -> None:
    """Delete the branch root; release the source's fork pin when the
    source handle is given (tag removal is idempotent)."""
    root = branch.root
    if src is not None:
        try:
            src.remove_tag(_fork_tag(root))
        except (KeyError, FileNotFoundError):
            pass
    shutil.rmtree(root, ignore_errors=True)
