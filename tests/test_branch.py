"""Zero-copy branches: fork / diverge / LWW merge-back / retention / drop.

The branch workflow the linear snapshot chain cannot host in-chain,
expressed as shallow-clone tables + replay merge (see cdc/branch.py's
module docstring for why this is the right shape for this format).
"""

from __future__ import annotations

import glob
import os

import pytest

from biomedica_etl_spark.cdc.branch import (
    branch_changes,
    drop_branch,
    fork_table,
    merge_branch,
)
from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.merge import compact
from biomedica_etl_spark.cdc.oracle import replay
from biomedica_etl_spark.cdc.runner import CdcRunner
from biomedica_etl_spark.cdc.table import CowTable

CFG = GeneratorConfig(
    n_events=4_000, batch_size=800, n_convs=60, duplicate_frac=0.02,
    out_of_order=True, zipf_a=1.0,
)


@pytest.fixture()
def half_built(spark, tmp_path):
    """A log, and a main table with only the first 3 of 5 batches applied."""
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    main = CdcRunner(spark, log, str(tmp_path / "main"), n_buckets=4,
                     compact_every=1000)
    main.run(max_batches=3)
    return log, main


def _live(spark, table):
    return [r.asDict() for r in
            table.read(spark).orderBy("conv_id", "turn_idx").collect()]


def _parquet_bytes_under(root: str) -> int:
    return sum(os.path.getsize(p) for p in
               glob.glob(os.path.join(root, "data", "**", "*.parquet"),
                         recursive=True))


def test_fork_is_zero_copy_and_reads_equal(spark, half_built, tmp_path):
    log, main = half_built
    branch = fork_table(main.table, str(tmp_path / "br"))
    assert _live(spark, branch) == _live(spark, main.table)
    # zero-copy: not one data byte under the branch root
    assert _parquet_bytes_under(branch.root) == 0
    # the source snapshot is pinned under the fork tag
    from biomedica_etl_spark.cdc.branch import _fork_tag
    assert main.table.ref(_fork_tag(branch.root)) \
        == main.table.current_snapshot()["snapshot_id"]


def test_branch_diverges_in_isolation_with_fencing(spark, half_built, tmp_path):
    """fork + CdcRunner resume applies exactly the remaining batches on
    the branch (the fork carries committed_ancestors); the source never
    moves; the branch equals the full replay."""
    log, main = half_built
    src_head = main.table.current_snapshot()["snapshot_id"]
    src_state = _live(spark, main.table)

    branch = fork_table(main.table, str(tmp_path / "br"))
    br_runner = CdcRunner(spark, log, branch.root, n_buckets=4,
                          compact_every=1000)
    assert br_runner.pending() == [3, 4]  # batches 0-2 fence via the fork
    br_runner.run()
    assert _live(spark, br_runner.table) == replay(log)

    main.table.refresh()
    assert main.table.current_snapshot()["snapshot_id"] == src_head
    assert _live(spark, main.table) == src_state


def test_merge_back_feed_path_and_exactly_once(spark, half_built, tmp_path):
    log, main = half_built
    branch = fork_table(main.table, str(tmp_path / "br"))
    CdcRunner(spark, log, branch.root, n_buckets=4,
              compact_every=1000).run()

    res = merge_branch(spark, branch, main.table, batch_id=900_001)
    assert res is not None
    assert _live(spark, main.table) == replay(log)
    n_snaps = len(main.table.snapshots())
    # fenced: re-merging the same batch id commits nothing
    assert merge_branch(spark, branch, main.table, batch_id=900_001) is None
    assert len(main.table.snapshots()) == n_snaps


def test_merge_back_diff_fallback_after_branch_compaction(
        spark, half_built, tmp_path):
    """Major compaction on the branch breaks the feed window; the merge
    falls back to the semantic diff + bucket-pruned payload read and
    produces the same destination state."""
    log, main = half_built
    branch = fork_table(main.table, str(tmp_path / "br"))
    CdcRunner(spark, log, branch.root, n_buckets=4,
              compact_every=1000).run()
    compact(spark, branch)  # major: folds layers into new base dirs
    branch.refresh()
    with pytest.raises(ValueError):
        branch.read_changes_since(spark, 0)

    merge_branch(spark, branch, main.table, batch_id=900_002)
    assert _live(spark, main.table) == replay(log)


def test_concurrent_main_advance_resolves_by_lww(spark, half_built, tmp_path):
    """Destination keeps committing while the branch diverges; the
    merge-back converges to the same state a single linear history would
    have produced (max-LSN wins on both sides)."""
    log, main = half_built
    branch = fork_table(main.table, str(tmp_path / "br"))
    br_runner = CdcRunner(spark, log, branch.root, n_buckets=4,
                          compact_every=1000)
    br_runner.run(max_batches=1)  # branch applies batch 3
    main.run()                    # main applies batches 3 AND 4 meanwhile
    merge_branch(spark, branch, main.table, batch_id=900_003)
    assert _live(spark, main.table) == replay(log)


def test_source_expiration_respects_fork_pin(spark, half_built, tmp_path):
    """After the source compacts and expires aggressively, the branch
    still reads its forked state — the fork tag pinned the shared
    snapshot so expiration retained its dirs."""
    log, main = half_built
    branch = fork_table(main.table, str(tmp_path / "br"))
    fork_state = _live(spark, branch)

    main.run()                    # more commits on the source
    compact(spark, main.table)    # rewrite: fork-base dirs now historical
    main.table.refresh()
    main.table.expire_snapshots(keep_last=1)
    assert _live(spark, branch) == fork_state

    # and the branch's own GC can never touch the shared (absolute,
    # outside-root) dirs: candidates come from the branch's own data dir
    branch.expire_snapshots(keep_last=1)
    branch.remove_orphaned_files(grace_seconds=0.0)
    assert _live(spark, branch) == fork_state


def test_drop_branch_releases_pin_then_expiration_reclaims(
        spark, half_built, tmp_path):
    log, main = half_built
    branch = fork_table(main.table, str(tmp_path / "br"))
    drop_branch(branch, main.table)
    assert not os.path.exists(branch.root)
    assert not any(t.startswith("fork/") for t in main.table.refs())
    # with the pin gone, aggressive expiration now reclaims history
    main.run()
    compact(spark, main.table)
    main.table.refresh()
    main.table.expire_snapshots(keep_last=1)
    assert len(main.table.snapshots()) == 1
    assert _live(spark, main.table) == replay(log)


def test_branch_changes_are_net_and_lsn_faithful(spark, half_built, tmp_path):
    """The extracted merge events carry the branch's ORIGINAL LSNs and
    net per-key semantics on both extraction paths (feed and diff)."""
    log, main = half_built
    branch = fork_table(main.table, str(tmp_path / "br"))
    CdcRunner(spark, log, branch.root, n_buckets=4,
              compact_every=1000).run()
    feed_ev = {(r.conv_id, r.turn_idx): (r.lsn, r.op)
               for r in branch_changes(spark, branch)
               .groupBy("conv_id", "turn_idx")
               .agg({"lsn": "max"}).withColumnRenamed("max(lsn)", "lsn")
               .join(branch_changes(spark, branch), ["conv_id", "turn_idx", "lsn"])
               .collect()}
    compact(spark, branch)
    branch.refresh()
    diff_ev = {(r.conv_id, r.turn_idx): (r.lsn, r.op)
               for r in branch_changes(spark, branch).collect()}
    # the feed may carry MORE keys (events that lose LWW to a pre-fork
    # winner are no-ops downstream); the diff is net-only. Every net
    # change must appear in the feed with the SAME winning LSN.
    assert set(diff_ev) <= set(feed_ev)
    for k, (lsn, op) in diff_ev.items():
        assert feed_ev[k][0] == lsn  # same winning LSN on both paths


def test_fork_tags_distinct_for_same_basename_roots(spark, half_built,
                                                    tmp_path):
    """Two branches whose roots share a basename under different parents
    must hold DISTINCT fork pins: dropping one must not release the
    other's retention pin (the collision would let source-side snapshot
    expiration delete data dirs the surviving branch still references)."""
    from biomedica_etl_spark.cdc.branch import _fork_tag

    log, main = half_built
    r1 = str(tmp_path / "p1" / "br")
    r2 = str(tmp_path / "p2" / "br")
    b1 = fork_table(main.table, r1)
    assert _fork_tag(r1) != _fork_tag(r2)
    main.run()  # advance the source so the second fork pins a NEW snapshot
    b2 = fork_table(main.table, r2)
    pin1 = main.table.ref(_fork_tag(r1))
    pin2 = main.table.ref(_fork_tag(r2))
    assert pin1 != pin2  # first pin NOT retargeted by the second fork
    drop_branch(b2, main.table)
    # b1's pin survives b2's drop
    assert main.table.ref(_fork_tag(r1)) == pin1
    assert _fork_tag(r2) not in main.table.refs()
    drop_branch(b1, main.table)


def test_fork_refuses_to_retarget_live_pin(spark, half_built, tmp_path):
    """Re-forking the SAME root at a different snapshot while the first
    fork's pin is live must raise, not silently retarget the pin."""
    import pytest

    log, main = half_built
    root = str(tmp_path / "br")
    b1 = fork_table(main.table, root)
    snap1 = main.table.current_snapshot()["snapshot_id"]
    main.run()
    import shutil
    shutil.rmtree(root)  # simulate a lost branch dir with a stranded pin
    with pytest.raises(ValueError, match="already pins"):
        fork_table(main.table, root)
    # idempotent retry at the SAME snapshot is allowed
    b2 = fork_table(main.table, root, snapshot_id=snap1)
    drop_branch(b2, main.table)
