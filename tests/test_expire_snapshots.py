"""Snapshot expiration: old manifests + unreferenced data dirs are removed,
retained history still time-travels, and the live table is untouched."""

from __future__ import annotations

import os

import pytest

from biomedica_etl_spark.cdc.generator import SCENARIOS, generate_change_log
from biomedica_etl_spark.cdc.oracle import replay
from biomedica_etl_spark.cdc.runner import CdcRunner


def test_expire_keeps_live_state_and_retained_history(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    # a major fold after every commit rewrites the touched buckets, so
    # expired snapshots leave unreferenced data dirs behind
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                       compact_every=1)
    runner.run()
    table = runner.table
    n_snaps = len(table.snapshots())
    assert n_snaps >= 4
    dirs_before = len(os.listdir(table.data_dir))

    keep = 2
    kept_id = table.snapshots()[-keep]["snapshot_id"]
    kept_state = [
        r.asDict()
        for r in table.read(spark, snapshot_id=kept_id)
        .orderBy("conv_id", "turn_idx").collect()
    ]
    stats = table.expire_snapshots(keep_last=keep)
    assert stats["snapshots_removed"] == n_snaps - keep
    assert stats["dirs_removed"] > 0
    assert len(os.listdir(table.data_dir)) < dirs_before

    # live state still equals the oracle
    live = [r.asDict() for r in runner.final_state().collect()]
    assert live == replay(log)
    # retained history still time-travels bit-for-bit
    back = [
        r.asDict()
        for r in table.read(spark, snapshot_id=kept_id)
        .orderBy("conv_id", "turn_idx").collect()
    ]
    assert back == kept_state
    # expired history is gone
    oldest = kept_id - 1
    with pytest.raises(ValueError):
        table.read(spark, snapshot_id=oldest)


def test_fencing_survives_expiration_cold_restart(spark, tmp_path):
    """Exactly-once fencing across expiration in a COLD process: after
    expiring to keep_last=2, a brand-new CowTable / CdcRunner (empty
    caches, rebuilt from retained manifests only) must still see every
    old batch as committed — pending is empty, a forced replay of an
    expired batch is a structural no-op (no new snapshot, commit returns
    None), and the live state is untouched."""
    from biomedica_etl_spark.cdc.checkpoint import pending_batches
    from biomedica_etl_spark.cdc.table import CowTable

    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run()
    all_batches = sorted(runner.table.committed_batch_ids())
    assert len(all_batches) >= 4
    runner.table.expire_snapshots(keep_last=2)

    # cold process: fresh instances, no warm caches
    cold_table = CowTable(str(tmp_path / "t"), n_buckets=8)
    assert cold_table.committed_batch_ids() == set(all_batches)
    assert pending_batches(spark, log, cold_table) == []
    cold_runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    n_snaps = len(cold_runner.table.snapshots())
    res = cold_runner.run()
    assert res.batches_applied == []
    assert sorted(res.batches_skipped + res.batches_applied) == []
    assert len(cold_runner.table.snapshots()) == n_snaps  # zero new commits
    # a direct forced commit of an expired batch id is fenced too
    assert cold_runner.table.commit(all_batches[0], {}, None, None) is None
    assert [r.asDict() for r in cold_runner.final_state().collect()] == replay(log)
    # a SECOND expiration folds the previously-folded ancestors forward
    cold_runner.table.expire_snapshots(keep_last=1)
    colder = CowTable(str(tmp_path / "t"), n_buckets=8)
    assert colder.committed_batch_ids() == set(all_batches)


def test_committed_ancestor_ranges_roundtrip_with_gaps():
    """The persisted fencing state compresses to [lo,hi] runs and expands
    back exactly, including singleton gaps and unordered input."""
    from biomedica_etl_spark.cdc.table import _compress_ranges, _expand_ranges

    ids = {7, 1, 2, 3, 10, 12, 13, 0}
    ranges = _compress_ranges(ids)
    assert ranges == [[0, 3], [7, 7], [10, 10], [12, 13]]
    assert _expand_ranges(ranges) == ids
    assert _compress_ranges(set()) == []
    assert _expand_ranges([]) == set()


def test_expire_noop_when_few_snapshots(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["insert_only"])
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=4)
    runner.run(max_batches=1)
    stats = runner.table.expire_snapshots(keep_last=10)
    assert stats == {"snapshots_removed": 0, "dirs_removed": 0}
