"""Table maintenance: named refs (tags) pin retention, orphan-dir GC with a
grace window is safe alongside ingest, and the ``files`` metadata table
reports live files without scanning data.

Reference analogue: the reference keeps every staged output dir forever and
prunes by hand (``scripts/03_download_batch_ftp.py`` re-lists and skips);
here retention and GC are first-class table operations, Iceberg-style.
"""

from __future__ import annotations

import os

import pytest

from biomedica_etl_spark.cdc.generator import SCENARIOS, generate_change_log
from biomedica_etl_spark.cdc.oracle import replay
from biomedica_etl_spark.cdc.runner import CdcRunner
from biomedica_etl_spark.cdc.table import CowTable


def _state(spark, table, snapshot_id=None):
    return [
        r.asDict()
        for r in table.read(spark, snapshot_id=snapshot_id)
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]


def test_tag_pins_snapshot_through_expiration(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run()
    table = runner.table
    snaps = table.snapshots()
    assert len(snaps) >= 4

    # tag an EARLY snapshot, well outside the retention window
    audit_id = snaps[1]["snapshot_id"]
    assert table.set_tag("audit", audit_id) == audit_id
    audit_state = _state(spark, table, audit_id)

    stats = table.expire_snapshots(keep_last=2)
    assert stats["snapshots_removed"] == len(snaps) - 2 - 1  # tag pinned one

    # the tagged snapshot still resolves and time-travels bit-for-bit —
    # including from a COLD process (fresh caches, refs read from disk)
    cold = CowTable(table.root)
    assert cold.ref("audit") == audit_id
    assert _state(spark, cold, cold.ref("audit")) == audit_state
    # an untagged expired neighbour is gone
    with pytest.raises(ValueError):
        table.read(spark, snapshot_id=audit_id + 1)
    # live state unaffected
    assert _state(spark, table) == replay(log)

    # untag -> next expiration drops it; fencing still intact cold
    table.remove_tag("audit")
    stats = table.expire_snapshots(keep_last=2)
    assert stats["snapshots_removed"] == 1
    with pytest.raises(ValueError):
        table.read(spark, snapshot_id=audit_id)
    cold2 = CowTable(table.root)
    from biomedica_etl_spark.cdc.checkpoint import pending_batches

    assert pending_batches(spark, log, cold2) == []

    with pytest.raises(ValueError):
        table.ref("audit")
    with pytest.raises(ValueError):
        table.set_tag("nope", snapshot_id=999999)


def test_orphan_gc_respects_grace_and_live_refs(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run()
    table = runner.table

    # a crashed writer's abandoned staging dir: created but never committed
    orphan = table.new_data_dir()
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as f:
        f.write(b"not really parquet")
    n_dirs = len(os.listdir(table.data_dir))

    # inside the grace window: untouched (an in-flight writer looks the same)
    assert table.remove_orphaned_files(grace_seconds=3600)["dirs_removed"] == 0
    assert os.path.exists(orphan)

    # past the grace window: collected; live dirs never touched
    assert table.remove_orphaned_files(grace_seconds=0)["dirs_removed"] == 1
    assert not os.path.exists(orphan)
    assert len(os.listdir(table.data_dir)) == n_dirs - 1
    assert _state(spark, table) == replay(log)
    # idempotent
    assert table.remove_orphaned_files(grace_seconds=0)["dirs_removed"] == 0


def test_files_metadata_table_matches_stored_rows(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    # MOR with auto-compaction disabled, then a PARTIAL compaction of half
    # the buckets: 0-3 gain base files, 4-7 keep only delta layers, so the
    # listing exercises both kinds in one snapshot
    runner = CdcRunner(
        spark, log, str(tmp_path / "t"), n_buckets=8,
        compact_every=10**9,
    )
    runner.run()
    table = runner.table
    from biomedica_etl_spark.cdc.merge import compact

    compact(spark, table, buckets=[0, 1, 2, 3])

    fm = table.files(spark).collect()
    assert fm, "expected live files"
    assert {r.kind for r in fm} == {"base", "delta"}
    for r in fm:
        full = os.path.join(table.root, r.path)
        assert os.path.exists(full)
        assert r.file_bytes == os.path.getsize(full)
        assert 0 <= r.bucket < 8
        assert (r.kind == "base") == (r.layer == 0)

    # footer row counts sum to the stored (unresolved) row count — the
    # metadata view and the data agree without a data scan
    stored = table.read_stored_files(spark).count()
    assert sum(r.num_rows for r in fm) == stored

    # time travel: an older snapshot lists fewer-or-equal rows
    first_commit = table.snapshots()[1]["snapshot_id"]
    fm_old = table.files(spark, snapshot_id=first_commit).collect()
    assert sum(r.num_rows for r in fm_old) <= stored

    # partitions view aggregates the same footers per bucket
    pm = {r.bucket: r for r in table.partitions(spark).collect()}
    assert set(pm) == {r.bucket for r in fm}
    assert sum(r.stored_rows for r in pm.values()) == stored
    for b, r in pm.items():
        mine = [x for x in fm if x.bucket == b]
        assert r.n_files == len(mine)
        assert r.stored_bytes == sum(x.file_bytes for x in mine)
        assert r.delta_layers == max(x.layer for x in mine)
    # compacted buckets show layer 0; untouched ones keep their stacks
    assert {b for b, r in pm.items() if r.delta_layers == 0} == {0, 1, 2, 3}


def test_write_sort_order_yields_ordered_row_group_stats(spark, tmp_path):
    """Iceberg write sort-order: every data file is locally sorted by
    (conv_id, turn_idx), so parquet row-group min/max stats on conv_id are
    tight and ordered — the physical property behind row-group pruning of
    the pushed-down point-lookup predicate. With a per-file row cap, the
    files one TASK splits into cover non-overlapping key ranges (files
    from different salt tasks interleave conv_ids by design)."""
    import pyarrow.parquet as pq

    from biomedica_etl_spark.cdc.merge import compact

    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    runner = CdcRunner(
        spark, log, str(tmp_path / "t"), n_buckets=4,
        max_records_per_file=40,
    )
    runner.run()
    table = runner.table
    # base files come from a major fold
    compact(spark, table, max_records_per_file=40)

    files = [r.path for r in table.files(spark).collect() if r.kind == "base"]
    assert files
    split_seen = False
    for rel in files:
        pf = pq.ParquetFile(os.path.join(table.root, rel))
        names = pf.schema_arrow.names
        ci = names.index("conv_id")
        prev = None
        for g in range(pf.metadata.num_row_groups):
            rg = pf.metadata.row_group(g)
            s_c = rg.column(ci).statistics
            assert s_c is not None and s_c.has_min_max
            assert s_c.min <= s_c.max
            # row groups are ordered on the sort key: each group's conv_id
            # min is >= the previous group's max (a point predicate hits
            # at most one contiguous run of groups)
            if prev is not None:
                assert s_c.min >= prev
            prev = s_c.max
    # the row cap split at least one task's output into several files, and
    # the splits of one task cover disjoint (conv_id, turn_idx) ranges
    # (file-level pruning among them); different salt tasks interleave
    by_task: dict = {}
    for rel in files:
        pf = pq.ParquetFile(os.path.join(table.root, rel))
        m = pf.metadata
        ci = pf.schema_arrow.names.index("conv_id")
        lo = min(m.row_group(g).column(ci).statistics.min
                 for g in range(m.num_row_groups))
        hi = max(m.row_group(g).column(ci).statistics.max
                 for g in range(m.num_row_groups))
        task = (os.path.dirname(rel),
                os.path.basename(rel).split("-")[1])
        by_task.setdefault(task, []).append((lo, hi))
    for spans in by_task.values():
        if len(spans) > 1:
            split_seen = True
            spans.sort()
            # at most the single boundary conv_id is shared between
            # consecutive splits (a conversation cut mid-file)
            for (_, h1), (l2, _) in zip(spans, spans[1:]):
                assert h1 <= l2
    assert split_seen, "expected maxRecordsPerFile to split some task output"


def test_rewrite_zorder_tightens_ts_stats(spark, tmp_path):
    """Z-order rewrite: after re-laying files along the Morton curve over
    (ts, conv_id), per-file ts min/max spans shrink sharply vs the default
    (conv_id, turn_idx) sort — the physical property behind row-group
    pruning of time-range scans — while resolved state stays bit-identical
    and time travel still sees the old layout."""
    import pyarrow.parquet as pq

    from biomedica_etl_spark.cdc.merge import rewrite_zorder

    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    runner = CdcRunner(
        spark, log, str(tmp_path / "t"), n_buckets=4, compact_every=1,
        max_records_per_file=200,
    )
    runner.run()
    table = runner.table
    before = _state(spark, table)

    def _ts_spans() -> list[float]:
        spans = []
        for r in table.files(spark).collect():
            pf = pq.ParquetFile(os.path.join(table.root, r.path))
            ti = pf.schema_arrow.names.index("ts")
            for g in range(pf.metadata.num_row_groups):
                s = pf.metadata.row_group(g).column(ti).statistics
                if s is None or not s.has_min_max:
                    continue  # all-null ts chunk carries no stats
                spans.append((s.max - s.min).total_seconds())
        return spans

    spans_sorted = _ts_spans()
    assert len(spans_sorted) > 4
    snap = rewrite_zorder(spark, table, max_records_per_file=200)
    assert snap is not None
    assert snap["summary"]["commit_type"] == "rewrite-zorder"

    spans_z = _ts_spans()
    assert len(spans_z) > 4
    # conv_id-sorted files scatter ts (a conversation's turns span the whole
    # log); the curve clusters it — demand a >=2x mean-span tightening
    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    assert mean(spans_z) < 0.5 * mean(spans_sorted)

    # resolved state identical, oracle-checked; point lookup intact
    assert _state(spark, table) == before == replay(log)
    conv = before[0]["conv_id"]
    got = [r.asDict() for r in
           table.read_conversation(spark, conv).collect()]
    assert got == [r for r in before if r["conv_id"] == conv]
    # time travel to the pre-rewrite snapshot sees the old layout
    old_files = table.files(spark, snapshot_id=snap["parent_id"]).collect()
    assert {f.path for f in old_files}.isdisjoint(
        {f.path for f in table.files(spark).collect()})


def test_rewrite_small_files_binpack(spark, tmp_path):
    """Size-based bin-pack: fragmented buckets coalesce to ~one file each,
    resolved state is bit-identical, untouched buckets keep their dirs,
    and the op is idempotent (a coalesced bucket no longer qualifies)."""
    from biomedica_etl_spark.cdc.merge import rewrite_small_files

    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    # fragment hard: salted writer + tiny per-file row cap on the major
    # fold after every commit
    runner = CdcRunner(
        spark, log, str(tmp_path / "t"), n_buckets=4, compact_every=1,
        max_records_per_file=25, shuffle_salts=4,
    )
    runner.run()
    table = runner.table
    before = _state(spark, table)
    files_before = table.files(spark).collect()
    n_before = len(files_before)
    assert n_before > 8, "expected fragmentation"

    snap = rewrite_small_files(spark, table, target_file_bytes=1 << 30)
    assert snap is not None
    assert snap["summary"]["commit_type"] == "rewrite-small-files"

    files_after = table.files(spark).collect()
    # every candidate bucket coalesced to a single file
    per_bucket: dict = {}
    for r in files_after:
        per_bucket.setdefault(r.bucket, []).append(r)
    assert all(len(v) == 1 for v in per_bucket.values())
    assert len(files_after) < n_before
    # resolved state identical, oracle-checked
    assert _state(spark, table) == before == replay(log)
    # row conservation through the rewrite (tombstones retained is pinned
    # by compaction tests; here stored rows == resolved + tombstones)
    assert sum(r.num_rows for r in files_after) >= len(before)
    # idempotent: one big file per bucket no longer qualifies
    assert rewrite_small_files(spark, table, target_file_bytes=1 << 30) is None
    # time travel to the pre-rewrite snapshot still sees the old layout
    old = table.files(spark, snapshot_id=snap["parent_id"]).collect()
    assert len(old) == n_before
