"""Minor compaction: fold delta layers into ONE merged layer, base
untouched — O(delta) maintenance, independent of base size.

At the 100 TB design point the base dwarfs any day's deltas by orders of
magnitude, so the O(table) base fold (``compact``) cannot be the routine
bound on read amplification. ``compact_layers`` is the LSM/Iceberg
minor-compaction discipline: per-key max-lsn winner WITHIN the layers,
tombstones retained (the base still holds the pre-image), readers'
base ∪ layers max-``_lsn`` resolution unchanged.

Reference analogue: the reference re-shards outputs without rereading
inputs (``scripts/06_serilaize_to_webdataset_parallel.py:214-219``);
here the same never-touch-cold-bytes rule applied to table maintenance.
"""

from __future__ import annotations

import datetime as dt
from unittest import mock

from biomedica_etl_spark.cdc import table as table_mod
from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.merge import compact, compact_layers, mor_apply_batch
from biomedica_etl_spark.cdc.runner import CdcRunner, read_batch
from biomedica_etl_spark.cdc.schema import SchemaRegistry, target_change_schema
from biomedica_etl_spark.cdc.table import CowTable

from tests.conftest import run_and_compare

CFG = GeneratorConfig(
    n_events=6_000, batch_size=600, n_convs=80, duplicate_frac=0.03,
    out_of_order=True, absent_key_frac=0.05, zipf_a=1.2,
)

TS = dt.datetime(2025, 1, 1)


def _changes(spark, rows):
    return spark.createDataFrame(rows, target_change_schema())


def test_minor_compact_matches_oracle(spark, tmp_path):
    """End-to-end with threshold folds in minor mode: final state equals
    the row-by-row oracle and the bounded-layer invariant holds."""
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner, _ = run_and_compare(
        spark, log, str(tmp_path / "t"), compact_every=3,
        compact_mode="minor",
    )
    assert runner.compactions_run >= 1
    snaps = runner.table.snapshots()
    assert any(s["summary"].get("commit_type") == "compact-layers"
               for s in snaps)
    assert not any(s["summary"].get("commit_type") == "compact"
                   for s in snaps)
    assert runner.table.max_delta_layers() < 3


def test_minor_compact_async_matches_oracle(spark, tmp_path):
    """Minor mode composes with async maintenance + pipelined applies."""
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner, _ = run_and_compare(
        spark, log, str(tmp_path / "t"), compact_every=3,
        compact_mode="minor", async_compact=True, pipeline_depth=2,
    )
    assert runner.compactions_run >= 1
    assert runner.table.max_delta_layers() < 3


def test_minor_compact_never_touches_base(spark, tmp_path):
    """The O(delta) claim, pinned on metadata: a compact_layers commit
    leaves every base dir byte-for-byte identical (same relpaths, same
    files), folds the layers to one, and changes no read result."""
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    root = str(tmp_path / "t")
    runner = CdcRunner(spark, log, root, n_buckets=8,
                       compact_every=10**9)
    runner.run(max_batches=4)
    compact(spark, runner.table)  # establish a base
    runner.run()  # remaining batches accrue as layers on that base
    table = runner.table
    before = table.current_snapshot()
    assert before.get("delta_dirs"), "precondition: layers exist"
    base_before = dict(before["bucket_dirs"])
    rows_before = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in table.read(spark).collect()
    )

    snap = compact_layers(spark, table)
    assert snap is not None
    assert snap["summary"]["commit_type"] == "compact-layers"
    # base untouched: identical dir map — no base byte was rewritten
    assert snap["bucket_dirs"] == base_before
    # folded buckets are down to exactly one merged layer
    for b, ds in snap["delta_dirs"].items():
        assert len(ds) == 1, (b, ds)
    rows_after = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in table.read(spark).collect()
    )
    assert rows_after == rows_before


def test_minor_compact_retains_tombstones(spark, tmp_path):
    """A folded delete must keep beating both the base pre-image and any
    out-of-order lower-lsn event that arrives AFTER the fold."""
    root = str(tmp_path / "t")
    table = CowTable(root, n_buckets=4)
    table.create()
    b0 = _changes(spark, [
        (1, "I", "c1", 0, "user", "keep", None, TS),
        (2, "I", "c2", 0, "user", "doomed", None, TS),
    ])
    mor_apply_batch(spark, table, b0, batch_id=0)
    compact(spark, table)  # both rows now live in the BASE
    # two layers: the delete and an unrelated update -> fold eligible
    mor_apply_batch(spark, table, _changes(
        spark, [(9, "D", "c2", 0, None, None, None, TS)]), batch_id=1)
    mor_apply_batch(spark, table, _changes(
        spark, [(10, "U", "c1", 0, "user", "keep2", None, TS)]), batch_id=2)
    snap = compact_layers(spark, table, min_layers=1)
    assert snap is not None
    live = {(r["conv_id"], r["turn_idx"]): r["text"]
            for r in table.read(spark).collect()}
    assert live == {("c1", 0): "keep2"}  # delete survived the fold
    # late out-of-order event with lsn BELOW the folded delete still loses
    mor_apply_batch(spark, table, _changes(
        spark, [(5, "U", "c2", 0, "user", "zombie", None, TS)]), batch_id=3)
    live = {(r["conv_id"], r["turn_idx"]): r["text"]
            for r in table.read(spark).collect()}
    assert live == {("c1", 0): "keep2"}


def test_minor_compact_preserves_interleaved_layer(spark, tmp_path):
    """A layer committed between the fold's plan and its commit survives:
    the retry is metadata-only and pops only the planned layers."""
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    root = str(tmp_path / "t")
    runner = CdcRunner(spark, log, root, n_buckets=8,
                       compact_every=10**9)
    runner.run(max_batches=3)
    table = runner.table  # this handle plans the fold against snapshot N
    planned = table.current_snapshot()
    planned_layers = {b: set(ds) for b, ds in planned["delta_dirs"].items()}

    # interleaved apply through a SECOND handle (another writer)
    other = CowTable(root)
    ch = read_batch(spark, log, 3, 0, SchemaRegistry())
    mor_apply_batch(spark, other, ch, batch_id=3)
    interleaved = {
        b: set(ds) - planned_layers.get(b, set())
        for b, ds in other.current_snapshot()["delta_dirs"].items()
    }
    assert any(interleaved.values()), "precondition: a new layer landed"

    snap = compact_layers(spark, table)  # loses the CAS race, retries
    assert snap is not None
    after = {b: set(ds) for b, ds in snap["delta_dirs"].items()}
    for b, new in interleaved.items():
        assert new <= after.get(b, set()), f"interleaved layer lost in {b}"
    # planned layers are gone (folded) — exactly-once for the fold itself
    for b, old in planned_layers.items():
        assert not (old & after.get(b, set())), f"folded layer kept in {b}"
    # the merged end state still equals applying batches 0..3 directly
    expect = CdcRunner(spark, log, str(tmp_path / "ref"), n_buckets=8,
                       compact_every=10**9)
    expect.run(max_batches=4)
    got = sorted((r["conv_id"], r["turn_idx"], r["text"])
                 for r in table.read(spark).collect())
    want = sorted((r["conv_id"], r["turn_idx"], r["text"])
                  for r in expect.table.read(spark).collect())
    assert got == want


def test_minor_mode_rejects_threshold_one(spark, tmp_path):
    """compact_every=1 can never converge in minor mode (a fold leaves one
    layer, which is again at threshold): fail fast at construction."""
    import pytest

    with pytest.raises(ValueError, match="minor"):
        CdcRunner(spark, str(tmp_path / "log"), str(tmp_path / "t"),
                  compact_every=1, compact_mode="minor")


def test_change_feed_survives_minor_fold(spark, tmp_path):
    """CDC-out across a minor fold: the feed serves the merged layer
    (an LWW-equivalent change set — winners only, tombstones retained)
    instead of forcing a resync, and downstream replay from snapshot K
    still reproduces the final state even though the fold consumed
    layers from BEFORE K (re-delivered winners are no-ops under max-lsn
    resolution). Major compaction still raises."""
    import pytest
    from pyspark.sql import functions as F

    from biomedica_etl_spark.cdc.generator import SCENARIOS
    from biomedica_etl_spark.cdc.schema import SYS_DELETED, SYS_LSN

    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    up = CdcRunner(spark, log, str(tmp_path / "up"), n_buckets=8,
                   compact_every=10**9)
    up.run(max_batches=2)
    mid = up.table.current_snapshot()["snapshot_id"]
    up.run()  # the rest of the log accrues as more layers
    snap = compact_layers(spark, up.table)  # folds layers from before AND after mid
    assert snap is not None

    def as_changes(stored):
        return stored.select(
            F.col(SYS_LSN).alias("lsn"),
            F.when(F.coalesce(F.col(SYS_DELETED), F.lit(False)), "D")
            .otherwise("I").alias("op"),
            "conv_id", "turn_idx", "role", "text", "tool", "ts",
        )

    down = CowTable(str(tmp_path / "down"), n_buckets=8)
    down.create()
    mor_apply_batch(spark, down,
                    as_changes(up.table.read_raw(spark, snapshot_id=mid)),
                    batch_id=0)
    feed = up.table.read_changes_since(spark, mid)  # must NOT raise
    assert feed.count() > 0
    mor_apply_batch(spark, down, as_changes(feed), batch_id=1)
    a = [r.asDict() for r in
         up.table.read(spark).orderBy("conv_id", "turn_idx").collect()]
    b = [r.asDict() for r in
         down.read(spark).orderBy("conv_id", "turn_idx").collect()]
    assert a == b
    # major compaction still rewrites history in place -> refuse + resync
    compact(spark, up.table)
    with pytest.raises(ValueError, match="resync"):
        up.table.read_changes_since(spark, mid)


def test_feed_still_refuses_rollback_shaped_commit(spark, tmp_path):
    """The fold exemption is PROVABLE, not pattern-matched: a commit that
    drops layers without the recorded merged/folded evidence (a rollback)
    still raises."""
    import pytest

    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                       compact_every=10**9)
    runner.run(max_batches=3)
    table = runner.table
    genesis = table.snapshots()[0]["snapshot_id"]
    parent = table.current_snapshot()
    # forge a rollback: drop every delta layer, no fold evidence
    table._write_snapshot({
        "snapshot_id": parent["snapshot_id"] + 1,
        "parent_id": parent["snapshot_id"],
        "batch_id": None,
        "lsn_lo": parent["lsn_lo"],
        "lsn_hi": parent["lsn_hi"],
        "n_buckets": parent["n_buckets"],
        "bucket_dirs": dict(parent["bucket_dirs"]),
        "delta_dirs": {},
        "summary": {"commit_type": "rollback"},
    })
    with pytest.raises(ValueError, match="removed delta layers"):
        table.read_changes_since(spark, genesis)


def test_stream_replication_across_minor_folds(spark, tmp_path):
    """The native cowtable_changes -> cowtable replication chain stays
    alive when the upstream runner folds layers mid-run (compact_mode=
    'minor'): downstream resolved state equals upstream, tombstones
    included — maintenance never breaks CDC-out subscribers."""
    from pyspark.sql import functions as F

    from biomedica_etl_spark.cdc.generator import SCENARIOS
    from biomedica_etl_spark.cdc.oracle import replay
    from biomedica_etl_spark.sources.datasource import register_data_sources

    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    runner = CdcRunner(spark, log, str(tmp_path / "up"), n_buckets=8,
                       compact_every=3, compact_mode="minor")
    runner.run()
    assert runner.compactions_run >= 1, "precondition: folds happened"
    up = runner.table
    register_data_sources(spark)

    down_root = str(tmp_path / "down")
    changes = (
        spark.readStream.format("cowtable_changes")
        .option("root", up.root)
        .option("start_snapshot_id", up.snapshots()[0]["snapshot_id"])
        .load()
        .select(
            "conv_id", "turn_idx",
            F.when(F.col("_deleted"), "D").otherwise("U").alias("op"),
            F.col("_lsn").alias("lsn"),
            "role", "text", "tool", "ts",
        )
    )
    q = (changes.writeStream.format("cowtable")
         .option("root", down_root).option("n_buckets", 4)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    down = CowTable(down_root)
    got = sorted((r["conv_id"], r["turn_idx"], r["text"])
                 for r in down.read(spark).collect())
    want = sorted((r["conv_id"], r["turn_idx"], r["text"])
                  for r in up.read(spark).collect())
    assert got == want
    assert want == sorted((e["conv_id"], e["turn_idx"], e["text"])
                          for e in replay(log))


def test_minor_fold_losing_to_major_compact_skips_cleanly(spark, tmp_path):
    """Double-consumption guard: when a MAJOR compact wins the race and
    consumes the same layers the minor fold planned, the fold's retry must
    NOT publish its merged layer (duplicate rows/bytes) — the bucket is
    skipped, reads are unchanged, and no new delta layer appears."""
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    root = str(tmp_path / "t")
    runner = CdcRunner(spark, log, root, n_buckets=8,
                       compact_every=10**9)
    runner.run(max_batches=3)
    table = runner.table  # stale handle: plans the fold against snapshot N

    other = CowTable(root)
    compact(spark, other)  # major fold consumes ALL layers first
    rows_before = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in other.read(spark).collect()
    )

    snap = compact_layers(spark, table)  # loses the CAS race, retries
    # every planned bucket was already consumed -> metadata-only no-op
    assert snap is not None
    assert snap["delta_dirs"] == {}
    assert snap["summary"]["merged_dirs"] == []
    rows_after = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in table.read(spark).collect()
    )
    assert rows_after == rows_before
    # the stranded merged dir is orphaned and collected by GC
    gc = table.remove_orphaned_files(grace_seconds=0.0)
    assert gc["dirs_removed"] >= 1


def test_minor_fold_local_plan_shuffle_free_and_matches_shuffle_plan(
        spark, tmp_path):
    """The local fold (every bucket under ``LOCAL_MAX_BYTES``) runs on
    the driver and starts NO Spark job — layers are already laid out per
    bucket on disk, so neither an exchange nor a Python task is needed.
    It folds every eligible bucket there (``fold_tasks``, recorded with
    the planned read bytes in the commit summary) and writes one file
    under each bucket's own dir. Its committed state is row-identical
    (payload + ``_lsn`` + tombstones) to the salted exchange plan's (the
    limit at -1) on the same starting table."""
    import glob
    import os
    import shutil

    log = str(tmp_path / "log")
    generate_change_log(log, GeneratorConfig(
        n_events=6_000, batch_size=1_000, n_convs=400,
        delete_frac=0.1, out_of_order=True))
    root_a = str(tmp_path / "a")
    runner = CdcRunner(spark, log, root_a, n_buckets=32,
                       compact_every=10**9)
    runner.run(max_batches=2)
    compact(spark, runner.table)  # establish a base under the layers
    runner.run()
    root_b = str(tmp_path / "b")
    shutil.copytree(root_a, root_b)
    table_a, table_b = runner.table, CowTable(root_b)

    snap = table_a.current_snapshot()
    eligible = sorted(
        int(b) for b, ds in snap["delta_dirs"].items() if len(ds) >= 2)
    assert len(eligible) > spark.sparkContext.defaultParallelism, \
        "precondition: more buckets than cores"
    nbytes = sum(os.path.getsize(f)
                 for f in table_a._delta_files_for(snap, eligible))

    # plan pin: the driver fold starts no Spark job
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    jobs0 = max(tracker.getJobIdsForGroup(), default=-1)
    sa = compact_layers(spark, table_a)
    assert max(tracker.getJobIdsForGroup(), default=-1) == jobs0
    with mock.patch.object(table_mod, "LOCAL_MAX_BYTES", -1):
        sb = compact_layers(spark, table_b)
    assert sa is not None and sb is not None
    assert sa["summary"]["fold_tasks"] == len(eligible)
    assert sb["summary"]["fold_tasks"] == 0
    assert sa["summary"]["bytes_read"] == sb["summary"]["bytes_read"] \
        == nbytes
    for b in eligible:
        (merged,) = sa["delta_dirs"][str(b)]
        assert merged.endswith(f"bucket={b}"), merged
        assert len(glob.glob(os.path.join(root_a, merged, "*.parquet"))) == 1

    def stored_rows(table):
        df = table.read_delta_layer_files(spark)
        return sorted(
            (r["conv_id"], r["turn_idx"], r["text"], r["_lsn"],
             bool(r["_deleted"]) if r["_deleted"] is not None else False)
            for r in df.collect()
        )

    rows_a = stored_rows(table_a)
    assert any(r[4] for r in rows_a), "precondition: tombstones folded"
    assert rows_a == stored_rows(table_b)
    live = lambda t: sorted(  # noqa: E731
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in t.read(spark).collect()
    )
    assert live(table_a) == live(table_b)


def test_minor_fold_auto_plan_routes_by_bytes_and_matches_local(
        spark, tmp_path):
    """A ``LOCAL_MAX_BYTES`` between the smallest and largest bucket's
    planned delta bytes folds SOME buckets locally and the rest through
    the exchange plan in one commit — and the committed state is
    identical to an all-local fold of the same starting table."""
    import os
    import shutil

    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    root_a = str(tmp_path / "a")
    runner = CdcRunner(spark, log, root_a, n_buckets=8,
                       compact_every=10**9)
    runner.run()
    root_b = str(tmp_path / "b")
    shutil.copytree(root_a, root_b)
    table_a, table_b = runner.table, CowTable(root_b)

    snap = table_a.current_snapshot()
    sizes = sorted(
        sum(os.path.getsize(f) for f in table_a._delta_files_for(snap, [int(b)]))
        for b in snap["delta_dirs"]
    )
    assert sizes[0] < sizes[-1], "precondition: buckets differ in size"
    threshold = (sizes[0] + sizes[-1]) // 2  # mixed routing guaranteed

    with mock.patch.object(table_mod, "LOCAL_MAX_BYTES", threshold):
        sa = compact_layers(spark, table_a)
    sb = compact_layers(spark, table_b)
    assert sa is not None and sb is not None
    for b, ds in sa["delta_dirs"].items():
        assert len(ds) == 1, (b, ds)

    def stored_rows(table):
        return sorted(
            (r["conv_id"], r["turn_idx"], r["text"], r["_lsn"],
             bool(r["_deleted"]) if r["_deleted"] is not None else False)
            for r in table.read_delta_layer_files(spark).collect()
        )

    assert stored_rows(table_a) == stored_rows(table_b)


def _layer_bytes(table, d):
    import glob as _glob
    import os as _os
    return sum(_os.path.getsize(f) for f in
               _glob.glob(_os.path.join(table.root, d, "*.parquet")))


def test_tiered_fold_never_rereads_grown_merged_layer(spark, tmp_path):
    """Size-tiered minor folds: a merged layer that outgrew the fresh tier
    is excluded from later folds (write amplification stays O(1) per row),
    read results are unchanged, and a tombstone folded into the large tier
    still beats a late lower-lsn event."""
    root = str(tmp_path / "t")
    table = CowTable(root, n_buckets=1)  # one bucket isolates layer math
    table.create()

    def batch(i, rows):
        mor_apply_batch(spark, table, _changes(spark, rows), batch_id=i)

    def blob(tag, j):
        # high-entropy payload so file size tracks DATA, not parquet
        # footer overhead (40 tiny rows would drown in the footer)
        import hashlib
        return "".join(hashlib.sha256(f"{tag}-{j}-{k}".encode()).hexdigest()
                       for k in range(10))

    # three fresh layers with DISTINCT keys (no LWW collapse -> the merged
    # layer is ~3x a fresh one) + a delete that must survive tiering
    batch(0, [(10 + j, "I", f"a{j}", 0, "user", blob("a", j), None, TS)
              for j in range(40)])
    batch(1, [(110 + j, "I", f"b{j}", 0, "user", blob("b", j), None, TS)
              for j in range(40)])
    batch(2, [(210, "D", "a0", 0, None, None, None, TS)]
          + [(211 + j, "I", f"c{j}", 0, "user", blob("c", j), None, TS)
             for j in range(39)])
    snap0 = table.current_snapshot()
    dirs0 = list(snap0["delta_dirs"]["0"])
    tier = max(_layer_bytes(table, d) for d in dirs0) * 2  # fresh fit, 3x not

    s1 = compact_layers(spark, table, tier_max_bytes=tier, min_layers=2)
    assert s1 is not None
    merged1 = s1["summary"]["merged_dirs"]
    assert len(merged1) == 1
    assert _layer_bytes(table, merged1[0]) > tier, "merged must outgrow tier"

    # two more fresh layers -> next tiered fold must EXCLUDE merged1
    batch(3, [(310 + j, "I", f"d{j}", 0, "user", blob("d", j), None, TS)
              for j in range(40)])
    batch(4, [(410 + j, "I", f"e{j}", 0, "user", blob("e", j), None, TS)
              for j in range(40)])
    s2 = compact_layers(spark, table, tier_max_bytes=tier, min_layers=2)
    assert s2 is not None
    assert merged1[0] not in s2["summary"]["folded_dirs"]
    assert merged1[0] in s2["delta_dirs"]["0"]  # still resident, untouched
    assert len(s2["delta_dirs"]["0"]) == 2      # [merged2, merged1]

    # reads: 198 live keys (199 inserted, 1 deleted), delete still wins
    live = {(r["conv_id"], r["turn_idx"]) for r in table.read(spark).collect()}
    assert len(live) == 198 and ("a0", 0) not in live
    # late lower-lsn zombie for the tombstoned key still loses
    batch(5, [(5, "U", "a0", 0, "user", "zombie", None, TS)])
    live = {(r["conv_id"], r["turn_idx"]) for r in table.read(spark).collect()}
    assert ("a0", 0) not in live

    # all-large bucket below collapse threshold: fold is a no-op ...
    assert compact_layers(spark, table, tier_max_bytes=1,
                          min_layers=2) is None
    # ... but the collapse bound forces a full fold once total count hits it
    n_now = len(table.current_snapshot()["delta_dirs"]["0"])
    s3 = compact_layers(spark, table, tier_max_bytes=1, min_layers=2,
                        tier_collapse_at=n_now)
    assert s3 is not None
    assert len(s3["delta_dirs"]["0"]) == 1
    live = {(r["conv_id"], r["turn_idx"]) for r in table.read(spark).collect()}
    assert len(live) == 198 and ("a0", 0) not in live


def test_tiered_runner_matches_oracle_and_feed_survives_subset_fold(
        spark, tmp_path):
    """End-to-end tiered minor mode equals the replay oracle (inline and
    async), and the change feed replays correctly across a SUBSET fold —
    the fold-proof in read_changes_since is selection-agnostic."""
    from pyspark.sql import functions as F

    from biomedica_etl_spark.cdc.schema import SYS_DELETED, SYS_LSN

    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    for i, kw in enumerate((
            {}, {"async_compact": True, "pipeline_depth": 2})):
        runner, _ = run_and_compare(
            spark, log, str(tmp_path / f"t{i}"),
            compact_every=3, compact_mode="minor",
            fold_tier_bytes=1 << 20, **kw)
        assert runner.compactions_run >= 1

    # feed across a subset fold
    up = CdcRunner(spark, log, str(tmp_path / "up"), n_buckets=8,
                   compact_every=10**9)
    up.run(max_batches=2)
    mid = up.table.current_snapshot()["snapshot_id"]
    up.run()
    snap = up.table.current_snapshot()
    tier = max(_layer_bytes(up.table, d)
               for ds in snap["delta_dirs"].values() for d in ds) // 2
    s = compact_layers(spark, up.table, tier_max_bytes=max(tier, 1),
                       min_layers=2)
    if s is None:  # tier cut below every layer: widen until a subset folds
        s = compact_layers(spark, up.table, tier_max_bytes=1 << 20,
                           min_layers=2)
    assert s is not None

    def as_changes(stored):
        return stored.select(
            F.col(SYS_LSN).alias("lsn"),
            F.when(F.coalesce(F.col(SYS_DELETED), F.lit(False)), "D")
            .otherwise("I").alias("op"),
            "conv_id", "turn_idx", "role", "text", "tool", "ts",
        )

    down = CowTable(str(tmp_path / "down"), n_buckets=8)
    down.create()
    mor_apply_batch(spark, down,
                    as_changes(up.table.read_raw(spark, snapshot_id=mid)),
                    batch_id=0)
    feed = up.table.read_changes_since(spark, mid)
    mor_apply_batch(spark, down, as_changes(feed), batch_id=1)
    a = [r.asDict() for r in
         up.table.read(spark).orderBy("conv_id", "turn_idx").collect()]
    b = [r.asDict() for r in
         down.read(spark).orderBy("conv_id", "turn_idx").collect()]
    assert a == b


def test_stream_replication_across_tiered_folds(spark, tmp_path):
    """Replication chain across SIZE-TIERED folds: subset folds (a grown
    merged layer excluded from later folds) are served by the feed the
    same way full folds are — the fold-proof is selection-agnostic — and
    the downstream table converges to the upstream resolved state,
    tombstones included."""
    import hashlib

    from pyspark.sql import functions as F

    from biomedica_etl_spark.sources.datasource import register_data_sources

    root = str(tmp_path / "up")
    table = CowTable(root, n_buckets=2)
    table.create()

    def blob(tag, j):
        return "".join(hashlib.sha256(f"{tag}-{j}-{k}".encode()).hexdigest()
                       for k in range(10))

    def batch(i, rows):
        mor_apply_batch(spark, table, _changes(spark, rows), batch_id=i)

    batch(0, [(10 + j, "I", f"a{j}", 0, "user", blob("a", j), None, TS)
              for j in range(40)])
    batch(1, [(110 + j, "I", f"b{j}", 0, "user", blob("b", j), None, TS)
              for j in range(40)])
    batch(2, [(210, "D", "a0", 0, None, None, None, TS)]
          + [(211 + j, "I", f"c{j}", 0, "user", blob("c", j), None, TS)
             for j in range(39)])
    snap0 = table.current_snapshot()
    tier = max(_layer_bytes(table, d)
               for ds in snap0["delta_dirs"].values() for d in ds) * 2
    s1 = compact_layers(spark, table, tier_max_bytes=tier, min_layers=2)
    assert s1 is not None
    batch(3, [(310 + j, "I", f"d{j}", 0, "user", blob("d", j), None, TS)
              for j in range(40)])
    batch(4, [(410 + j, "I", f"e{j}", 0, "user", blob("e", j), None, TS)
              for j in range(40)])
    s2 = compact_layers(spark, table, tier_max_bytes=tier, min_layers=2)
    assert s2 is not None
    # tiering engaged: fold 2 excluded at least one of fold 1's merged dirs
    assert set(s1["summary"]["merged_dirs"]) -         set(s2["summary"]["folded_dirs"]), "no subset fold happened"

    register_data_sources(spark)
    down_root = str(tmp_path / "down")
    changes = (
        spark.readStream.format("cowtable_changes")
        .option("root", table.root)
        .option("start_snapshot_id", table.snapshots()[0]["snapshot_id"])
        .load()
        .select(
            "conv_id", "turn_idx",
            F.when(F.col("_deleted"), "D").otherwise("U").alias("op"),
            F.col("_lsn").alias("lsn"),
            "role", "text", "tool", "ts",
        )
    )
    q = (changes.writeStream.format("cowtable")
         .option("root", down_root).option("n_buckets", 4)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    down = CowTable(down_root)
    got = sorted((r["conv_id"], r["turn_idx"], r["text"])
                 for r in down.read(spark).collect())
    want = sorted((r["conv_id"], r["turn_idx"], r["text"])
                  for r in table.read(spark).collect())
    assert got == want
    assert len(want) == 198 and ("a0", 0) not in {(c, t) for c, t, _ in want}


def test_auto_tier_engages_on_low_collapse_and_relaxes_on_high(
        spark, tmp_path):
    """``tier_max_bytes=-1`` self-tunes from the freshest append: on a
    low-collapse table the merged layer leaves the derived tier and is
    never re-read (tiered behavior); on a heavy-collapse table the merged
    layer stays under the tier and keeps folding (leveled behavior) —
    which is the cheap, correct regime there. Both read-identical."""
    import hashlib

    def blob(tag, j):
        return "".join(hashlib.sha256(f"{tag}-{j}-{k}".encode()).hexdigest()
                       for k in range(10))

    # --- low collapse: distinct keys every batch -> merged grows ---
    t1 = CowTable(str(tmp_path / "low"), n_buckets=1)
    t1.create()
    for i, tag in enumerate("abc"):
        mor_apply_batch(spark, t1, _changes(
            spark, [(100 * i + j, "I", f"{tag}{j}", 0, "user",
                     blob(tag, j), None, TS) for j in range(40)]),
            batch_id=i)
    s1 = compact_layers(spark, t1, tier_max_bytes=-1, min_layers=2)
    assert s1 is not None
    merged1 = s1["summary"]["merged_dirs"][0]
    for i, tag in enumerate("de"):
        mor_apply_batch(spark, t1, _changes(
            spark, [(1000 + 100 * i + j, "I", f"{tag}{j}", 0, "user",
                     blob(tag, j), None, TS) for j in range(40)]),
            batch_id=3 + i)
    s2 = compact_layers(spark, t1, tier_max_bytes=-1, min_layers=2)
    assert s2 is not None
    assert merged1 not in s2["summary"]["folded_dirs"]  # tiered engaged
    assert len({(r["conv_id"], r["turn_idx"])
                for r in t1.read(spark).collect()}) == 200

    # --- heavy collapse: same keys every batch -> merged stays small ---
    t2 = CowTable(str(tmp_path / "high"), n_buckets=1)
    t2.create()
    for i in range(3):
        mor_apply_batch(spark, t2, _changes(
            spark, [(100 * i + j, "U" if i else "I", f"k{j}", 0, "user",
                     blob(f"v{i}", j), None, TS) for j in range(40)]),
            batch_id=i)
    s1 = compact_layers(spark, t2, tier_max_bytes=-1, min_layers=2)
    assert s1 is not None
    merged1 = s1["summary"]["merged_dirs"][0]
    for i in range(2):
        mor_apply_batch(spark, t2, _changes(
            spark, [(1000 + 100 * i + j, "U", f"k{j}", 0, "user",
                     blob(f"w{i}", j), None, TS) for j in range(40)]),
            batch_id=3 + i)
    s2 = compact_layers(spark, t2, tier_max_bytes=-1, min_layers=2)
    assert s2 is not None
    assert merged1 in s2["summary"]["folded_dirs"]  # leveled: re-folded
    live = {(r["conv_id"], r["turn_idx"]): r["text"]
            for r in t2.read(spark).collect()}
    assert len(live) == 40
    assert all(v == blob("w1", j) for (c, _), v in live.items()
               for j in [int(c[1:])])
