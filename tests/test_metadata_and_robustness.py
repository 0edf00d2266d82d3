"""Round-2 hardening tests.

- Driver-side metadata is O(B) total, not O(B²): committing batch N+1 never
  re-reads the N prior snapshot manifests, and a cold process resolves the
  current snapshot via version-hint with exactly one manifest read.
- Pure-Python xxhash64 is bit-identical to Spark's expression, so point
  lookups prune buckets without launching a job.
- Malformed-null events (null op / null turn_idx) are quarantined, never
  silently dropped, and never fatal — including the all-quarantined-batch
  lineage path and mixed null-lsn bucket aggregation.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from biomedica_etl_spark.cdc.merge import mor_apply_batch
from biomedica_etl_spark.cdc.schema import target_change_schema
from biomedica_etl_spark.cdc.table import CowTable, bucket_expr
from biomedica_etl_spark.cdc.xxhash import bucket_of, xxh64_signed

TS = datetime.datetime(2025, 1, 1, 0, 0, 0)


def _chg(spark, rows):
    """rows: (lsn, op, conv_id, turn_idx) -> full change frame.

    Uses an all-nullable copy of the change schema: these tests feed
    deliberately malformed events (null op/lsn) that the strict writer-side
    schema would reject before the engine's quarantine gate could see them.
    """
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in target_change_schema()]
    )
    full = [(l, o, c, t, "user", f"text-{l}", None, TS) for (l, o, c, t) in rows]
    return spark.createDataFrame(full, schema)


# --------------------------------------------------------------- xxhash64
def test_xxhash64_matches_spark_expression(spark):
    cases = ["", "a", "conv-000001", "abcdefgh", "x" * 31, "y" * 32,
             "z" * 100, "héllo wörld ✓", "conv-" + "9" * 60, "\x00\x01"]
    df = spark.createDataFrame([(s,) for s in cases], ["s"]).select(
        "s", F.xxhash64("s").alias("h"),
        F.pmod(F.xxhash64("s"), F.lit(16)).cast("int").alias("b"),
    )
    for r in df.collect():
        assert xxh64_signed(r["s"].encode("utf-8")) == r["h"], r["s"]
        assert bucket_of(r["s"], 16) == r["b"], r["s"]


def test_bucket_of_matches_bucket_expr_on_generated_ids(spark):
    ids = [f"conv-{i:06d}" for i in range(200)]
    df = spark.createDataFrame([(s,) for s in ids], ["conv_id"]).select(
        "conv_id", bucket_expr("conv_id", 128).alias("b")
    )
    for r in df.collect():
        assert bucket_of(r["conv_id"], 128) == r["b"]


# ------------------------------------------------- metadata scan behavior
def test_commit_chain_does_not_rescan_manifests(tmp_path):
    t = CowTable(str(tmp_path / "t"), n_buckets=4)
    t.create()
    base = t.manifest_reads
    for i in range(25):
        snap = t.commit(i, {}, i, i, {})
        assert snap is not None
        assert t.is_committed(i)
    # the whole 25-commit chain costs zero additional manifest READS:
    # fencing and parent resolution run off the incrementally-maintained
    # caches (O(B^2) round-1 behavior would show ~300 reads here)
    assert t.manifest_reads == base, (t.manifest_reads, base)


def test_cold_process_resolves_current_via_version_hint(tmp_path):
    t = CowTable(str(tmp_path / "t"), n_buckets=4)
    t.create()
    for i in range(10):
        t.commit(i, {}, i, i, {})
    # simulate a new process: fresh instance, cold caches
    t2 = CowTable(str(tmp_path / "t"), n_buckets=4)
    snap = t2.current_snapshot()
    assert snap["snapshot_id"] == 10 and snap["batch_id"] == 9
    assert t2.manifest_reads == 1  # version-hint -> exactly one JSON load
    # full committed-set load is a single O(B) pass on top
    assert t2.committed_batch_ids() == set(range(10))
    assert t2.manifest_reads == 12  # 1 hint read + 11 manifests


def test_expire_snapshots_keeps_caches_consistent(tmp_path):
    t = CowTable(str(tmp_path / "t"), n_buckets=4)
    t.create()
    for i in range(12):
        t.commit(i, {}, i, i, {})
    t.expire_snapshots(keep_last=5)
    assert len(t.snapshots()) == 5
    assert t.current_snapshot()["batch_id"] == 11
    # fencing must survive expiration: expired batch ids stay committed
    assert t.is_committed(0) and t.is_committed(11)
    # and a fresh commit keeps working
    assert t.commit(99, {}, 99, 99, {}) is not None
    assert CowTable(str(tmp_path / "t")).current_snapshot()["batch_id"] == 99


def test_history_and_lineage_read_apis(spark, tmp_path):
    """table.history(): one typed row per retained snapshot with commit
    type + counts; runner.read_lineage(): per-(batch,bucket) metrics that
    reconcile against the snapshot summaries."""
    from biomedica_etl_spark.cdc.generator import SCENARIOS, generate_change_log
    from biomedica_etl_spark.cdc.runner import CdcRunner

    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                       compact_every=1_000_000)
    runner.run()
    hist = {r["snapshot_id"]: r for r in runner.table.history(spark).collect()}
    snaps = runner.table.snapshots()
    assert len(hist) == len(snaps)
    assert hist[0]["commit_type"] == "create"
    applied = [s for s in snaps if s["batch_id"] is not None]
    for s in applied:
        h = hist[s["snapshot_id"]]
        assert h["commit_type"] == "append-delta"
        assert h["batch_id"] == s["batch_id"]
    # lineage reconciles: per-batch sums equal the snapshot summaries
    from pyspark.sql import functions as F

    lin = (runner.read_lineage().groupBy("batch_id")
           .agg(F.sum("rows_upserted").alias("u"),
                F.sum("rows_deleted").alias("d")))
    lin_by_batch = {r["batch_id"]: (r["u"], r["d"]) for r in lin.collect()}
    for s in applied:
        summ = s["summary"]
        # snapshot summary counts RAW events; lineage counts post-reduce
        # mutations per bucket — both nonzero and lineage <= raw
        u, d = lin_by_batch[s["batch_id"]]
        assert 0 < u <= summ["rows_upserted"] + summ["rows_deleted"]
    assert runner.table.rollback(applied[0]["snapshot_id"]) is not None
    hist2 = runner.table.history(spark).orderBy(F.desc("snapshot_id")).first()
    assert hist2["commit_type"] == "rollback"


def test_concurrent_writer_detected_and_loser_recovers(tmp_path):
    """Optimistic concurrency: two CowTable handles plan against the same
    parent; the second publish raises ConcurrentCommitError instead of
    silently forking the chain, and after refresh() the loser's retry is
    either fenced (same batch id) or lands cleanly (new batch id)."""
    import pytest as _pytest

    from biomedica_etl_spark.cdc.table import ConcurrentCommitError

    t1 = CowTable(str(tmp_path / "t"), n_buckets=4)
    t1.create()
    t1.commit(0, {}, 0, 0, {})
    t2 = CowTable(str(tmp_path / "t"), n_buckets=4)
    assert t2.current_snapshot()["snapshot_id"] == 1  # both see v1
    t1.commit(1, {}, 1, 1, {})  # writer 1 wins the race
    with _pytest.raises(ConcurrentCommitError, match="another writer"):
        t2.commit(2, {}, 2, 2, {})
    # no forked/partial state: disk still shows writer 1's chain
    t3 = CowTable(str(tmp_path / "t"))
    assert t3.current_snapshot()["snapshot_id"] == 2
    assert t3.committed_batch_ids() == {0, 1}
    # loser refreshes and retries: replay of a now-committed batch is a
    # fenced no-op; a genuinely new batch commits
    t2.refresh()
    assert t2.commit(1, {}, 1, 1, {}) is None
    assert t2.commit(2, {}, 2, 2, {}) is not None
    assert CowTable(str(tmp_path / "t")).committed_batch_ids() == {0, 1, 2}


def _write_log_batch(spark, log_dir, batch_id, rows):
    """rows: (lsn, op, conv_id, turn_idx) -> one epoch-2 change-log batch."""
    from biomedica_etl_spark.cdc.schema import change_schema_for_epoch

    full = [(l, o, c, t, "user", f"text-{l}", None, TS)
            for (l, o, c, t) in rows]
    df = spark.createDataFrame(full, change_schema_for_epoch(2))
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(log_dir, "schema_id=2", f"batch_id={batch_id}"))


def test_two_runners_disjoint_ranges_both_progress_without_manual_retry(
        spark, tmp_path):
    """Concurrent-writer auto-retry (CdcRunner.commit_retries): two runners
    feed the SAME table from disjoint batch ranges, strictly interleaved so
    every commit after the first is planned against a stale cached parent.
    Each loser refresh()es and retries internally — all batches land exactly
    once, no ConcurrentCommitError escapes, and the merged state is the LWW
    fold of both streams."""
    from biomedica_etl_spark.cdc.runner import CdcRunner

    log_a, log_b = str(tmp_path / "logA"), str(tmp_path / "logB")
    troot = str(tmp_path / "t")
    _write_log_batch(spark, log_a, 0, [(1, "I", "conv-a", 0), (2, "I", "conv-a", 1)])
    _write_log_batch(spark, log_a, 1, [(3, "U", "conv-a", 0), (4, "I", "conv-b", 0)])
    _write_log_batch(spark, log_b, 10, [(101, "I", "conv-c", 0)])
    _write_log_batch(spark, log_b, 11, [(102, "I", "conv-c", 1), (103, "D", "conv-a", 1)])
    ra = CdcRunner(spark, log_a, troot, n_buckets=4,
                   compact_every=1_000_000)
    rb = CdcRunner(spark, log_b, troot, n_buckets=4,
                   compact_every=1_000_000)
    # prime both metadata caches NOW: later runs plan against these cached
    # parents, so every post-first commit genuinely races
    ra.pending(), rb.pending()
    # interleave one batch at a time; rb/ra alternate as the stale loser
    ra.run(max_batches=1)
    rb.run(max_batches=1)
    ra.run(max_batches=1)
    rb.run(max_batches=1)
    # at least rb's first commit + both second commits were stale losers
    assert ra.commit_races_retried + rb.commit_races_retried >= 3
    t = CowTable(troot)
    assert t.committed_batch_ids() == {0, 1, 10, 11}
    # read through a FRESH handle: ra's cache predates rb's last commit
    state = [(r["conv_id"], r["turn_idx"], r["text"])
             for r in t.read(spark).orderBy("conv_id", "turn_idx").collect()]
    assert state == [("conv-a", 0, "text-3"), ("conv-b", 0, "text-4"),
                     ("conv-c", 0, "text-101"), ("conv-c", 1, "text-102")]
    # read-optimized runners (a major fold after every commit): the
    # loser's fold plans against the snapshot its retried commit refreshed
    # to (stale bucket carry-forwards would otherwise drop the other
    # writer's commits)
    log_c, log_d = str(tmp_path / "logC"), str(tmp_path / "logD")
    _write_log_batch(spark, log_c, 20, [(201, "I", "conv-d", 0)])
    _write_log_batch(spark, log_d, 30, [(301, "I", "conv-e", 0)])
    rc = CdcRunner(spark, log_c, troot, n_buckets=4, compact_every=1)
    rd = CdcRunner(spark, log_d, troot, n_buckets=4, compact_every=1)
    # prime both at the SAME parent; rd commits second and must auto-retry
    rc.pending(), rd.pending()
    rc.run()
    rd.run()
    assert rd.commit_races_retried == 1
    t.refresh()
    assert t.committed_batch_ids() == {0, 1, 10, 11, 20, 30}
    assert t.read(spark).count() == 6  # conv-d/conv-e joined the 4 above
    # counterfactual: with retries disabled the identical race SURFACES
    import pytest as _pytest

    from biomedica_etl_spark.cdc.table import ConcurrentCommitError

    log_e = str(tmp_path / "logE")
    _write_log_batch(spark, log_e, 40, [(401, "I", "conv-f", 0)])
    re_ = CdcRunner(spark, log_e, troot, n_buckets=4, commit_retries=0)
    re_.pending()  # prime the cache, THEN an external writer wins the race
    CowTable(troot).commit(41, {}, 410, 410, {})
    with _pytest.raises(ConcurrentCommitError):
        re_.run()


# -------------------------------------------------- malformed-null events
def test_null_op_and_null_turn_rows_are_quarantined_not_lost(spark, tmp_path):
    t = CowTable(str(tmp_path / "t"), n_buckets=4)
    t.create()
    qdir = str(tmp_path / "q")
    rows = [(0, "I", "conv-a", 0), (1, "I", "conv-a", 1),
            (2, None, "conv-a", 2),      # null op
            (3, "I", "conv-b", None),    # null turn_idx
            (4, "I", None, 0)]           # null conv_id
    snap = mor_apply_batch(spark, t, _chg(spark, rows), batch_id=0,
                           quarantine_dir=qdir)
    assert snap["summary"]["rows_quarantined"] == 3
    assert snap["summary"]["rows_upserted"] == 2
    q = spark.read.parquet(qdir)
    assert q.count() == 3
    assert sorted(r["lsn"] for r in q.select("lsn").collect()) == [2, 3, 4]
    assert t.read(spark).count() == 2


def test_all_quarantined_mor_batch_commits_and_lineage_survives(spark, tmp_path):
    t = CowTable(str(tmp_path / "t"), n_buckets=4)
    t.create()
    ldir = str(tmp_path / "lineage")
    qdir = str(tmp_path / "q")
    rows = [(0, "X", "conv-a", 0), (1, None, "conv-a", 1), (2, "I", "conv-b", -5)]
    # sync lineage mode: the empty layer (only _SUCCESS) must not raise
    snap = mor_apply_batch(spark, t, _chg(spark, rows), batch_id=0,
                           lineage_dir=ldir, quarantine_dir=qdir)
    assert snap is not None
    assert snap["summary"]["rows_quarantined"] == 3
    assert snap["summary"]["offsets_applied"] == 3
    assert t.is_committed(0)  # the offset range never replays
    assert spark.read.parquet(qdir).count() == 3
    assert t.read(spark).count() == 0
    # a following valid batch applies cleanly on top
    snap2 = mor_apply_batch(spark, t, _chg(spark, [(10, "I", "conv-a", 0)]),
                            batch_id=1, lineage_dir=ldir, quarantine_dir=qdir)
    assert snap2["summary"]["rows_upserted"] == 1
    assert os.path.exists(ldir)


def test_mixed_null_lsn_buckets_no_typeerror(spark, tmp_path):
    t = CowTable(str(tmp_path / "t"), n_buckets=4)
    t.create()
    # conv ids chosen so the null-lsn group lands in a different bucket
    # than the valid group with high probability across 4 buckets
    rows = [(0, "I", "conv-valid", 0), (1, "I", "conv-valid", 1),
            (None, "I", "conv-nulls", 0), (None, "U", "conv-nulls", 1)]
    snap = mor_apply_batch(spark, t, _chg(spark, rows), batch_id=0,
                           quarantine_dir=str(tmp_path / "q"))
    assert snap["summary"]["rows_upserted"] == 2
    assert snap["summary"]["rows_quarantined"] == 2
    assert snap["lsn_lo"] == 0 and snap["lsn_hi"] == 1


def test_point_lookup_prunes_without_spark_job(spark, tmp_path):
    t = CowTable(str(tmp_path / "t"), n_buckets=8)
    t.create()
    rows = [(i, "I", f"conv-{i % 5:06d}", i // 5) for i in range(50)]
    mor_apply_batch(spark, t, _chg(spark, rows), batch_id=0)
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    df = t.read_conversation(spark, "conv-000003")
    # building the pruned plan must not have launched any job
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert len(after) == len(before)
    got = [r["turn_idx"] for r in df.collect()]
    assert got == sorted(got) and len(got) == 10


# ----------------------------------------------------- pipelined ingest
@pytest.mark.parametrize("depth", [1, 3])
def test_pipelined_mor_matches_oracle_and_is_exactly_once(
        spark, tmp_path, depth):
    from biomedica_etl_spark.cdc.generator import SCENARIOS, generate_change_log
    from biomedica_etl_spark.cdc.oracle import replay
    from biomedica_etl_spark.cdc.runner import CdcRunner

    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["everything"])
    r = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                  compact_every=4, async_lineage=True, pipeline_depth=depth)
    res = r.run()
    assert res.batches_skipped == []
    actual = [x.asDict() for x in r.final_state().collect()]
    expected = replay(log)
    assert actual == expected
    # commits happened strictly in batch order
    batch_ids = [s["batch_id"] for s in r.table.snapshots()
                 if s["batch_id"] is not None]
    assert batch_ids == sorted(batch_ids) == res.batches_applied
    # exactly-once: a second run applies nothing
    r2 = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                   pipeline_depth=depth)
    assert r2.run().batches_applied == []


def test_runner_refuses_any_mode_but_mor(spark, tmp_path):
    """Merge-on-read is the only write mode: the copy-on-write mode is
    gone, and asking for it fails up front instead of silently writing
    layers."""
    from biomedica_etl_spark.cdc.runner import CdcRunner

    with pytest.raises(ValueError, match="mor"):
        CdcRunner(spark, str(tmp_path / "log"), str(tmp_path / "t"),
                  mode="cow")
    assert not os.path.exists(str(tmp_path / "t"))


# -------------------------------------------- routed sink + file sizing
def test_write_routed_partitions_and_caps_files(spark, tmp_path):
    import glob as _glob

    import pyarrow.parquet as pq

    from biomedica_etl_spark.sources import tbl
    from biomedica_etl_spark.sources.sink import write_routed

    e = tbl(spark, "/root/testdata/sf0.001", "events")
    routed = e.withColumn(
        "route",
        F.when(F.col("event_type") == "click", "commercial")
        .when(F.col("event_type") == "view", "noncommercial")
        .otherwise("other"),
    )
    out = str(tmp_path / "routed")
    write_routed(routed, out, "route", max_records_per_file=200,
                 repartition_per_route=4)
    routes = sorted(os.path.basename(d).split("=")[1]
                    for d in _glob.glob(os.path.join(out, "route=*")))
    assert routes == ["commercial", "noncommercial", "other"]
    total = 0
    for f in _glob.glob(os.path.join(out, "route=*", "*.parquet")):
        n = pq.read_metadata(f).num_rows
        assert n <= 200, f
        total += n
    assert total == e.count()
    # reading back with a route filter prunes to one partition dir
    back = spark.read.parquet(out).filter(F.col("route") == "commercial")
    assert back.count() == routed.filter("route = 'commercial'").count()


def test_table_write_respects_max_records_per_file(spark, tmp_path):
    import glob as _glob
    from unittest import mock

    import pyarrow.parquet as pq

    from biomedica_etl_spark.cdc import table as table_mod
    from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
    from biomedica_etl_spark.cdc.runner import CdcRunner

    log = str(tmp_path / "log")
    generate_change_log(log, GeneratorConfig(n_events=8_000, batch_size=4_000,
                                             n_convs=40))
    r = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=4,
                  max_records_per_file=150)
    # the limit at -1 pins the Spark stage (Spark's maxRecordsPerFile);
    # tests/test_property_local_stage.py checks the driver-local stage's cap
    with mock.patch.object(table_mod, "LOCAL_MAX_BYTES", -1):
        r.run()
    files = _glob.glob(os.path.join(str(tmp_path / "t"), "data", "*",
                                    "_bucket=*", "*.parquet"))
    assert files
    assert all(pq.read_metadata(f).num_rows <= 150 for f in files)


def test_jaccard_posting_list_cap_drops_hot_shingles(spark, tmp_path):
    """A shingle shared by many docs must not explode the pair join: with
    the cap at 64, a 100-doc-hot shingle contributes zero intersections."""
    from biomedica_etl_spark.operators.dedup import ngram_jaccard_pairs

    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = tmp_path / "sf"
    sf.mkdir()
    # every doc is identical -> every shingle has df=100, far above the cap
    rows = [(i, "alpha beta gamma delta epsilon", "en", "src", 30)
            for i in range(100)]
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows]),
            "lang": pa.array([r[2] for r in rows]),
            "source": pa.array([r[3] for r in rows]),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }),
        str(sf / "documents.parquet"),
    )
    # capped: all shingles are corpus-hot -> dropped -> the quadratic
    # bucket never forms and no pairs emerge
    assert ngram_jaccard_pairs(spark, str(sf)).count() == 0
    # uncapped: identical docs -> jaccard 1.0 -> C(100,2) pairs (the blowup
    # the cap exists to prevent)
    assert ngram_jaccard_pairs(spark, str(sf), max_df=1000).count() == 4950


def test_pipelined_crash_leaves_only_unreferenced_staging(spark, tmp_path):
    """Crash model under pipelining: a batch STAGED but never committed
    (crash between the wide job and the snapshot rename) leaves only an
    unreferenced dir; a restarted runner re-derives pending work, re-stages
    and commits it, and the final state matches the oracle."""
    from biomedica_etl_spark.cdc.generator import SCENARIOS, generate_change_log
    from biomedica_etl_spark.cdc.merge import mor_stage_batch
    from biomedica_etl_spark.cdc.oracle import replay
    from biomedica_etl_spark.cdc.runner import CdcRunner, read_batch

    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    r = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                  pipeline_depth=2)
    r.run(max_batches=1)
    # simulate the crash: batch 1's stage write completed, commit never ran
    from biomedica_etl_spark.cdc.checkpoint import planned_batches

    schema_of = dict(planned_batches(log))
    changes = read_batch(spark, log, 1, schema_of[1], r.registry)
    staged = mor_stage_batch(spark, r.table, changes, 1)
    assert staged is not None and staged["written"]

    # a fresh runner (new process) still sees batch 1 pending and applies
    # EVERYTHING exactly once; the orphaned staging dir is never referenced
    r2 = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                   pipeline_depth=2)
    assert r2.pending()[0] == 1
    r2.run()
    actual = [x.asDict() for x in r2.final_state().collect()]
    assert actual == replay(log)
    referenced = set()
    for s in r2.table.snapshots():
        for ds in s.get("delta_dirs", {}).values():
            referenced.update(os.path.dirname(d) for d in ds)
        referenced.update(os.path.dirname(d) if "=" in os.path.basename(d)
                          else d for d in s.get("bucket_dirs", {}).values())
    orphan = os.path.relpath(staged["stage"], str(tmp_path / "t"))
    assert orphan not in referenced
    # and maintenance reclaims it: expire keeps only live dirs
    r2.table.expire_snapshots(keep_last=1)
    assert not os.path.exists(staged["stage"])
