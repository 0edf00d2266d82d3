"""Merge-on-read: layer appends, compaction, resume across fold modes."""

from __future__ import annotations

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.merge import mor_apply_batch
from biomedica_etl_spark.cdc.oracle import replay
from biomedica_etl_spark.cdc.runner import CdcRunner, read_batch
from biomedica_etl_spark.cdc.schema import SchemaRegistry

from tests.conftest import run_and_compare

CFG = GeneratorConfig(
    n_events=6_000, batch_size=600, n_convs=80, duplicate_frac=0.03,
    out_of_order=True, absent_key_frac=0.05, zipf_a=1.2,
    schema_epoch_starts=(0.0, 0.3, 0.6),
)


def test_mor_matches_oracle_with_compaction(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner, _ = run_and_compare(
        spark, log, str(tmp_path / "t"), compact_every=3
    )
    snaps = runner.table.snapshots()
    assert any(s["summary"].get("commit_type") == "compact" for s in snaps)
    assert any(s["summary"].get("commit_type") == "append-delta" for s in snaps)


def test_mor_layers_capped_by_compaction(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                       compact_every=3)
    runner.run()
    assert runner.table.max_delta_layers() < 3


def test_mor_batch_fencing(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run(max_batches=1)
    ch = read_batch(spark, log, 0, 0, SchemaRegistry())
    assert mor_apply_batch(spark, runner.table, ch, 0) is None


def test_mixed_mode_resume(spark, tmp_path):
    """Snapshot format is fold-mode-agnostic: a writer with minor folds
    crashes, a major compaction rewrites the base under its layers, and a
    read-optimized writer (a major fold after every commit) resumes the
    same table; state still equals the oracle."""
    from biomedica_etl_spark.cdc.merge import compact

    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    root = str(tmp_path / "t")
    first = CdcRunner(spark, log, root, n_buckets=8, compact_every=2,
                      compact_mode="minor")
    first.run(max_batches=4)
    assert compact(spark, first.table) is not None
    second = CdcRunner(spark, log, root, n_buckets=8, compact_every=1)
    assert second.pending() == list(range(4, 10))
    second.run()
    assert second.table.max_delta_layers() == 0
    actual = [r.asDict() for r in second.final_state().collect()]
    assert actual == replay(log)


def test_partial_compaction_touches_only_hot_buckets(spark, tmp_path):
    """Bin-pack maintenance: compact(buckets=[hot]) folds only those
    buckets' layers; cold buckets' layers and bytes are untouched and the
    resolved table state is identical before/after."""
    import datetime

    from pyspark.sql import types as T

    from biomedica_etl_spark.cdc.merge import compact, mor_apply_batch
    from biomedica_etl_spark.cdc.schema import target_change_schema
    from biomedica_etl_spark.cdc.table import CowTable
    from biomedica_etl_spark.cdc.xxhash import bucket_of

    t = CowTable(str(tmp_path / "t"), n_buckets=4)
    t.create()
    TS = datetime.datetime(2025, 1, 1)
    schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in target_change_schema()]
    )
    # find conv ids in two different buckets
    convs = {}
    i = 0
    while len(convs) < 2:
        b = bucket_of(f"conv-{i:06d}", 4)
        convs.setdefault(b, f"conv-{i:06d}")
        i += 1
    (hot_b, hot), (cold_b, cold) = sorted(convs.items())
    lsn = 0
    for batch in range(3):  # hot conv gets a layer every batch
        rows = [(lsn + j, "I", hot, j, "user", f"h{batch}-{j}", None, TS)
                for j in range(5)]
        if batch == 0:  # cold conv only once
            rows += [(lsn + 10 + j, "I", cold, j, "user", f"c{j}", None, TS)
                     for j in range(5)]
        lsn += 100
        mor_apply_batch(spark, t, spark.createDataFrame(rows, schema), batch)
    before = [r.asDict() for r in t.read(spark).orderBy("conv_id", "turn_idx").collect()]
    snap = t.current_snapshot()
    assert len(snap["delta_dirs"][str(hot_b)]) == 3
    cold_layers_before = list(snap["delta_dirs"][str(cold_b)])

    compact(spark, t, buckets=[hot_b])
    snap2 = t.current_snapshot()
    # hot bucket folded into base; cold bucket's layers untouched
    assert str(hot_b) not in snap2["delta_dirs"]
    assert snap2["delta_dirs"][str(cold_b)] == cold_layers_before
    after = [r.asDict() for r in t.read(spark).orderBy("conv_id", "turn_idx").collect()]
    assert after == before


def test_read_changes_since_chains_downstream(spark, tmp_path):
    """CDC-out: the incremental change feed from snapshot K replayed onto a
    copy of the table AT snapshot K reproduces the current state — so a
    downstream pipeline can consume the table as a change source. After
    compaction rewrites history, the incremental read refuses (resync
    contract)."""
    import pytest
    from pyspark.sql import functions as F

    from biomedica_etl_spark.cdc.generator import SCENARIOS, generate_change_log
    from biomedica_etl_spark.cdc.merge import compact, mor_apply_batch
    from biomedica_etl_spark.cdc.runner import CdcRunner
    from biomedica_etl_spark.cdc.schema import SYS_DELETED, SYS_LSN
    from biomedica_etl_spark.cdc.table import CowTable

    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    up = CdcRunner(spark, log, str(tmp_path / "up"), n_buckets=8,
                   compact_every=10_000)
    up.run(max_batches=2)
    mid = up.table.current_snapshot()["snapshot_id"]
    up.run()  # the rest of the log

    def as_changes(stored):
        return stored.select(
            F.col(SYS_LSN).alias("lsn"),
            F.when(F.coalesce(F.col(SYS_DELETED), F.lit(False)), "D")
            .otherwise("I").alias("op"),
            "conv_id", "turn_idx", "role", "text", "tool", "ts",
        )

    # downstream: seed with the table AS OF mid, then apply only the feed
    down = CowTable(str(tmp_path / "down"), n_buckets=8)
    down.create()
    seed = as_changes(up.table.read_raw(spark, snapshot_id=mid))
    mor_apply_batch(spark, down, seed, batch_id=0)
    feed = as_changes(up.table.read_changes_since(spark, mid))
    assert feed.count() > 0
    mor_apply_batch(spark, down, feed, batch_id=1)

    a = [r.asDict() for r in
         up.table.read(spark).orderBy("conv_id", "turn_idx").collect()]
    b = [r.asDict() for r in
         down.read(spark).orderBy("conv_id", "turn_idx").collect()]
    assert a == b
    # compaction rewrites history -> incremental read across it refuses
    compact(spark, up.table)
    with pytest.raises(ValueError, match="resync"):
        up.table.read_changes_since(spark, mid)
    # but a fresh cursor AFTER the rewrite works again
    post = up.table.current_snapshot()["snapshot_id"]
    assert up.table.read_changes_since(spark, post).count() == 0


def test_rollup_incremental_matches_full_recompute(spark, tmp_path):
    """Continuous aggregate: bootstrap once, then each refresh folds only
    the snapshot diff — final state equals a from-scratch aggregation,
    refresh is idempotent, and a compaction-only snapshot advances the
    cursor without changing the state."""
    from pyspark.sql import functions as F

    from biomedica_etl_spark.cdc.generator import SCENARIOS, generate_change_log
    from biomedica_etl_spark.cdc.merge import compact
    from biomedica_etl_spark.cdc.rollup import RollupTable
    from biomedica_etl_spark.cdc.runner import CdcRunner

    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    r = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                  compact_every=10_000)
    roll = RollupTable(str(tmp_path / "rollup"))

    r.run(max_batches=2)
    assert roll.refresh(spark, r.table)["mode"] == "bootstrap"
    r.run()  # the rest of the log
    res = roll.refresh(spark, r.table)
    assert res["mode"] == "incremental"

    def canon(df):
        return sorted((x["conv_id"], x["n_turns"]) for x in df.collect())

    expected = r.table.read(spark).groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"))
    assert canon(roll.read(spark)) == canon(expected)
    # idempotent at head
    assert roll.refresh(spark, r.table)["refreshed"] is False
    # a compaction commit changes no semantics: cursor advances, state same
    before = canon(roll.read(spark))
    compact(spark, r.table)
    res2 = roll.refresh(spark, r.table)
    assert res2["refreshed"] is True and res2["mode"] == "incremental"
    assert canon(roll.read(spark)) == before
