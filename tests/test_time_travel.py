"""Snapshot time travel: reading any retained snapshot id reproduces the
table state exactly as it was at that commit (manifests are self-contained
and data files are immutable, so history is free until a GC exists)."""

from __future__ import annotations

import pytest

from biomedica_etl_spark.cdc.generator import SCENARIOS, generate_change_log
from biomedica_etl_spark.cdc.runner import CdcRunner

from tests.conftest import LAYOUTS


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_read_at_snapshot_reproduces_history(spark, tmp_path, layout):
    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                       **LAYOUTS[layout])

    runner.run(max_batches=1)
    snap1 = runner.table.current_snapshot()["snapshot_id"]
    state1 = [r.asDict() for r in runner.final_state().collect()]

    runner.run()  # apply the rest
    assert runner.table.current_snapshot()["snapshot_id"] > snap1
    now = [r.asDict() for r in runner.final_state().collect()]
    assert now != state1, "later batches must have changed the table"

    back = [
        r.asDict()
        for r in runner.table.read(spark, snapshot_id=snap1)
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]
    assert back == state1


def test_unknown_snapshot_raises(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["insert_only"])
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=4)
    runner.run(max_batches=1)
    with pytest.raises(ValueError, match="unknown snapshot_id"):
        runner.table.read(spark, snapshot_id=9999)


def test_read_conversation_prunes_to_one_bucket(spark, tmp_path, monkeypatch):
    """Point lookup lists only bucket(conv_id)'s files and returns the
    conversation's turns in stable order, equal to the oracle's rows."""
    from biomedica_etl_spark.cdc.oracle import replay

    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run()
    expected = replay(log)
    conv = expected[len(expected) // 2]["conv_id"]
    got = [r.asDict() for r in runner.table.read_conversation(spark, conv).collect()]
    want = [r for r in expected if r["conv_id"] == conv]
    assert got == want
    # structural pruning: the scan's input files all come from one bucket
    # dir (on the Spark route; a small bucket is read on the driver, whose
    # file set tests/test_read_router.py pins)
    from pyspark.sql import functions as F

    from biomedica_etl_spark.cdc import table as table_mod

    monkeypatch.setattr(table_mod, "LOCAL_MAX_BYTES", -1)
    df = runner.table.read_conversation(spark, conv)
    files = [r[0] for r in df.select(F.input_file_name()).distinct().collect()]
    buckets_touched = {f.split("_bucket=")[1].split("/")[0] for f in files if "_bucket=" in f}
    assert len(buckets_touched) <= 1
    assert [r.asDict() for r in df.collect()] == want


def test_rebucket_spec_evolution(spark, tmp_path):
    """Partition-spec evolution: rebucket 8 -> 16 preserves exact state,
    point lookups prune under the NEW spec (and under the OLD spec for
    time-travel reads), and ingest continues into the new bucket count."""
    from biomedica_etl_spark.cdc.merge import rebucket
    from biomedica_etl_spark.cdc.oracle import replay

    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run(max_batches=3)
    old_snap = runner.table.current_snapshot()["snapshot_id"]
    state_before = [r.asDict() for r in runner.final_state().collect()]

    snap = rebucket(spark, runner.table, 16)
    assert snap["n_buckets"] == 16 and runner.table.n_buckets == 16
    assert [r.asDict() for r in runner.final_state().collect()] == state_before
    # point lookup prunes correctly under the new spec...
    conv = state_before[len(state_before) // 2]["conv_id"]
    got = [r.asDict() for r in
           runner.table.read_conversation(spark, conv).collect()]
    assert got == [r for r in state_before if r["conv_id"] == conv]
    # ...and under the old spec for a time-travel read
    got_old = [r.asDict() for r in
               runner.table.read_conversation(spark, conv,
                                              snapshot_id=old_snap).collect()]
    assert got_old == got
    # ingest continues into the evolved table and still matches the oracle
    runner.run()
    assert [r.asDict() for r in runner.final_state().collect()] == replay(log)
    # the manifest's bucket map really spans 16 buckets now
    cur = runner.table.current_snapshot()
    assert cur["n_buckets"] == 16
    all_buckets = {int(b) for b in cur["bucket_dirs"]} | {
        int(b) for b in cur.get("delta_dirs", {})}
    assert max(all_buckets) >= 8  # old spec capped at 7


def test_rollback_reverts_state_keeps_fencing(spark, tmp_path):
    """table.rollback(id): a NEW snapshot with the target's file refs —
    live state reverts, history stays readable, fencing stays intact (no
    batch replays), the change feed refuses to cross the rollback, and a
    fresh re-injected batch applies on top of the rolled-back state."""
    from biomedica_etl_spark.cdc.oracle import replay

    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run(max_batches=2)
    target = runner.table.current_snapshot()["snapshot_id"]
    state_at_target = [r.asDict() for r in runner.final_state().collect()]
    runner.run()  # the rest
    pre_roll = runner.table.current_snapshot()["snapshot_id"]
    assert pre_roll > target

    snap = runner.table.rollback(target)
    assert snap["summary"] == {"commit_type": "rollback",
                               "rolled_back_to": target}
    # live state reverted exactly
    assert [r.asDict() for r in runner.final_state().collect()] == state_at_target
    # fencing intact: every batch still committed, nothing replays
    res = runner.run()
    assert res.batches_applied == []
    # pre-rollback history still time-travels
    full = [r.asDict()
            for r in runner.table.read(spark, snapshot_id=pre_roll)
            .orderBy("conv_id", "turn_idx").collect()]
    assert full == replay(log)
    # the incremental feed refuses to serve across the rollback
    with pytest.raises(ValueError, match="removed delta layers"):
        runner.table.read_changes_since(spark, target)
    # corrected data goes forward under a fresh batch id
    from pyspark.sql import functions as F

    fix = runner.table.read_stored_files(spark).limit(0)  # schema donor
    del fix
    one = runner.final_state().limit(1).collect()[0]
    fixed = spark.createDataFrame(
        [(10_000_000, "U", one["conv_id"], one["turn_idx"], one["role"],
          "corrected", one["tool"], one["ts"])],
        "lsn long, op string, conv_id string, turn_idx long, role string, "
        "text string, tool string, ts timestamp")
    runner.reinject(fixed, 999)
    res2 = runner.run()
    assert res2.batches_applied == [999]
    got = runner.table.read_conversation(spark, one["conv_id"]).filter(
        F.col("turn_idx") == one["turn_idx"]).collect()[0]["text"]
    assert got == "corrected"


def test_snapshot_diff_classifies_changes(spark, tmp_path):
    """table.diff(a, b): net insert/update/delete per key between any two
    retained snapshots — works across base rewrites (unlike the change
    feed), unchanged keys absent."""
    import datetime

    from pyspark.sql import types as T

    from biomedica_etl_spark.cdc.merge import compact, mor_apply_batch
    from biomedica_etl_spark.cdc.schema import target_change_schema
    from biomedica_etl_spark.cdc.table import CowTable

    t = CowTable(str(tmp_path / "t"), n_buckets=4)
    t.create()
    TS = datetime.datetime(2025, 1, 1)
    schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in target_change_schema()]
    )

    def chg(rows):
        return spark.createDataFrame(
            [(l, o, c, tt, "user", f"x{l}", None, TS) for (l, o, c, tt) in rows],
            schema)

    mor_apply_batch(spark, t, chg([(0, "I", "A", 0), (1, "I", "B", 0),
                                   (2, "I", "K", 0)]), batch_id=0)
    compact(spark, t)
    base_snap = t.current_snapshot()["snapshot_id"]
    # update A, delete B, insert C via a MOR layer, then COMPACT (a base
    # rewrite) — the diff must still work across it
    mor_apply_batch(spark, t, chg([(10, "U", "A", 0), (11, "D", "B", 0),
                                   (12, "I", "C", 0)]), batch_id=1)
    compact(spark, t)
    d = {(r["conv_id"], r["turn_idx"]): (r["change_type"], r["old_lsn"], r["new_lsn"])
         for r in t.diff(spark, base_snap).collect()}
    assert d == {
        ("A", 0): ("update", 0, 10),
        ("B", 0): ("delete", 1, 11),
        ("C", 0): ("insert", None, 12),
    }  # K unchanged -> absent
    # identical snapshots diff to empty
    assert t.diff(spark, base_snap, base_snap).count() == 0
