"""Exactly-once sink semantics: fencing, idempotent re-apply, crash-resume.

Reference semantics under test: exists-skip (``src/pmc_oa/download.py:44-50``),
file-roll versioning (``src/pmc_oa/build_json.py:125-157``), completed-log
diff resume (``src/pmc_oa/download_batch.py:246-316``)."""

from __future__ import annotations

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.merge import mor_apply_batch
from biomedica_etl_spark.cdc.oracle import replay
from biomedica_etl_spark.cdc.runner import CdcRunner, read_batch
from biomedica_etl_spark.cdc.schema import SchemaRegistry

from tests.conftest import run_and_compare

CFG = GeneratorConfig(n_events=4_000, batch_size=1_000, n_convs=80)


def test_rerun_is_noop(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner, _ = run_and_compare(spark, log, str(tmp_path / "table"))
    before = [r.asDict() for r in runner.final_state().collect()]
    n_snaps = len(runner.table.snapshots())
    res = runner.run()
    assert res.batches_applied == []
    assert len(runner.table.snapshots()) == n_snaps, "no new snapshots on replay"
    after = [r.asDict() for r in runner.final_state().collect()]
    assert before == after


def test_double_apply_single_batch_is_fenced(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "table"), n_buckets=8)
    reg = SchemaRegistry()
    changes = read_batch(spark, log, 0, 0, reg)
    snap1 = mor_apply_batch(spark, runner.table, changes, batch_id=0)
    assert snap1 is not None
    snap2 = mor_apply_batch(spark, runner.table, changes, batch_id=0)
    assert snap2 is None, "second apply of same batch_id must be a no-op"


def test_crash_and_resume(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    root = str(tmp_path / "table")
    first = CdcRunner(spark, log, root, n_buckets=8)
    first.run(max_batches=2)  # "crash" after two commits
    second = CdcRunner(spark, log, root, n_buckets=8)
    assert second.pending() == [2, 3]
    second.run()
    actual = [r.asDict() for r in second.final_state().collect()]
    assert actual == replay(log)


def test_uncommitted_staging_dir_is_invisible(spark, tmp_path):
    """A crash between data write and snapshot publish leaves garbage that
    readers never see (snapshot-commit discipline)."""
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "table"), n_buckets=8)
    runner.run(max_batches=1)
    before = runner.table.read(spark).count()
    # simulate a crashed writer: stage dir written, no commit
    stage = runner.table.new_data_dir()
    runner.table.read_raw(spark).write.mode("overwrite").parquet(stage + "/_bucket=0")
    assert runner.table.read(spark).count() == before


def test_lineage_reconciles_with_table(spark, tmp_path):
    """sum(lineage upserts/deletes) per batch reconciles with the log: a
    commit's summary counts the batch's raw events, its lineage rows count
    the layer it wrote — one max-lsn winner per key of the batch, split by
    whether the winner is a delete."""
    from biomedica_etl_spark.cdc.oracle import _read_all_events

    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner, _ = run_and_compare(spark, log, str(tmp_path / "table"))
    lineage = spark.read.parquet(runner.lineage_dir)
    per_batch = {
        r["batch_id"]: (r["ups"], r["dels"])
        for r in lineage.groupBy("batch_id")
        .agg({"rows_upserted": "sum", "rows_deleted": "sum"})
        .withColumnRenamed("sum(rows_upserted)", "ups")
        .withColumnRenamed("sum(rows_deleted)", "dels")
        .collect()
    }
    events = _read_all_events(log)
    winners: dict = {}
    for e in events:
        k = (e["batch_id"], e["conv_id"], e["turn_idx"])
        if k not in winners or e["lsn"] > winners[k]["lsn"]:
            winners[k] = e

    def split(evs):
        dels = sum(1 for e in evs if e["op"] == "D")
        return (len(evs) - dels, dels)

    for snap in runner.table.snapshots():
        b = snap["batch_id"]
        if b is None:
            continue
        s = snap["summary"]
        assert (s["rows_upserted"], s["rows_deleted"]) == split(
            [e for e in events if e["batch_id"] == b])
        assert per_batch[b] == split(
            [e for (eb, _, _), e in winners.items() if eb == b])
    watermarks = [r[0] for r in lineage.groupBy("batch_id").agg({"watermark": "max"}).collect()]
    assert all(w is not None for w in watermarks)
