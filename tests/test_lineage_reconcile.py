"""Lineage-loss repair: a crash between snapshot commit and lineage append
leaves a committed batch with no metrics rows (the one gap the atomic-write
crash sweep cannot reach — the lineage append is a data write). The
reconcile API must detect it and backfill: exactly from the batch's own
delta layer when it still exists, summary-level otherwise (legacy
base-rewrite commits, lost layers). Reference analogue: rebuilding the completed-log from
outputs on disk (``src/pmc_oa/download_batch.py:246-276``)."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.lineage import reconcile_lineage
from biomedica_etl_spark.cdc.runner import CdcRunner

CFG = GeneratorConfig(n_events=3_000, batch_size=1_000, n_convs=60)


def _drop_batch_lineage(lineage_dir: str, batch_id: int) -> int:
    """Simulate the crash: remove every lineage file holding this batch."""
    dropped = 0
    for p in glob.glob(os.path.join(lineage_dir, "*.parquet")):
        ids = set(pq.read_table(p, columns=["batch_id"])
                  .column("batch_id").to_pylist())
        if ids == {batch_id}:
            os.remove(p)
            dropped += 1
    assert dropped, f"no lineage file held batch {batch_id} alone"
    return dropped


def _sums(runner):
    rows = (runner.read_lineage().groupBy("batch_id")
            .agg({"rows_upserted": "sum", "rows_deleted": "sum"})
            .withColumnRenamed("sum(rows_upserted)", "ups")
            .withColumnRenamed("sum(rows_deleted)", "dels").collect())
    return {r["batch_id"]: (r["ups"], r["dels"]) for r in rows}


def _rows(runner, batch_id):
    return sorted(
        (r.asDict() for r in
         runner.read_lineage().filter(f"batch_id = {batch_id}").collect()),
        key=lambda r: (r["bucket"], r["partition_id"]))


def test_mor_exact_backfill_from_surviving_layer(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=4,
                       compact_every=100)  # layers survive
    runner.run()
    before = _rows(runner, 1)
    assert before, "batch 1 emitted lineage"
    _drop_batch_lineage(runner.lineage_dir, 1)

    report = runner.reconcile_lineage()
    assert report["repaired_exact"] == [1]
    assert report["repaired_summary"] == []
    # EXACT repair: the backfilled per-bucket rows are identical to the
    # originals, snapshot id and watermark included
    assert _rows(runner, 1) == before

    again = runner.reconcile_lineage()
    assert again["missing"] == [], "reconcile must be idempotent"


def test_cow_summary_backfill(spark, tmp_path):
    """Tables written before merge-on-read became the only write mode keep
    their copy-on-write commits: a base rewrite carrying a batch id, whose
    per-bucket counts existed only inside the planning pass. Lost lineage
    for such a commit is backfilled as ONE summary row that closes against
    the commit's own summary."""
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    root = str(tmp_path / "t")
    runner = CdcRunner(spark, log, root, n_buckets=4, compact_every=1)
    runner.run()
    # the record such a commit left: a bucket re-pointed at a base dir,
    # post-reduce mutation counts, no commit_type and no lineage rows
    bucket, base = sorted(runner.table.current_snapshot()["bucket_dirs"]
                          .items())[0]
    runner.table.commit(7_000_001, {int(bucket): os.path.join(root, base)},
                        9_000, 9_010, {"rows_upserted": 7, "rows_deleted": 2})

    report = runner.reconcile_lineage()
    assert report["repaired_summary"] == [7_000_001]
    assert report["repaired_exact"] == []
    assert _sums(runner)[7_000_001] == (7, 2)
    assert runner.reconcile_lineage()["missing"] == []


def test_lost_layer_falls_back_to_summary(spark, tmp_path):
    """When the batch's layer files are physically gone (snapshot expired
    then orphan-GC'd, or storage lifecycle cleanup), the exact read-back is
    impossible — the repair must degrade to a summary row, not fail.
    (Note: remove_orphaned_files alone never creates this state — a
    retained snapshot keeps its layer reachable; this simulates the
    post-expiration cleanup.)"""
    import shutil

    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=4,
                       compact_every=100)
    runner.run()
    snaps = {s["batch_id"]: s for s in runner.table.snapshots()}
    parent = runner.table.snapshot_by_id(snaps[1]["parent_id"])
    for bk, dirs in snaps[1]["delta_dirs"].items():
        for d in set(dirs) - set(parent["delta_dirs"].get(bk, [])):
            shutil.rmtree(os.path.join(runner.table.root, d))
    _drop_batch_lineage(runner.lineage_dir, 1)

    report = runner.reconcile_lineage()
    assert report["repaired_summary"] == [1]
    # the summary row must close against the commit's own summary counts
    s = next(x["summary"] for x in runner.table.snapshots()
             if x["batch_id"] == 1)
    assert _sums(runner)[1] == (s["rows_upserted"], s["rows_deleted"])


def test_any_lost_subset_is_restored(spark, tmp_path):
    """Property-style sweep: for EVERY subset of whole lineage files lost
    (each file holds one batch's emit here), reconcile restores per-batch
    aggregate equality with the pre-loss table. Reconcile runs against a
    throwaway copy of the lineage dir, so one ingest serves all subsets."""
    import itertools
    import shutil

    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=4,
                       compact_every=100)
    runner.run()
    baseline = _sums(runner)
    files = sorted(glob.glob(os.path.join(runner.lineage_dir, "*.parquet")))
    assert len(files) == len(baseline), "one lineage file per batch expected"

    for r in range(1, len(files) + 1):
        for lost in itertools.combinations(files, r):
            work = str(tmp_path / "lineage_copy")
            shutil.rmtree(work, ignore_errors=True)
            shutil.copytree(runner.lineage_dir, work)
            for p in lost:
                os.remove(os.path.join(work, os.path.basename(p)))
            report = reconcile_lineage(spark, runner.table, work)
            assert len(report["missing"]) == r, (r, report)
            assert report["repaired_exact"] == sorted(report["missing"])
            from biomedica_etl_spark.cdc.lineage import read_lineage
            rows = (read_lineage(spark, work).groupBy("batch_id")
                    .agg({"rows_upserted": "sum", "rows_deleted": "sum"})
                    .withColumnRenamed("sum(rows_upserted)", "ups")
                    .withColumnRenamed("sum(rows_deleted)", "dels").collect())
            assert {x["batch_id"]: (x["ups"], x["dels"])
                    for x in rows} == baseline, lost


def test_intact_table_reports_nothing(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=4)
    runner.run()
    report = runner.reconcile_lineage()
    assert report == {"missing": [], "repaired_exact": [],
                      "repaired_summary": []}
