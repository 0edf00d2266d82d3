"""A small backlog drains with no Spark job.

``CdcRunner`` configured as ``perfbench`` runs its ``log-backlog-indexed``
workload (MOR, pipeline depth 2, async lineage, async tiered minor folds,
a ``TokenIndex`` refreshed after every commit on the maintenance thread)
drains a log whose every read set fits ``LOCAL_MAX_BYTES``: the stage,
the lineage rows, the folds and the index refreshes all run on the
driver in Arrow. A route that falls back to Spark starts a job, which
this test counts from the status tracker, so the regression fails here
and not only in a benchmark.
"""

from __future__ import annotations

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.index import TokenIndex, postings_of
from biomedica_etl_spark.cdc.oracle import replay
from biomedica_etl_spark.cdc.runner import CdcRunner


def test_indexed_backlog_drain_starts_no_spark_job(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, GeneratorConfig(
        n_events=3_000, batch_size=600, n_convs=60, delete_frac=0.1,
        duplicate_frac=0.03, out_of_order=True))
    idx = TokenIndex(str(tmp_path / "idx"), n_shards=16)
    runner = CdcRunner(
        spark, log, str(tmp_path / "t"), n_buckets=16,
        pipeline_depth=2, async_lineage=True, compact_mode="minor",
        compact_every=3, async_compact=True, fold_tier_bytes=-1,
        shuffle_salts=4, maintain=[idx], maintain_every=1,
        async_maintain=True)
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs0 = max(tracker.getJobIdsForGroup(), default=-1)
    applied = runner.run().batches_applied
    assert max(tracker.getJobIdsForGroup(), default=-1) == jobs0
    # the drain did fold, refresh and record lineage
    assert applied == [0, 1, 2, 3, 4]
    assert runner.compactions_run >= 1 and runner.maintenance_refreshes >= 1
    assert any(s.get("summary", {}).get("commit_type") == "compact-layers"
               for s in runner.table.snapshots())
    lineage = spark.read.parquet(runner.lineage_dir)
    assert lineage.select("batch_id").distinct().count() == len(applied)

    assert [r.asDict() for r in runner.final_state().collect()] == replay(log)
    assert sorted(map(tuple, idx.read(spark).collect())) == sorted(
        map(tuple, postings_of(runner.table.read(spark, columns=["text"]),
                               idx.n_shards).drop("shard").collect()))
