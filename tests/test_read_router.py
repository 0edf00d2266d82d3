"""Plan shape of the point-read and term-lookup router.

A read set of at most ``LOCAL_MAX_BYTES`` on disk is answered on the
driver: the result is a local relation whose plan is a
``LocalTableScan``, and collecting it starts no Spark job. Above the
limit the read keeps its parquet scan. One constant sets the limit for
both reads and the minor folds' local plan.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from biomedica_etl_spark.cdc import table as table_mod
from biomedica_etl_spark.cdc.index import shard_of
from biomedica_etl_spark.cdc.merge import compact_layers
from biomedica_etl_spark.cdc.xxhash import bucket_of
from biomedica_etl_spark.sources import datasource


@pytest.fixture(scope="module")
def built(spark, ingested_mor):
    r, idx = ingested_mor
    conv = sorted(x["conv_id"] for x in r.final_state().collect())[0]
    token = sorted(x["token"] for x in idx.read(spark).collect())[0]
    return r.table, idx, conv, token


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _jobs_of_collect(spark, df) -> int:
    sc = spark.sparkContext
    group = f"router-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "read-route probe")
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_small_reads_are_local_and_start_no_job(spark, built):
    table, idx, conv, token = built
    for df in (table.read_conversation(spark, conv),
               idx.lookup(spark, [token])):
        plan = _plan(df)
        assert plan.startswith("LocalTableScan"), plan
        assert "FileScan" not in plan, plan
        assert _jobs_of_collect(spark, df) == 0
        assert df.count() > 0


def test_large_reads_keep_the_parquet_scan(spark, built, monkeypatch):
    table, idx, conv, token = built
    monkeypatch.setattr(table_mod, "LOCAL_MAX_BYTES", -1)
    for df in (table.read_conversation(spark, conv),
               idx.lookup(spark, [token])):
        plan = _plan(df)
        assert "FileScan parquet" in plan, plan
        # the job-count probe sees the Spark route's jobs
        assert _jobs_of_collect(spark, df) > 0


def test_local_reads_touch_only_the_pruned_files(spark, built, monkeypatch):
    table, idx, conv, token = built
    seen: list[str] = []
    real = datasource._read_stored_arrow

    def spy(files, *a, **kw):
        seen.extend(files)
        return real(files, *a, **kw)

    monkeypatch.setattr(datasource, "_read_stored_arrow", spy)
    table.read_conversation(spark, conv).collect()
    bucket = bucket_of(conv, table.n_buckets)
    assert seen and all(f"_bucket={bucket}/" in f for f in seen), seen
    seen.clear()
    idx.lookup(spark, [token]).collect()
    shard = shard_of(token, idx.n_shards)
    assert seen and all(f"shard={shard}/" in f for f in seen), seen


def test_one_limit_for_reads_and_folds(spark, tmp_path, monkeypatch):
    """The fold routes by the same constant, read at call time: at -1
    every bucket takes the exchange plan (no Arrow fold task); at the
    default the same layers fold in packed Arrow tasks."""
    import shutil

    from biomedica_etl_spark.cdc.generator import (
        GeneratorConfig,
        generate_change_log,
    )
    from biomedica_etl_spark.cdc.runner import CdcRunner
    from biomedica_etl_spark.cdc.table import CowTable

    log = str(tmp_path / "log")
    generate_change_log(log, GeneratorConfig(
        n_events=1_200, batch_size=400, n_convs=20))
    CdcRunner(spark, log, str(tmp_path / "a"), n_buckets=4, mode="mor",
              compact_every=10**9).run()
    shutil.copytree(tmp_path / "a", tmp_path / "b")
    folded = compact_layers(spark, CowTable(str(tmp_path / "a")))
    assert folded["summary"]["fold_tasks"] >= 1
    monkeypatch.setattr(table_mod, "LOCAL_MAX_BYTES", -1)
    folded = compact_layers(spark, CowTable(str(tmp_path / "b")))
    assert folded["summary"]["fold_tasks"] == 0


def test_local_lookup_feeds_a_spark_plan(spark, built):
    """``delete_matching``/``update_matching`` join the lookup's result in
    a Spark plan; a local relation must plan and run there too."""
    table, idx, conv, token = built
    keys = idx.lookup(spark, [token]).select("conv_id", "turn_idx")
    live = table.read(spark)
    joined = live.join(keys.distinct(), ["conv_id", "turn_idx"], "left_semi")
    assert joined.count() == keys.distinct().count()
    assert joined.filter(~F.lower("text").contains(token)).count() == 0
