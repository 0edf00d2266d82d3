"""Spark 4 Python Data Source adapters: the table as a native batch source
(per-bucket Arrow LWW fold, no shuffle) and the commit chain as a native
streaming source (snapshot-id offsets), checked against the engine's own
readers and the pure-Python replay oracle."""

from __future__ import annotations

import pytest

from biomedica_etl_spark.cdc.generator import SCENARIOS, generate_change_log
from biomedica_etl_spark.cdc.oracle import replay
from biomedica_etl_spark.cdc.runner import CdcRunner
from biomedica_etl_spark.sources.datasource import (
    ChangesStreamReader,
    register_data_sources,
)


def _rows(df):
    return [r.asDict() for r in df.orderBy("conv_id", "turn_idx").collect()]


def test_batch_cowtable_source_matches_oracle(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    # MOR with mid-stream compaction: the snapshot holds base files AND
    # live delta layers, so the per-bucket fold exercises both kinds
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                       compact_every=3)
    runner.run()
    table = runner.table
    register_data_sources(spark)

    df = spark.read.format("cowtable").option("root", table.root).load()
    assert _rows(df) == replay(log)
    # the standard reader spelling — load(path) — resolves to the same root
    assert _rows(spark.read.format("cowtable").load(table.root)) == replay(log)
    # one planned partition per bucket -> full scan parallelism without
    # any shuffle (buckets are disjoint key spaces)
    assert df.rdd.getNumPartitions() == 8

    # time travel through the same source
    mid = table.snapshots()[2]["snapshot_id"]
    tt = (spark.read.format("cowtable").option("root", table.root)
          .option("snapshot_id", mid).load())
    assert _rows(tt) == _rows(table.read(spark, snapshot_id=mid))

    # unresolved system-column view
    raw = (spark.read.format("cowtable").option("root", table.root)
           .option("tombstones", "true").load())
    assert raw.columns == table.read_raw(spark).columns
    assert raw.count() == table.read_raw(spark).count()


def _mk_events(spark, n, lsn0=0):
    from pyspark.sql import functions as F

    return (
        spark.range(n)
        .select(
            F.concat(F.lit("c"), (F.col("id") % 37).cast("string")).alias("conv_id"),
            (F.col("id") % 11).cast("long").alias("turn_idx"),
            F.when(F.col("id") % 13 == 0, "D").otherwise("U").alias("op"),
            (F.col("id") + lsn0).alias("lsn"),
            F.lit("assistant").alias("role"),
            F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.timestamp_seconds(F.col("id") + 1_700_000_000).alias("ts"),
        )
    )


def _lww_expected(events):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("conv_id", "turn_idx").orderBy(F.col("lsn").desc())
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1 AND op <> 'D'")
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    )


def test_batch_writer_appends_delta_commits(spark, tmp_path):
    root = str(tmp_path / "t")
    register_data_sources(spark)
    ev = _mk_events(spark, 2_000)

    (ev.write.format("cowtable").option("root", root)
       .option("n_buckets", 8).option("batch_id", 7).mode("append").save())

    from biomedica_etl_spark.cdc.table import CowTable

    table = CowTable(root)
    got = _rows(table.read(spark))
    assert got == _rows(_lww_expected(ev))
    assert table.current_snapshot()["summary"]["writer"] == "datasource"

    # fencing: replaying the same logical batch is a structural no-op and
    # leaves no unreferenced junk behind the grace window
    n_snaps = len(table.snapshots())
    (ev.write.format("cowtable").option("root", root)
       .option("batch_id", 7).mode("append").save())
    table = CowTable(root)
    assert len(table.snapshots()) == n_snaps
    assert _rows(table.read(spark)) == got
    assert table.remove_orphaned_files(grace_seconds=0)["dirs_removed"] == 0

    # a second batch under a NEW id layers on top; later lsn wins
    ev2 = _mk_events(spark, 500, lsn0=10_000)
    (ev2.write.format("cowtable").option("root", root)
       .option("batch_id", 8).mode("append").save())
    table = CowTable(root)
    both = ev.unionByName(ev2)
    assert _rows(table.read(spark)) == _rows(_lww_expected(both))

    # invalid rows fail loudly (the programmatic writer is strict)
    from pyspark.sql import functions as F

    bad = ev.limit(5).withColumn("op", F.lit("X"))
    with pytest.raises(Exception, match="invalid change rows"):
        (bad.write.format("cowtable").option("root", root)
            .mode("append").save())

    # overwrite mode is refused
    with pytest.raises(Exception, match="append-only"):
        (ev.write.format("cowtable").option("root", root)
            .mode("overwrite").save())


def test_batch_writer_tolerates_pre_evolution_schema(spark, tmp_path):
    """Schema tolerance at the writer boundary: a feed from BEFORE the
    ``tool`` epoch (column absent entirely) appends cleanly — the missing
    payload column lands as typed NULLs, same as the engine's epoch
    alignment — and a later full-schema batch coexists in the same
    resolved view."""
    from pyspark.sql import functions as F

    from biomedica_etl_spark.cdc.table import CowTable

    root = str(tmp_path / "t")
    register_data_sources(spark)
    old = _mk_events(spark, 300).drop("tool")
    (old.write.format("cowtable").option("root", root)
        .option("n_buckets", 4).mode("append").save())

    new = _mk_events(spark, 300, lsn0=1_000).withColumn(
        "tool", F.lit("search"))
    (new.write.format("cowtable").option("root", root)
        .mode("append").save())

    table = CowTable(root)
    got = _rows(table.read(spark))
    both = old.withColumn("tool", F.lit(None).cast("string")).unionByName(new)
    assert got == _rows(_lww_expected(both))
    assert {r["tool"] for r in got} == {"search"}  # lsn0=1000 wins every key


def test_stream_writer_exactly_once_sink(spark, tmp_path):
    """The table as a native Structured Streaming sink: a 3-file feed at
    maxFilesPerTrigger=1 produces fenced per-epoch delta commits whose
    resolved state equals the batch LWW of the whole feed."""
    import os

    root = str(tmp_path / "t")
    feed = str(tmp_path / "feed")
    register_data_sources(spark)
    ev = _mk_events(spark, 900)
    ev.repartition(3).write.parquet(feed)

    q = (spark.readStream.schema(ev.schema)
         .option("maxFilesPerTrigger", 1).parquet(feed)
         .writeStream.format("cowtable")
         .option("root", root).option("n_buckets", 8)
         .option("batch_id_base", 500)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    from biomedica_etl_spark.cdc.table import CowTable

    table = CowTable(root)
    assert _rows(table.read(spark)) == _rows(_lww_expected(ev))
    appended = [s for s in table.snapshots()
                if s.get("summary", {}).get("writer") == "datasource"]
    n_files = len([f for f in os.listdir(feed) if f.endswith(".parquet")])
    assert len(appended) == n_files
    assert sorted(s["batch_id"] for s in appended) == [
        500 + i for i in range(n_files)]


def test_cdc_replication_chain_source_to_sink(spark, tmp_path):
    """The full lakehouse CDC loop with ZERO engine-specific glue in the
    pipeline: upstream table's commit chain read via the native streaming
    SOURCE, re-shaped to change events in plain DataFrame ops, applied to
    a downstream table via the native exactly-once streaming SINK —
    i.e. `readStream.format("cowtable_changes") -> writeStream.format(
    "cowtable")` replicates a table. Resolved downstream state must equal
    upstream, including tombstoned keys."""
    from pyspark.sql import functions as F

    from biomedica_etl_spark.cdc.table import CowTable

    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    runner = CdcRunner(spark, log, str(tmp_path / "up"), n_buckets=8,
                       compact_every=10**9)
    runner.run()
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
    assert _rows(down.read(spark)) == _rows(up.read(spark)) == replay(log)
    # restarting the stream with the same checkpoint replays nothing new
    n_snaps = len(down.snapshots())
    q2 = (changes.writeStream.format("cowtable")
          .option("root", down_root).option("n_buckets", 4)
          .option("checkpointLocation", str(tmp_path / "ckpt"))
          .start())
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert len(CowTable(down_root).snapshots()) == n_snaps


def test_stream_changes_source_tails_commit_chain(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                       compact_every=10**9)
    runner.run()
    table = runner.table
    register_data_sources(spark)
    genesis = table.snapshots()[0]["snapshot_id"]

    q = (spark.readStream.format("cowtable_changes")
         .option("root", table.root)
         .option("start_snapshot_id", genesis).load()
         .writeStream.format("memory").queryName("feed")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = _rows(spark.table("feed"))
    want = _rows(table.read_changes_since(spark, genesis))
    # feed rows are the stored change set, order-free; compare as multisets
    key = lambda r: (r["conv_id"], r["turn_idx"], r["_lsn"])  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key)
    assert any(r["_deleted"] for r in got), "expected tombstones in the feed"

    # starting mid-chain serves only the later commits
    mid = table.snapshots()[2]["snapshot_id"]
    reader = ChangesStreamReader({"root": table.root})
    parts = reader.partitions({"snapshot_id": mid},
                              reader.latestOffset())
    n_files_mid = sum(len(p.files) for p in parts)
    parts_all = reader.partitions({"snapshot_id": genesis},
                                  reader.latestOffset())
    assert 0 < n_files_mid < sum(len(p.files) for p in parts_all)

    # a history-rewriting commit breaks incrementality with the documented
    # resync contract
    from biomedica_etl_spark.cdc.merge import compact

    compact(spark, table)
    with pytest.raises(ValueError, match="resync"):
        reader.partitions({"snapshot_id": genesis}, reader.latestOffset())


def test_native_reader_buckets_option_prunes_partitions(spark, tmp_path):
    """option('buckets', 'a,b') restricts the planned partitions directly
    (MERGE's source-key prune rides this), composing with pushFilters."""
    from biomedica_etl_spark.sources.datasource import CowTableReader

    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                       compact_every=3)
    runner.run()
    table = runner.table
    register_data_sources(spark)
    reader = CowTableReader({"root": table.root, "buckets": "1,3"})
    parts = reader.partitions()
    assert {p.bucket for p in parts} <= {1, 3}
    # end-to-end: the pruned read equals the engine's bucket-pruned read
    df = (spark.read.format("cowtable").option("root", table.root)
          .option("buckets", "1,3").load())
    expected = table.read(spark, buckets=[1, 3])
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, expected.collect()))
