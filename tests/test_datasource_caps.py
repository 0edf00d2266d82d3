"""Round-4 datasource hardening: bounded change-feed micro-batches
(max_rows_per_batch with intra-snapshot file-position offsets), retained
start-offset validation, expired-parent resync errors, per-query fenced-id
namespacing with writer-identity fail-fast, and pre-evolution schema
tolerance in the native Arrow reader."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from biomedica_etl_spark.cdc.generator import SCENARIOS, generate_change_log
from biomedica_etl_spark.cdc.runner import CdcRunner
from biomedica_etl_spark.cdc.table import CowTable
from biomedica_etl_spark.sources.datasource import (
    ChangesStreamReader,
    CowTableStreamWriter,
    _AppendedFiles,
    _commit_appended,
    _read_stored_arrow,
    register_data_sources,
)


def _mk_table(spark, tmp_path, name="t"):
    log = str(tmp_path / f"log-{name}")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    runner = CdcRunner(spark, log, str(tmp_path / name), n_buckets=8,
                       compact_every=10**9)
    runner.run()
    return runner.table


def test_max_rows_per_batch_bounds_each_micro_batch(spark, tmp_path):
    table = _mk_table(spark, tmp_path)
    genesis = table.snapshots()[0]["snapshot_id"]
    uncapped = ChangesStreamReader({"root": table.root})
    all_files = [
        f for p in uncapped.partitions({"snapshot_id": genesis},
                                       uncapped.latestOffset())
        for f in p.files
    ]
    total_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in all_files)
    cap = max(1, total_rows // 5)

    reader = ChangesStreamReader({
        "root": table.root,
        "start_snapshot_id": str(genesis),
        "max_rows_per_batch": str(cap),
    })
    off = reader.initialOffset()
    served: list[str] = []
    batches = 0
    biggest_file = max(pq.ParquetFile(f).metadata.num_rows for f in all_files)
    while True:
        nxt = reader.latestOffset()
        if nxt == off:
            break
        parts = reader.partitions(off, nxt)
        rows = 0
        for p in parts:
            served.extend(p.files)
            rows += sum(pq.ParquetFile(f).metadata.num_rows for f in p.files)
        # file-granular budget: at most one file of overshoot past the cap
        assert rows <= cap + biggest_file
        batches += 1
        off = nxt
        assert batches < 100  # progress guard
    assert batches > 1, "cap should split the backlog into several batches"
    # every delta file served exactly once, none twice, none missed
    assert sorted(served) == sorted(all_files)


def test_max_rows_per_batch_end_to_end_stream(spark, tmp_path):
    table = _mk_table(spark, tmp_path)
    register_data_sources(spark)
    genesis = table.snapshots()[0]["snapshot_id"]
    q = (spark.readStream.format("cowtable_changes")
         .option("root", table.root)
         .option("start_snapshot_id", genesis)
         .option("max_rows_per_batch", 500)
         .load()
         .writeStream.format("memory").queryName("capped_feed")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        n_batches = len([p for p in q.recentProgress
                         if p["numInputRows"] > 0])
    finally:
        q.stop()
    got = spark.table("capped_feed").count()
    want = table.read_changes_since(spark, genesis).count()
    assert got == want
    assert n_batches > 1


def test_expired_start_offset_is_a_resync_error(spark, tmp_path):
    table = _mk_table(spark, tmp_path)
    genesis = table.snapshots()[0]["snapshot_id"]
    table.expire_snapshots(keep_last=2)
    table.refresh()
    reader = ChangesStreamReader({"root": table.root})
    with pytest.raises(ValueError, match="no longer retained"):
        reader.partitions({"snapshot_id": genesis}, reader.latestOffset())
    # a retained start still serves incrementally
    lo = table.snapshots()[0]["snapshot_id"]
    parts = reader.partitions({"snapshot_id": lo}, reader.latestOffset())
    assert sum(len(p.files) for p in parts) > 0


def test_writer_identity_collision_fails_loudly(tmp_path):
    root = str(tmp_path / "t")
    table = CowTable(root, n_buckets=4)
    table.create()
    msg = [_AppendedFiles([], 3, 1, 3)]
    _commit_appended(root, msg, 4_200, writer_id="ckpt:/a")
    # same writer replaying the same epoch: silent structural no-op
    n = len(CowTable(root).snapshots())
    _commit_appended(root, [_AppendedFiles([], 3, 1, 3)], 4_200,
                     writer_id="ckpt:/a")
    assert len(CowTable(root).snapshots()) == n
    # a DIFFERENT query colliding on the id is data loss -> loud failure
    with pytest.raises(RuntimeError, match="different\\s+writer"):
        _commit_appended(root, [_AppendedFiles([], 3, 1, 3)], 4_200,
                         writer_id="ckpt:/b")


def test_stream_writer_base_derived_from_checkpoint(tmp_path):
    root = str(tmp_path / "t")
    CowTable(root, n_buckets=4).create()
    w_a = CowTableStreamWriter({"root": root,
                                "checkpointLocation": str(tmp_path / "a")})
    w_a2 = CowTableStreamWriter({"root": root,
                                 "checkpointLocation": str(tmp_path / "a")})
    w_b = CowTableStreamWriter({"root": root,
                                "checkpointLocation": str(tmp_path / "b")})
    assert w_a.base == w_a2.base  # same checkpoint -> same namespace
    assert w_a.base != w_b.base  # fresh checkpoint -> disjoint namespace
    assert w_a.writer_id != w_b.writer_id
    # explicit base still wins
    w_e = CowTableStreamWriter({"root": root, "batch_id_base": "500",
                                "checkpointLocation": str(tmp_path / "a")})
    assert w_e.base == 500


def test_read_stored_arrow_pads_pre_evolution_columns(tmp_path):
    from biomedica_etl_spark.sources.datasource import _arrow_schema

    target = _arrow_schema(True)
    old = target.remove(target.get_field_index("tool"))
    tab = pa.table({
        "conv_id": ["c1", "c2"],
        "turn_idx": pa.array([0, 1], pa.int64()),
        "role": ["user", "assistant"],
        "text": ["hi", "yo"],
        "ts": pa.array([0, 1], pa.timestamp("us")),
        "_lsn": pa.array([1, 2], pa.int64()),
        "_deleted": [False, False],
    }, schema=old)
    path = str(tmp_path / "pre-evolution.parquet")
    pq.write_table(tab, path)
    got = _read_stored_arrow([path])
    assert got.schema.equals(target)
    assert got.column("tool").null_count == 2
    assert got.column("text").to_pylist() == ["hi", "yo"]


def test_reader_pushdown_prunes_buckets(spark, tmp_path):
    """Spark 4.1 DataSource filter pushdown: an EqualTo/In on conv_id
    restricts the planned partitions to the matching buckets (same
    python-xxh64 pruning read_conversation uses), while every filter is
    returned for Spark to re-evaluate — results stay equal to the
    unfiltered read filtered in-plan."""
    from pyspark.sql.datasource import EqualTo, In, GreaterThan

    from biomedica_etl_spark.cdc.generator import (GeneratorConfig,
                                                   generate_change_log)
    from biomedica_etl_spark.cdc.runner import CdcRunner
    from biomedica_etl_spark.cdc.xxhash import bucket_of
    from biomedica_etl_spark.sources.datasource import (CowTableReader,
                                                        register_data_sources)

    register_data_sources(spark)

    log = str(tmp_path / "log")
    generate_change_log(log, GeneratorConfig(
        n_events=2_000, batch_size=500, n_convs=40))
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run()
    some = [r["conv_id"] for r in
            runner.table.read(spark).select("conv_id").distinct()
            .orderBy("conv_id").limit(3).collect()]

    # planning-level pin: partitions shrink to exactly the target buckets
    reader = CowTableReader({"root": str(tmp_path / "t")})
    flt = [EqualTo(("conv_id",), some[0]), GreaterThan(("turn_idx",), 0)]
    assert list(reader.pushFilters(flt)) == flt  # all returned to Spark
    parts = reader.partitions()
    assert {p.bucket for p in parts} == {bucket_of(some[0], 8)}

    reader_in = CowTableReader({"root": str(tmp_path / "t")})
    reader_in.pushFilters([In(("conv_id",), tuple(some))])
    assert ({p.bucket for p in reader_in.partitions()}
            == {bucket_of(c, 8) for c in some})

    # end-to-end equality through the real planner
    df = (spark.read.format("cowtable").option("root", str(tmp_path / "t"))
          .load())
    got = sorted((r["conv_id"], r["turn_idx"])
                 for r in df.filter(df.conv_id == some[0]).collect())
    want = sorted((r["conv_id"], r["turn_idx"])
                  for r in runner.table.read(spark)
                  .filter(f"conv_id = '{some[0]}'").collect())
    assert got == want and got
