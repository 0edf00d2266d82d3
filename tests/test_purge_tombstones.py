"""Tombstone GC: compact(purge_tombstones_below=W).

The gc_grace discipline: W is the caller's guarantee that every future
event carries lsn >= W, so a tombstone with _lsn < W can never win or
lose a future LWW merge differently whether present or not — dropping it
from the major-fold output is a pure space reclaim, and the final step of
a physical erase (a delete leaves payload-null tombstones; the purging
compact removes the keys too).
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.merge import compact, mor_apply_batch
from biomedica_etl_spark.cdc.oracle import replay
from biomedica_etl_spark.cdc.runner import CdcRunner

PRED = "turn_idx % 5 = 2"

CHANGE_SCHEMA = T.StructType([
    T.StructField("lsn", T.LongType()),
    T.StructField("op", T.StringType()),
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.LongType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("purge") / "log")
    generate_change_log(
        d,
        GeneratorConfig(n_events=3_000, batch_size=1_000, n_convs=40,
                        zipf_a=1.2, duplicate_frac=0.02, out_of_order=True),
    )
    return d


def _deleted_keys(log_dir):
    return {(r["conv_id"], r["turn_idx"])
            for r in replay(log_dir) if r["turn_idx"] % 5 == 2}


def _all_stored_rows(root):
    rows = []
    for f in glob.glob(os.path.join(root, "data", "**", "*.parquet"),
                       recursive=True):
        t = pq.read_table(f)
        if {"conv_id", "turn_idx"} <= set(t.schema.names):
            rows.extend(t.to_pylist())
    return rows


def test_purging_compact_removes_keys_and_preserves_state(spark, log_dir, tmp_path):
    root = str(tmp_path / "t")
    runner = CdcRunner(spark, log_dir, root, n_buckets=8,
                       compact_every=10_000)  # no auto folds
    runner.run()
    snap = runner.delete_where(PRED)
    watermark = snap["lsn_hi"] + 1  # every future event will be > delete lsn

    before = [r.asDict() for r in runner.final_state().collect()]
    csnap = compact(spark, runner.table,
                    purge_tombstones_below=watermark)
    assert csnap is not None
    n_deleted = len(_deleted_keys(log_dir))
    # the ingest log's own D-events also become purgeable tombstones
    assert csnap["summary"]["tombstones_purged"] >= n_deleted
    assert csnap["summary"]["purge_watermark"] == watermark
    assert [r.asDict() for r in runner.final_state().collect()] == before

    # physical erase completes: after snapshot expiry + orphan GC no
    # remaining file holds the deleted keys at all (not even as tombstones)
    runner.table.expire_snapshots(keep_last=1)
    runner.table.remove_orphaned_files(grace_seconds=0.0)
    gone = _deleted_keys(log_dir)
    for row in _all_stored_rows(root):
        assert (row["conv_id"], int(row["turn_idx"])) not in gone, row
        assert not row["_deleted"], row  # every tombstone was < watermark


def test_purge_bound_is_strict(spark, log_dir, tmp_path):
    """W is exclusive: a tombstone AT the watermark is retained."""
    root = str(tmp_path / "t")
    runner = CdcRunner(spark, log_dir, root, n_buckets=8,
                       compact_every=10_000)
    runner.run()
    snap = runner.delete_where(PRED)
    delete_lsn = snap["lsn_hi"]

    csnap = compact(spark, runner.table,
                    purge_tombstones_below=delete_lsn)
    # the log's own D-event tombstones (lsn < delete_lsn) purge; the
    # delete_where tombstones at exactly delete_lsn all survive
    surviving = {(r["conv_id"], int(r["turn_idx"]))
                 for r in runner.table.read_stored_files(spark).collect()
                 if r["_deleted"]}
    assert _deleted_keys(log_dir) <= surviving
    assert csnap["summary"]["purge_watermark"] == delete_lsn


def test_post_purge_merges_unchanged_for_in_contract_events(spark, log_dir, tmp_path):
    """Events at lsn >= W produce the same outcome with or without the
    purged tombstone: an upsert resurrects the key either way."""
    root_a = str(tmp_path / "a")  # purged
    root_b = str(tmp_path / "b")  # tombstones retained
    runners = {}
    for root, purge in ((root_a, True), (root_b, False)):
        r = CdcRunner(spark, log_dir, root, n_buckets=8,
                      compact_every=10_000)
        r.run()
        snap = r.delete_where(PRED)
        w = snap["lsn_hi"] + 1
        compact(spark, r.table,
                purge_tombstones_below=w if purge else None)
        runners[root] = (r, w)

    key = sorted(_deleted_keys(log_dir))[0]
    for root, (r, w) in runners.items():
        newer = spark.createDataFrame(
            [(w + 5, "U", key[0], key[1], "user", "back", None, None)],
            CHANGE_SCHEMA)
        mor_apply_batch(spark, r.table, newer, batch_id=9_300_001)
    a = [x.asDict() for x in runners[root_a][0].final_state().collect()]
    b = [x.asDict() for x in runners[root_b][0].final_state().collect()]
    assert a == b
    assert any(x["conv_id"] == key[0] and x["turn_idx"] == key[1]
               and x["text"] == "back" for x in a)


def test_purging_compact_works_on_layerless_cow_table(spark, log_dir, tmp_path):
    """The advertised erase chain: delete_where then a major fold leaves
    payload-null tombstones in the base with ZERO delta layers (a fold
    keeps tombstones); the purging compact must still rewrite those
    buckets (a layers-only candidate set would silently no-op)."""
    root = str(tmp_path / "t")
    runner = CdcRunner(spark, log_dir, root, n_buckets=8)
    runner.run()
    snap = runner.delete_where(PRED)
    compact(spark, runner.table)
    assert not runner.table.current_snapshot().get("delta_dirs")  # layer-less

    before = [r.asDict() for r in runner.final_state().collect()]
    csnap = compact(spark, runner.table,
                    purge_tombstones_below=snap["lsn_hi"] + 1)
    assert csnap is not None, "purging compact no-opped on a layer-less table"
    assert csnap["summary"]["tombstones_purged"] >= len(_deleted_keys(log_dir))
    assert [r.asDict() for r in runner.final_state().collect()] == before

    runner.table.expire_snapshots(keep_last=1)
    runner.table.remove_orphaned_files(grace_seconds=0.0)
    gone = _deleted_keys(log_dir)
    for row in _all_stored_rows(root):
        assert (row["conv_id"], int(row["turn_idx"])) not in gone, row
