"""Unit-level checks for the LWW reducer and the COW table."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from biomedica_etl_spark.cdc.reduce import lww_reduce
from biomedica_etl_spark.cdc.schema import target_change_schema
from biomedica_etl_spark.cdc.table import CowTable, bucket_expr

TS = dt.datetime(2025, 1, 1)


def _changes(spark, rows):
    return spark.createDataFrame(rows, target_change_schema())


def test_lww_picks_max_lsn(spark):
    rows = [
        (1, "I", "c1", 0, "user", "v1", None, TS),
        (5, "U", "c1", 0, "user", "v3", None, TS),
        (3, "U", "c1", 0, "user", "v2", None, TS),
        (2, "I", "c2", 0, "user", "w1", None, TS),
    ]
    out = {r["conv_id"]: r for r in lww_reduce(_changes(spark, rows)).collect()}
    assert out["c1"]["text"] == "v3" and out["c1"]["lsn"] == 5
    assert out["c2"]["text"] == "w1"


def test_lww_delete_wins_when_latest(spark):
    rows = [
        (1, "I", "c1", 0, "user", "v1", None, TS),
        (9, "D", "c1", 0, None, None, None, TS),
        (4, "U", "c1", 0, "user", "v2", None, TS),
    ]
    out = lww_reduce(_changes(spark, rows)).collect()
    assert len(out) == 1 and out[0]["op"] == "D"


def test_bucket_expr_is_stable_and_bounded(spark):
    df = spark.range(500).select(
        F.concat(F.lit("conv-"), F.col("id")).alias("conv_id")
    ).withColumn("b", bucket_expr("conv_id", 16))
    stats = df.agg(F.min("b"), F.max("b"), F.countDistinct("b")).collect()[0]
    assert stats[0] >= 0 and stats[1] <= 15 and stats[2] == 16
    again = df.withColumn("b2", bucket_expr("conv_id", 16)).filter("b != b2").count()
    assert again == 0


def test_cow_table_carries_unaffected_buckets(spark, tmp_path):
    """A commit that rewrites one bucket must reference, not rewrite, others."""
    import os

    from biomedica_etl_spark.cdc.merge import merge_batch

    table = CowTable(str(tmp_path / "t"), n_buckets=4)
    table.create()
    rows = [(i, "I", f"conv-{i}", 0, "user", f"t{i}", None, TS) for i in range(40)]
    merge_batch(spark, table, _changes(spark, rows), batch_id=0)
    snap1 = table.current_snapshot()
    # second batch touches exactly one conversation -> one bucket
    merge_batch(
        spark, table, _changes(spark, [(100, "U", "conv-1", 0, "user", "new", None, TS)]),
        batch_id=1,
    )
    snap2 = table.current_snapshot()
    assert snap2["summary"]["buckets_rewritten"] == 1
    changed = [b for b in snap1["bucket_dirs"]
               if snap1["bucket_dirs"][b] != snap2["bucket_dirs"][b]]
    assert len(changed) == 1
    carried = [b for b in snap1["bucket_dirs"] if b not in changed]
    for b in carried:
        assert os.path.isdir(os.path.join(table.root, snap2["bucket_dirs"][b]))
    row = table.read(spark).filter("conv_id = 'conv-1'").collect()
    assert len(row) == 1 and row[0]["text"] == "new"


def test_cross_batch_out_of_order_convergence(spark, tmp_path):
    """Applying a LOWER-lsn batch after a higher-lsn one must not regress
    state (tombstone + _lsn comparison)."""
    from biomedica_etl_spark.cdc.merge import merge_batch

    table = CowTable(str(tmp_path / "t"), n_buckets=2)
    table.create()
    # batch 0 carries the NEWER events (lsn 10: delete of k1, lsn 11: update k2)
    merge_batch(spark, table, _changes(spark, [
        (10, "D", "k1", 0, None, None, None, TS),
        (11, "U", "k2", 0, "user", "newer", None, TS),
    ]), batch_id=0)
    # batch 1 carries OLDER events for the same keys
    merge_batch(spark, table, _changes(spark, [
        (3, "I", "k1", 0, "user", "stale-insert", None, TS),
        (4, "I", "k2", 0, "user", "stale", None, TS),
        (5, "I", "k3", 0, "user", "fresh", None, TS),
    ]), batch_id=1)
    state = {r["conv_id"]: r["text"] for r in table.read(spark).collect()}
    assert state == {"k2": "newer", "k3": "fresh"}, state
