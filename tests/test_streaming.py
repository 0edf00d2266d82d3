"""Structured-Streaming front-end: stream apply == oracle, restart no-op."""

from __future__ import annotations

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.oracle import replay
from biomedica_etl_spark.cdc.table import CowTable
from biomedica_etl_spark.streaming import stream_apply

CFG = GeneratorConfig(
    n_events=6_000, batch_size=600, n_convs=80, duplicate_frac=0.03,
    out_of_order=True, zipf_a=1.2, schema_epoch_starts=(0.0, 0.3, 0.6),
)


def test_stream_apply_matches_oracle_and_restart_is_noop(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    table_root = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")

    q = stream_apply(spark, log, table_root, ckpt, n_buckets=8,
                     compact_every=3, max_files_per_trigger=4)
    assert q.awaitTermination(300), "stream did not drain in time"

    table = CowTable(table_root)
    actual = [
        r.asDict()
        for r in table.read(spark).orderBy("conv_id", "turn_idx").collect()
    ]
    assert actual == replay(log)
    n_snaps = len(table.snapshots())

    # restart on the same checkpoint: no new input -> no new commits
    q2 = stream_apply(spark, log, table_root, ckpt, n_buckets=8)
    assert q2.awaitTermination(120)
    assert len(table.snapshots()) == n_snaps


def test_windowed_counts_watermark_drops_late_events(spark, tmp_path):
    """§2.8 late-data contract: append-mode windows emit exactly once when
    the watermark passes their end, and an event arriving after its window
    closed is dropped from the aggregate."""
    import datetime
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from biomedica_etl_spark.streaming.stream_runner import stream_windowed_counts

    src = tmp_path / "src"
    src.mkdir()

    def _write(name, rows, mtime):
        t = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "value": pa.array([r[2] for r in rows], pa.float64()),
        })
        p = str(src / name)
        pq.write_table(t, p)
        os.utime(p, (mtime, mtime))

    base = datetime.datetime(2025, 1, 1, 10, 0, 0)

    def ts(minutes):
        return base + datetime.timedelta(minutes=minutes)

    # batch 0: fills [10:00,11:00) and reaches 11:40 -> watermark advances
    # to 11:10 (30 min lateness) after the batch
    _write("a.parquet", [(1, ts(5), 1.0), (2, ts(20), 2.0), (3, ts(50), 3.0),
                         (4, ts(100), 4.0)], mtime=time.time() - 90)
    # batch 1: runs with watermark 11:10 > window end 11:00, so
    # [10:00,11:00) EMITS with its 3 on-time events and its state is
    # evicted; max ts 12:40 pushes the watermark to 12:10
    _write("b.parquet", [(6, ts(110), 6.0), (7, ts(160), 7.0)],
           mtime=time.time() - 60)
    # batch 2: an event for the ALREADY-CLOSED [10:00,11:00) window (its
    # end is far below the 12:10 watermark) — the guaranteed-drop case
    _write("c.parquet", [(5, ts(15), 100.0)], mtime=time.time() - 30)

    q = stream_windowed_counts(
        spark, str(src), str(tmp_path / "ckpt"), query_name="win_counts",
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM win_counts").collect()
    out = {}
    for r in rows:
        # append mode must emit each window EXACTLY once — a resurrected
        # closed window would appear twice
        assert r["window_start"] not in out, "window emitted twice"
        out[r["window_start"]] = (r["n_events"], r["total"])
    # [10:00,11:00): events 1,2,3 — the too-late event 5 (value 100) was
    # dropped after the window closed
    assert out[base] == (3, 6.0)
    # [11:00,12:00): events 4 and 6, finalized when the watermark passed
    assert out[base + datetime.timedelta(hours=1)] == (2, 10.0)
    # [12:00,13:00) never finalized (watermark stops at 12:10)
    assert base + datetime.timedelta(hours=2) not in out


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: redelivered events within the
    watermark horizon are dropped across micro-batches; each event id is
    emitted exactly once; new events keep flowing."""
    import datetime
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from biomedica_etl_spark.streaming.stream_runner import stream_dedup

    src = tmp_path / "src"
    src.mkdir()

    def _write(name, rows, mtime):
        t = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "value": pa.array([r[2] for r in rows], pa.float64()),
        })
        p = str(src / name)
        pq.write_table(t, p)
        os.utime(p, (mtime, mtime))

    base = datetime.datetime(2025, 1, 1, 10, 0, 0)

    def ts(minutes):
        return base + datetime.timedelta(minutes=minutes)

    # batch 0: events 1, 2 (and an in-batch duplicate of 1)
    _write("a.parquet", [(1, ts(0), 1.0), (1, ts(0), 1.0), (2, ts(5), 2.0)],
           mtime=time.time() - 90)
    # batch 1: redelivery of 1 and 2 within the watermark + new event 3
    _write("b.parquet", [(1, ts(0), 1.0), (2, ts(5), 2.0), (3, ts(10), 3.0)],
           mtime=time.time() - 60)
    # batch 2: another redelivery of 3, plus new event 4
    _write("c.parquet", [(3, ts(10), 3.0), (4, ts(12), 4.0)],
           mtime=time.time() - 30)

    q = stream_dedup(spark, str(src), str(tmp_path / "ckpt-dedup"),
                     query_name="dedup_out", max_files_per_trigger=1)
    q.awaitTermination(120)
    rows = spark.sql("SELECT event_id FROM dedup_out").collect()
    ids = sorted(r["event_id"] for r in rows)
    assert ids == [1, 2, 3, 4], ids  # every event once, no redelivery twice


def test_stream_enrich_static_broadcast(spark, tmp_path):
    """Stream-static left-outer enrichment: matched rows carry the dim
    label, unmatched pass through with the default — per micro-batch,
    no stream-side shuffle."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from biomedica_etl_spark.streaming.stream_runner import stream_enrich

    src = tmp_path / "src"
    src.mkdir()
    base = datetime.datetime(2025, 1, 1, 10, 0, 0)
    pq.write_table(pa.table({
        "event_id": pa.array([10, 11, 25], pa.int64()),
        "ts": pa.array([base] * 3, pa.timestamp("us")),
        "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
    }), str(src / "a.parquet"))
    dim = tmp_path / "dim"
    pq.write_table(pa.table({
        "decile": pa.array([0, 1], pa.int64()),
        "label": pa.array(["zero", "one"], pa.string()),
    }), str(tmp_path / "dim.parquet"))
    del dim
    q = stream_enrich(spark, str(src), str(tmp_path / "dim.parquet"),
                      str(tmp_path / "ckpt-enrich"), query_name="enriched")
    q.awaitTermination(120)
    rows = {r["event_id"]: r["label"]
            for r in spark.sql("SELECT * FROM enriched").collect()}
    # 10 % 10 = 0 -> zero; 11 % 10 = 1 -> one; 25 % 10 = 5 -> no match
    assert rows == {10: "zero", 11: "one", 25: "unknown"}


def test_sessionize_stateful_gap_and_timeout(spark, tmp_path):
    """applyInPandasWithState sessionization: a within-stream gap closes a
    session immediately; a session that simply stops emitting closes when
    the watermark passes last+gap; a still-open session is never emitted."""
    import datetime
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from biomedica_etl_spark.streaming.stream_runner import stream_sessionize

    src = tmp_path / "src"
    src.mkdir()

    def _write(name, rows, mtime):
        t = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
        })
        p = str(src / name)
        pq.write_table(t, p)
        os.utime(p, (mtime, mtime))

    base = datetime.datetime(2025, 1, 1, 10, 0, 0)

    def ts(minutes):
        return base + datetime.timedelta(minutes=minutes)

    # batch 0: user 1 has three events inside one session; user 2 one event
    _write("a.parquet", [(1, ts(0), 1, 1.0), (2, ts(5), 1, 2.0),
                         (3, ts(10), 1, 3.0), (4, ts(5), 2, 4.0)],
           mtime=time.time() - 60)
    # batch 1: user 1 returns 230 min later -> gap split closes session 1
    # in-stream; user 3 opens a session at 20:00, driving the final
    # watermark to 19:30 which times out user 1's second session and
    # user 2's — but NOT user 3's own (still open, never emitted)
    _write("b.parquet", [(5, ts(240), 1, 5.0), (6, ts(600), 3, 6.0)],
           mtime=time.time() - 30)

    q = stream_sessionize(spark, str(src), str(tmp_path / "ckpt"),
                          query_name="sessions", gap_minutes=30)
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT * FROM sessions ORDER BY user_id, session_start").collect()
    got = [(r["user_id"], r["session_start"], r["session_end"], r["n_events"])
           for r in rows]
    assert got == [
        (1, ts(0), ts(10), 3),     # closed by the in-stream gap split
        (1, ts(240), ts(240), 1),  # closed by event-time timeout
        (2, ts(5), ts(5), 1),      # closed by event-time timeout
    ]


def test_stream_merge_matches_oracle_and_replayed_epochs_fence(spark, tmp_path):
    """Streaming MERGE INTO (the Delta foreachBatch-merge pattern): each
    micro-batch pre-reduced to one row per key and merged with a CDC
    clause matrix (delete on op='D', upsert otherwise). In-order log with
    no duplicates, so the merge's fresh-LSN-per-commit semantics coincide
    with the replay oracle. A fresh checkpoint replays every epoch under
    the same batch ids — all fenced, state unchanged."""
    from functools import reduce as _freduce

    from biomedica_etl_spark.cdc.schema import SchemaRegistry
    from biomedica_etl_spark.streaming.stream_runner import (
        _epoch_streams,
        stream_merge,
    )

    cfg = GeneratorConfig(
        n_events=4_000, batch_size=500, n_convs=60, duplicate_frac=0.0,
        out_of_order=False, zipf_a=1.2, schema_epoch_starts=(0.0, 0.3, 0.6),
    )
    log = str(tmp_path / "log")
    generate_change_log(log, cfg)
    table_root = str(tmp_path / "t")

    def _source():
        streams = _epoch_streams(spark, log, SchemaRegistry(), 4)
        return _freduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), streams)

    q = stream_merge(spark, _source(), table_root, str(tmp_path / "ckpt"),
                     n_buckets=8,
                     matched_update="source",
                     matched_delete_condition="s.op = 'D'",
                     insert_condition="s.op <> 'D'")
    assert q.awaitTermination(300), "stream did not drain in time"

    table = CowTable(table_root)
    actual = [r.asDict() for r in
              table.read(spark).orderBy("conv_id", "turn_idx").collect()]
    assert actual == replay(log)
    n_snaps = len(table.snapshots())

    # fresh checkpoint: every epoch replays under the same batch ids ->
    # every merge fences into a no-op, no new snapshots, state unchanged
    q2 = stream_merge(spark, _source(), table_root, str(tmp_path / "ckpt2"),
                      n_buckets=8,
                      matched_update="source",
                      matched_delete_condition="s.op = 'D'",
                      insert_condition="s.op <> 'D'")
    assert q2.awaitTermination(300)
    table.refresh()
    assert len(table.snapshots()) == n_snaps
    assert [r.asDict() for r in
            table.read(spark).orderBy("conv_id", "turn_idx").collect()] == actual


def test_stream_apply_with_maintained_index(spark, tmp_path):
    """The streaming half of CdcRunner(maintain=): derived maintainers
    refresh inside foreachBatch as epochs commit (epochs serialize, so
    single-writer holds), and a drain-time refresh is a cursor-fenced
    no-op when the cadence already reached head."""
    from pyspark.sql import functions as F

    from biomedica_etl_spark.cdc.index import TokenIndex

    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    table_root = str(tmp_path / "t")
    idx = TokenIndex(str(tmp_path / "idx"), n_shards=8)

    q = stream_apply(spark, log, table_root, str(tmp_path / "ckpt"),
                     n_buckets=8, compact_every=1000,
                     max_files_per_trigger=4, maintain=[idx])
    assert q.awaitTermination(300), "stream did not drain in time"

    table = CowTable(table_root)
    idx.refresh(spark, table)  # drain-time catch-up (no-op at head)
    assert idx.cursor() == table.current_snapshot()["snapshot_id"]
    scratch = sorted(
        (r["token"], r["conv_id"], r["turn_idx"], r["count"])
        for r in table.read(spark, columns=["text"])
        .select("conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
                F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token", "conv_id", "turn_idx").count().collect())
    got = sorted(
        (r["token"], r["conv_id"], r["turn_idx"], r["tf"])
        for r in idx.read(spark).collect())
    assert got == scratch
