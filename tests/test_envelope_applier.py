"""The transactional envelope applier shared by NDJSON files and streams.

``ingest_debezium_txn`` (one fenced batch per file) and
``stream_apply_debezium(txn_aware=True)`` (one fenced batch per epoch) run
the same ``apply_txn_batch`` step over the same pending store. These tests
pin that the two front-ends agree, that ``txn_split`` conserves rows for
every transaction dialect, that the pending store orders ids as integers,
and that the stream folds only the buckets at the layer threshold.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from biomedica_etl_spark.cdc import envelope as E
from biomedica_etl_spark.cdc.oracle import replay
from biomedica_etl_spark.cdc.table import CowTable
from biomedica_etl_spark.cdc.xxhash import bucket_of
from biomedica_etl_spark.streaming import stream_apply_debezium
from biomedica_etl_spark.streaming.stream_runner import STREAM_BATCH_BASE


def _env(conv, turn, lsn, txn=None, total=None, order=None):
    """One Debezium insert envelope; ``txn`` adds a transaction block with
    only the fields given (``total`` = event_count, ``order`` =
    total_order), so each wire dialect can be written."""
    img = {"conv_id": conv, "turn_idx": turn, "role": "user",
           "text": f"{conv}-{turn}-{lsn}", "ts_us": lsn * 1000}
    d = {"op": "c", "after": img, "source": {"lsn": lsn}}
    if txn is not None:
        block = {"id": txn}
        if total is not None:
            block["event_count"] = total
        if order is not None:
            block["total_order"] = order
        d["transaction"] = block
    return json.dumps(d)


def _write(ndj, batch, lines):
    os.makedirs(ndj, exist_ok=True)
    with open(os.path.join(ndj, f"batch-{batch:05d}.ndjson"), "w") as f:
        f.write("\n".join(lines) + "\n")


def _parse(spark, lines):
    return E.parse_debezium(
        spark.createDataFrame([(ln,) for ln in lines], "value string"),
        with_transaction=True)


# (lines, rows expected complete) per dialect; no line is a redelivery,
# so the pending side's position dedup drops nothing
DIALECTS = {
    # Debezium's own data events: id + total_order, no event_count
    "native": ([_env("n", 0, 10, txn="N", order=1),
                _env("n", 1, 11, txn="N", order=2),
                _env("bare", 0, 12)], 1),
    # event_count known, one position missing from the block
    "mixed_order": ([_env("m", 0, 20, txn="M", total=3, order=1),
                     _env("m", 1, 21, txn="M", total=3),
                     _env("m", 2, 22, txn="M", total=3, order=3),
                     _env("k", 0, 23, txn="K", total=1, order=1)], 1),
    # event_count on every event: one whole transaction, one torn
    "count": ([_env("c", 0, 30, txn="C", total=2, order=1),
               _env("c", 1, 31, txn="C", total=2, order=2),
               _env("d", 0, 32, txn="D", total=2, order=1)], 2),
}


@pytest.mark.parametrize("dialect", sorted(DIALECTS) + ["all"])
def test_txn_split_conserves_rows(spark, dialect):
    """Every input row lands on exactly one side of the split: a
    transaction whose completeness is unknown is pending, not dropped
    ("all" splits every dialect's rows in one frame)."""
    cases = DIALECTS.values() if dialect == "all" else [DIALECTS[dialect]]
    lines = [ln for ls, _ in cases for ln in ls]
    complete, incomplete = E.txn_split(_parse(spark, lines), None)
    assert complete.count() == sum(n for _, n in cases)
    assert complete.count() + incomplete.count() == len(lines)


def test_pending_store_orders_ids_as_integers(spark, tmp_path):
    """Ids straddling a digit boundary (99,999 -> 100,000, and the store's
    9-digit padding at 999,999,999 -> 1,000,000,000) order as integers:
    the carry-over read takes the newest id below the batch, and the
    prune keeps the newest ids, never the ones that merely sort last as
    text."""
    sd = str(tmp_path / "pending")
    os.makedirs(sd)

    def publish(bid, keep=None):
        df = spark.createDataFrame([(str(bid),)], "_txn_id string")
        E._publish_pending(sd, bid, df, keep)

    for bid in (99_998, 100_000, 99_999):
        publish(bid)
    os.makedirs(os.path.join(sd, "pending-000100001.stage-1"))  # torn stage
    assert E._pending_ids(sd) == [99_998, 99_999, 100_000]

    def carried(bid):
        return [r["_txn_id"] for r in
                E._read_pending_before(spark, sd, bid).collect()]

    assert carried(100_000) == ["99999"]
    assert carried(100_001) == ["100000"]
    assert E._read_pending_before(spark, sd, 99_998) is None

    publish(999_999_999)
    publish(1_000_000_000, keep=2)
    assert E._pending_ids(sd) == [999_999_999, 1_000_000_000]
    assert carried(1_000_000_001) == ["1000000000"]
    assert carried(1_000_000_000) == ["999999999"]


def _torn_input(ndj):
    """Three files: a transaction torn across files 0/1, one torn across
    1/2, one that never completes, a redelivery, bare events, and a
    native-dialect transaction (no event_count) in files 0 and 2."""
    _write(ndj, 0, [
        _env("a", 0, 10, txn="A", total=2, order=1),
        _env("a", 1, 11, txn="A", total=2, order=2),
        _env("b", 0, 12, txn="B", total=2, order=1),
        _env("n", 0, 13, txn="N", order=1),
        _env("c", 0, 14),
    ])
    _write(ndj, 1, [
        _env("b", 1, 15, txn="B", total=2, order=2),
        _env("b", 0, 12, txn="B", total=2, order=1),  # redelivered
        _env("e", 0, 16, txn="E", total=2, order=1),
        _env("z", 0, 17, txn="Z", total=3, order=1),
    ])
    _write(ndj, 2, [
        _env("e", 1, 18, txn="E", total=2, order=2),
        _env("n", 1, 19, txn="N", order=2),
        _env("d", 0, 20),
    ])


def _live(spark, table):
    return [r.asDict() for r in
            table.read(spark).orderBy("conv_id", "turn_idx").collect()]


def _final_pending(spark, table_root):
    sd = os.path.join(table_root, "_txn_pending")
    df = spark.read.parquet(E._pending_path(sd, E._pending_ids(sd)[-1]))
    return sorted((r.asDict() for r in df.collect()),
                  key=lambda r: (r["_txn_id"], r["lsn"]))


def _drain(spark, ndj, root, ckpt):
    q = stream_apply_debezium(spark, ndj, root, ckpt, n_buckets=2,
                              txn_aware=True, max_files_per_trigger=1)
    assert q.awaitTermination(180)


def test_file_and_stream_txn_appliers_agree(spark, tmp_path):
    """The same torn input through both front-ends: identical live rows
    and identical final pending rows (the never-completing and native
    transactions, deduplicated)."""
    ndj = str(tmp_path / "ndj")
    _torn_input(ndj)
    files = E.ingest_debezium_txn(spark, ndj, str(tmp_path / "f"), n_buckets=2)
    root = str(tmp_path / "s")
    _drain(spark, ndj, root, str(tmp_path / "ckpt"))
    stream = CowTable(root)

    live = _live(spark, files)
    assert {(r["conv_id"], r["turn_idx"]) for r in live} == {
        ("a", 0), ("a", 1), ("b", 0), ("b", 1), ("c", 0), ("d", 0),
        ("e", 0), ("e", 1)}
    assert _live(spark, stream) == live
    pending = _final_pending(spark, str(tmp_path / "f"))
    assert [r["_txn_id"] for r in pending] == ["N", "N", "Z"]
    assert _final_pending(spark, root) == pending
    # the stream keys pending by its fenced batch ids and keeps two
    assert E._pending_ids(os.path.join(root, "_txn_pending")) == [
        STREAM_BATCH_BASE + 1, STREAM_BATCH_BASE + 2]


def test_stream_crash_between_apply_and_pending_publish(
        spark, tmp_path, monkeypatch):
    """Epoch 1 commits its apply, then dies before publishing its pending
    state. The persisted epoch frame is released, the restart replays
    epoch 1 into a fenced no-op, and the republished pending rows equal
    the file applier's."""
    ndj = str(tmp_path / "ndj")
    _torn_input(ndj)
    root, ckpt = str(tmp_path / "s"), str(tmp_path / "ckpt")
    publish = E._publish_pending

    def crash_on_epoch_1(state_dir, batch_id, incomplete, keep):
        if batch_id == STREAM_BATCH_BASE + 1:
            raise RuntimeError("injected crash before pending publish")
        publish(state_dir, batch_id, incomplete, keep)

    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    monkeypatch.setattr(E, "_publish_pending", crash_on_epoch_1)
    q = stream_apply_debezium(spark, ndj, root, ckpt, n_buckets=2,
                              txn_aware=True, max_files_per_trigger=1)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(180)
    monkeypatch.setattr(E, "_publish_pending", publish)
    assert jsc.getPersistentRDDs().size() == persisted

    table = CowTable(root)
    assert table.is_committed(STREAM_BATCH_BASE + 1)
    sd = os.path.join(root, "_txn_pending")
    assert E._pending_ids(sd) == [STREAM_BATCH_BASE]
    n_snaps = len(table.snapshots())

    _drain(spark, ndj, root, ckpt)
    table.refresh()
    # epoch 1 replayed fenced (no commit), epoch 2 applied once
    assert len(table.snapshots()) == n_snaps + 1
    files = E.ingest_debezium_txn(spark, ndj, str(tmp_path / "f"), n_buckets=2)
    assert _live(spark, table) == _live(spark, files)
    assert _final_pending(spark, root) == _final_pending(
        spark, str(tmp_path / "f"))


def test_stream_folds_only_buckets_at_threshold(spark, tmp_path):
    """A skewed stream: the hot bucket reaches ``compact_every`` and is
    folded; the cold bucket's single layer is left alone. The table still
    equals the replay oracle."""
    n_buckets, every = 4, 2
    hot = next(f"h{i}" for i in range(100) if bucket_of(f"h{i}", n_buckets) == 0)
    cold = next(f"c{i}" for i in range(100) if bucket_of(f"c{i}", n_buckets) == 1)
    log = str(tmp_path / "log")
    schema = pa.schema([("lsn", pa.int64()), ("op", pa.string()),
                        ("conv_id", pa.string()), ("turn_idx", pa.int32()),
                        ("role", pa.string()), ("text", pa.string()),
                        ("tool", pa.string()), ("ts", pa.timestamp("us"))])
    batches = [[(hot, 0), (cold, 0)], [(hot, 1)], [(hot, 0)]]
    lsn = 0
    for b, keys in enumerate(batches):
        rows = []
        for conv, turn in keys:
            lsn += 1
            rows.append({"lsn": lsn, "op": "I" if lsn < 4 else "U",
                         "conv_id": conv, "turn_idx": turn, "role": "user",
                         "text": f"t{lsn}", "tool": None, "ts": lsn * 1000})
        d = os.path.join(log, "schema_id=1", f"batch_id={b}")
        os.makedirs(d)
        pq.write_table(pa.Table.from_pylist(rows, schema),
                       os.path.join(d, "part-00000.parquet"))
    ndj = str(tmp_path / "ndj")
    E.write_debezium_log(log, ndj)

    root = str(tmp_path / "t")
    q = stream_apply_debezium(spark, ndj, root, str(tmp_path / "ckpt"),
                              n_buckets=n_buckets, compact_every=every,
                              max_files_per_trigger=1)
    assert q.awaitTermination(180)
    table = CowTable(root)
    layers = {int(b): len(ds) for b, ds in
              table.current_snapshot()["delta_dirs"].items()}
    assert layers.get(1) == 1           # cold: never at threshold
    assert layers.get(0, 0) < every     # hot: folded at threshold
    assert _live(spark, table) == replay(log)
