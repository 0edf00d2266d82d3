"""Exactly-once image-feed consumption — cdc.feed.ImageFeedCursor.

The poll/commit discipline over read_changes_with_images: windows pin at
poll time, a crash before commit re-serves the same window, committed
windows never re-serve, and the drained consumer state always equals the
live table. The resync contract (unservable window -> rebuild + reset)
is pinned end to end.
"""

from __future__ import annotations

import pytest

from biomedica_etl_spark.cdc.feed import ImageFeedCursor, apply_images
from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.merge import compact
from biomedica_etl_spark.cdc.runner import CdcRunner

CFG = GeneratorConfig(n_events=3_000, batch_size=500, n_convs=40,
                      zipf_a=1.2, duplicate_frac=0.02, out_of_order=True)

PAYLOAD = ("role", "text", "tool", "ts")


def _live(spark, table):
    return {(r["conv_id"], r["turn_idx"]):
            {"conv_id": r["conv_id"], "turn_idx": r["turn_idx"],
             **{c: r[c] for c in PAYLOAD}}
            for r in table.read(spark).collect()}


def test_cursor_drains_to_live_state_across_ingest_and_dml(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run(max_batches=1)
    cur = ImageFeedCursor(str(tmp_path / "cursor"))
    boot = cur.initialize(runner.table)
    # consumer bootstraps from a full read pinned at the cursor snapshot
    state = {(r["conv_id"], r["turn_idx"]):
             {"conv_id": r["conv_id"], "turn_idx": r["turn_idx"],
              **{c: r[c] for c in PAYLOAD}}
             for r in runner.table.read(spark, snapshot_id=boot).collect()}
    # initialize is idempotent
    assert cur.initialize(runner.table) == boot

    n_windows = 0
    while True:
        out = cur.poll(spark, runner.table)
        if out is not None:
            df, token = out
            apply_images(state, df.collect())
            cur.commit(token)
            n_windows += 1
        res = runner.run(max_batches=1)
        if not res.batches_applied and out is None:
            break
    # a DML window too
    runner.delete_where("turn_idx % 6 = 1")
    runner.update_where("role = 'tool'", {"text": "concat(text, '+')"})
    out = cur.poll(spark, runner.table)
    assert out is not None
    df, token = out
    apply_images(state, df.collect())
    cur.commit(token)
    assert n_windows >= 2
    assert state == _live(spark, runner.table)
    # drained: nothing more to poll
    assert cur.poll(spark, runner.table) is None


def test_cursor_crash_before_commit_reserves_same_window(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run(max_batches=1)
    cur = ImageFeedCursor(str(tmp_path / "cursor"))
    cur.initialize(runner.table)
    runner.run(max_batches=1)

    df1, tok1 = cur.poll(spark, runner.table)
    rows1 = sorted(map(tuple, df1.collect()))
    # "crash": a fresh cursor instance on the same state dir, no commit
    cur2 = ImageFeedCursor(str(tmp_path / "cursor"))
    df2, tok2 = cur2.poll(spark, runner.table)
    assert tok2 == tok1
    assert sorted(map(tuple, df2.collect())) == rows1
    # stale/foreign token refused
    with pytest.raises(ValueError, match="not the last polled"):
        cur2.commit(tok2 + 1)
    cur2.commit(tok2)
    assert cur2.poll(spark, runner.table) is None
    # the old instance's pending token is now consumed; recommitting
    # through it must not rewind the cursor
    assert cur2.cursor() == tok1


def test_cursor_window_pins_against_concurrent_commits(spark, tmp_path):
    """Ingest landing AFTER poll() does not leak into the polled window:
    the batch is bounded by the token, and the next poll serves the rest."""
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run(max_batches=1)
    cur = ImageFeedCursor(str(tmp_path / "cursor"))
    cur.initialize(runner.table)
    state = {(r["conv_id"], r["turn_idx"]):
             {"conv_id": r["conv_id"], "turn_idx": r["turn_idx"],
              **{c: r[c] for c in PAYLOAD}}
             for r in runner.table.read(spark).collect()}
    runner.run(max_batches=1)
    df, token = cur.poll(spark, runner.table)
    runner.run()  # lands AFTER the poll — outside the pinned window
    apply_images(state, df.collect())
    cur.commit(token)
    # state now equals the table AT the token snapshot, not the head
    pinned = {(r["conv_id"], r["turn_idx"]):
              {"conv_id": r["conv_id"], "turn_idx": r["turn_idx"],
               **{c: r[c] for c in PAYLOAD}}
              for r in runner.table.read(spark, snapshot_id=token).collect()}
    assert state == pinned
    # the remainder arrives in the next window
    df2, tok2 = cur.poll(spark, runner.table)
    apply_images(state, df2.collect())
    cur.commit(tok2)
    assert state == _live(spark, runner.table)


def test_cursor_resync_contract_and_reset(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run(max_batches=1)
    cur = ImageFeedCursor(str(tmp_path / "cursor"))
    cur.initialize(runner.table)
    runner.run()
    compact(spark, runner.table)  # base rewrite inside the pending window
    with pytest.raises(ValueError, match="resync"):
        cur.poll(spark, runner.table)
    # resync: rebuild from a pinned full read, jump the cursor
    head = runner.table.current_snapshot()["snapshot_id"]
    state = _live(spark, runner.table)
    cur.reset(head)
    assert cur.poll(spark, runner.table) is None
    runner.delete_where("turn_idx % 9 = 4")
    df, tok = cur.poll(spark, runner.table)
    apply_images(state, df.collect())
    cur.commit(tok)
    assert state == _live(spark, runner.table)


def test_cursor_uninitialized_poll_raises(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run(max_batches=1)
    cur = ImageFeedCursor(str(tmp_path / "cursor"))
    with pytest.raises(ValueError, match="initialize"):
        cur.poll(spark, runner.table)


def test_replicate_window_is_exactly_once_across_consumer_crash(
        spark, tmp_path):
    """replicate_window: the poll-apply-commit cycle fences a replayed
    window — a crash between the dst apply and the cursor commit adds
    ZERO new snapshots on replay, and the drained replica equals the
    source across ingest + DML windows."""
    from biomedica_etl_spark.cdc.feed import (replicate_until_drained,
                                              replicate_window)
    from biomedica_etl_spark.cdc.table import CowTable

    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    src = CdcRunner(spark, log, str(tmp_path / "src"), n_buckets=8)
    src.table.create()
    cur = ImageFeedCursor(str(tmp_path / "cursor"))
    cur.initialize(src.table)
    rep = CowTable(str(tmp_path / "rep"), n_buckets=8)
    rep.create()

    src.run(max_batches=2)
    r = replicate_window(spark, cur, src.table, rep)
    assert r is not None and not r["fenced"]

    # crash simulation: poll + apply land on dst, but the consumer dies
    # before cursor.commit — a fresh cursor object re-serves the window
    src.run(max_batches=1)
    out = cur.poll(spark, src.table)
    assert out is not None
    df, token = out
    from biomedica_etl_spark.cdc.feed import ImageFeedCursor as _C
    from biomedica_etl_spark.cdc.merge import mor_apply_batch
    from pyspark.sql import functions as F
    ev = (df.filter(F.col("_change_type") != "update_preimage")
          .select(F.col("_lsn").alias("lsn"),
                  F.when(F.col("_change_type") == "delete", "D")
                  .otherwise("U").alias("op"),
                  "conv_id", "turn_idx", "role", "text", "tool", "ts"))
    assert mor_apply_batch(spark, rep, ev, batch_id=token,
                           pre_reduced=True) is not None
    # consumer crashed here; restart with durable state only
    cur2 = _C(str(tmp_path / "cursor"))
    n_snaps = len(rep.snapshots())
    r = replicate_window(spark, cur2, src.table, rep)
    assert r is not None and r["fenced"] and r["token"] == token
    assert len(rep.snapshots()) == n_snaps  # replay added nothing

    # drain the rest (remaining ingest + a DML window)
    src.run()
    src.delete_where("turn_idx % 6 = 1")
    results = replicate_until_drained(spark, cur2, src.table, rep)
    assert results and not any(x["fenced"] for x in results)
    assert replicate_until_drained(spark, cur2, src.table, rep) == []

    want = sorted(map(tuple, src.table.read(spark).collect()))
    got = sorted(map(tuple, rep.read(spark).collect()))
    assert got == want
