"""Incremental inverted index — cdc.index.TokenIndex.

The index must equal a from-scratch build over the live table after any
sequence of ingest + DML (the IVM correctness bar), append O(changes)
delta layers WITHOUT ever touching existing layer files (the
merge-on-read scale bar — a window's vocabulary routinely spans every
shard, so a rewrite-affected-shards design would degenerate to full
rewrites), bound per-shard layer counts through targeted folds, prune
term lookups to the terms' shards, survive crash/replay through the
atomic pointer discipline, and fall back to a rebuild exactly when the
feed declares the window unservable.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from biomedica_etl_spark.cdc import table as table_mod
from biomedica_etl_spark.cdc.index import TokenIndex, postings_of, shard_of
from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.merge import compact
from biomedica_etl_spark.cdc.runner import CdcRunner

CFG = GeneratorConfig(n_events=3_000, batch_size=500, n_convs=40,
                      zipf_a=1.2, duplicate_frac=0.02, out_of_order=True)


def _scratch(spark, table, n_shards):
    """From-scratch postings of the live table (the oracle)."""
    return sorted(
        (r["token"], r["conv_id"], r["turn_idx"], r["tf"])
        for r in postings_of(table.read(spark, columns=["text"]), n_shards)
        .drop("shard").collect())


def _indexed(spark, idx):
    return sorted(
        (r["token"], r["conv_id"], r["turn_idx"], r["tf"])
        for r in idx.read(spark).collect())


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """A table built from the first two batches + a bootstrapped index."""
    tmp = tmp_path_factory.mktemp("tokidx")
    log = str(tmp / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp / "t"), n_buckets=8)
    runner.run(max_batches=2)
    idx = TokenIndex(str(tmp / "idx"), n_shards=16)
    res = idx.refresh(spark, runner.table)
    assert res["mode"] == "bootstrap"
    assert _indexed(spark, idx) == _scratch(spark, runner.table, 16)
    return runner, idx


def test_incremental_equals_scratch_across_ingest_and_dml(spark, built):
    runner, idx = built
    runner.run()
    res = idx.refresh(spark, runner.table)
    assert res["mode"] == "incremental"
    assert _indexed(spark, idx) == _scratch(spark, runner.table, 16)

    # DML windows: delete retracts postings, update retracts old tokens
    # and adds new ones — both need the image feed's pre-images
    runner.delete_where("turn_idx % 6 = 1")
    runner.update_where("role = 'tool'",
                        {"text": "concat(text, ' zzqx')"})
    res = idx.refresh(spark, runner.table)
    assert res["mode"] == "incremental"
    assert _indexed(spark, idx) == _scratch(spark, runner.table, 16)
    # idempotent at head
    assert idx.refresh(spark, runner.table) == {
        "refreshed": False, "cursor": runner.table.current_snapshot()["snapshot_id"]}


def test_refresh_appends_deltas_and_never_touches_existing_layers(
        spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run()
    idx = TokenIndex(str(tmp_path / "idx"), n_shards=16)
    idx.refresh(spark, runner.table)

    # pin one row's text to a single known token so the NEXT window's
    # vocabulary is exactly two tokens (old + new) — a deterministic
    # tiny-delta window
    row = (runner.table.read(spark).orderBy("conv_id", "turn_idx")
           .limit(1).collect()[0])
    key_pred = (f"conv_id = '{row['conv_id']}' "
                f"AND turn_idx = {row['turn_idx']}")
    runner.update_where(key_pred, {"text": "'qqoldtoken'"})
    idx.refresh(spark, runner.table)

    before = idx.shard_layers()
    runner.update_where(key_pred, {"text": "'qqfreshtoken'"})
    res = idx.refresh(spark, runner.table)
    assert res["mode"] == "incremental"
    # window vocabulary = {qqoldtoken, qqfreshtoken} -> at most 2 shards
    # receive a delta layer, regardless of index size
    assert 0 < res["shards_delta"] <= 2
    after = idx.shard_layers()
    expected_delta = {shard_of("qqoldtoken", 16), shard_of("qqfreshtoken", 16)}
    for s in range(16):
        b, a = before.get(s, []), after.get(s, [])
        # append-only: every pre-existing layer survives in place
        assert a[:len(b)] == b, s
        if len(a) > len(b):
            assert s in expected_delta
    # content still exactly the from-scratch build; retraction served
    assert _indexed(spark, idx) == _scratch(spark, runner.table, 16)
    hits = idx.lookup(spark, ["qqfreshtoken"]).collect()
    assert [(h["conv_id"], h["turn_idx"], h["tf"]) for h in hits] == [
        (row["conv_id"], row["turn_idx"], 1)]
    assert idx.lookup(spark, ["qqoldtoken"]).count() == 0


def test_layer_counts_bounded_by_targeted_folds(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run(max_batches=1)
    idx = TokenIndex(str(tmp_path / "idx"), n_shards=8, compact_at=2)
    idx.refresh(spark, runner.table)
    folds = 0
    while True:
        res = runner.run(max_batches=1)
        if not res.batches_applied:
            break
        r = idx.refresh(spark, runner.table)
        folds += r.get("shards_folded", 0)
    runner.delete_where("turn_idx % 3 = 1")
    r = idx.refresh(spark, runner.table)
    folds += r.get("shards_folded", 0)
    # folds actually fired and the bound holds everywhere
    assert folds > 0
    assert all(len(lays) <= 2 + 1 for lays in idx.shard_layers().values())
    # a folded shard is a single base layer and resolves shuffle-free
    assert any(len(lays) == 1 and lays[0]["base"]
               for lays in idx.shard_layers().values())
    assert _indexed(spark, idx) == _scratch(spark, runner.table, 8)


def test_refresh_writes_one_file_per_shard_per_layer(spark, tmp_path):
    """Bootstrap, delta and fold layers alike: the layer write's exchange
    is sized by AQE, and each shard lands in exactly one file."""
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run(max_batches=1)
    idx = TokenIndex(str(tmp_path / "idx"), n_shards=8, compact_at=2)
    modes, folds = [], 0
    for _ in range(3):
        res = idx.refresh(spark, runner.table)
        modes.append(res["mode"])
        folds += res.get("shards_folded", 0)
        for lays in idx.shard_layers().values():
            for lay in lays:
                files = [f for f in os.listdir(os.path.join(idx.root, lay["p"]))
                         if f.endswith(".parquet")]
                assert len(files) == 1, (lay, files)
        runner.run(max_batches=1)
    assert modes == ["bootstrap", "incremental", "incremental"]
    assert folds > 0


def test_lookup_prunes_to_term_shards(spark, built, monkeypatch):
    runner, idx = built
    token = idx.read(spark).orderBy(F.desc("tf"), "token").limit(1) \
        .collect()[0]["token"]
    shard = shard_of(token, 16)
    # the Spark route (a shard set over LOCAL_MAX_BYTES) plans its scan
    # over the term's shard dirs only; tests/test_read_router.py pins the
    # same pruning on the driver-local route
    with monkeypatch.context() as m:
        m.setattr(table_mod, "LOCAL_MAX_BYTES", -1)
        files = idx.lookup(spark, [token]).inputFiles()
    assert files, "lookup scanned no files"
    assert all(f"shard={shard}" in f for f in files)
    got = idx.lookup(spark, [token])
    expect = sorted(
        (r["conv_id"], r["turn_idx"], r["tf"])
        for r in idx.read(spark).filter(F.col("token") == token).collect())
    assert sorted((r["conv_id"], r["turn_idx"], r["tf"])
                  for r in got.collect()) == expect


def test_unservable_window_falls_back_to_rebuild(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run(max_batches=2)
    idx = TokenIndex(str(tmp_path / "idx"), n_shards=16)
    idx.refresh(spark, runner.table)
    runner.run()
    # a major compaction folds delta layers INTO THE BASE — the feed
    # cannot prove the layer drop is replay-equivalent, so the window
    # raises and the index rebuilds at the target snapshot
    compact(spark, runner.table)
    res = idx.refresh(spark, runner.table)
    assert res["mode"] == "rebuild"
    assert _indexed(spark, idx) == _scratch(spark, runner.table, 16)


def test_crash_replay_converges_and_orphans_collected(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run(max_batches=2)
    idx = TokenIndex(str(tmp_path / "idx"), n_shards=16)
    idx.refresh(spark, runner.table)
    runner.run()

    # simulate a crash AFTER the delta write but BEFORE the pointer flip:
    # the written container is an unreferenced orphan; the previous
    # version still serves, and the replayed refresh converges
    imgs = runner.table.read_changes_with_images(
        spark, idx.cursor(), columns=["text"])
    posts = postings_of(imgs, 16).withColumn(
        "seq", F.lit(1).cast("long"))
    orphan = idx._write_layer(posts)
    assert orphan  # something was written, nothing referenced
    before = _indexed(spark, idx)
    assert before == _indexed(spark, idx)  # previous version intact

    res = idx.refresh(spark, runner.table)
    assert res["mode"] == "incremental"
    assert _indexed(spark, idx) == _scratch(spark, runner.table, 16)
    # the orphan container was garbage-collected by the flip
    live = {lay["p"] for lays in idx.shard_layers().values()
            for lay in lays}
    for rel in orphan.values():
        assert rel not in live
        assert not os.path.exists(os.path.join(idx.root, rel))
