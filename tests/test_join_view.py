"""Incrementally-maintained materialized join — cdc.view.JoinView.

The view must equal the from-scratch inner join of both tables' live
states after any sequence of ingest + DML on EITHER side (the IVM
correctness bar), append O(changes) delta layers without ever touching
existing layer files (the merge-on-read scale bar), bound per-shard
layer counts through targeted folds, survive crash/replay through the
atomic pointer discipline, and fall back to a rebuild exactly when
either side's feed declares the window unservable.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.merge import compact
from biomedica_etl_spark.cdc.runner import CdcRunner
from biomedica_etl_spark.cdc.view import JoinView

# same conv universe on both sides -> heavy key overlap; different seeds
# -> different winners, updates, deletes on each side
CFG_A = GeneratorConfig(seed=42, n_events=3_000, batch_size=500, n_convs=40,
                        zipf_a=1.2, duplicate_frac=0.02, out_of_order=True)
CFG_B = GeneratorConfig(seed=7, n_events=2_000, batch_size=400, n_convs=40,
                        zipf_a=0.8, duplicate_frac=0.02, out_of_order=True)


def _scratch(spark, a, b):
    """From-scratch inner join of the two live states (the oracle)."""
    left = a.read(spark)
    right = (b.read(spark, columns=["text"])
             .select("conv_id", "turn_idx", F.col("text").alias("note")))
    return sorted(
        tuple(r[c] for c in ("conv_id", "turn_idx", "role", "text",
                             "tool", "ts", "note"))
        for r in left.join(right, ["conv_id", "turn_idx"], "inner").collect())


def _viewed(spark, v):
    return sorted(
        tuple(r[c] for c in ("conv_id", "turn_idx", "role", "text",
                             "tool", "ts", "note"))
        for r in v.read(spark).collect())


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """Both tables partially built + a bootstrapped view."""
    tmp = tmp_path_factory.mktemp("joinview")
    log_a, log_b = str(tmp / "la"), str(tmp / "lb")
    generate_change_log(log_a, CFG_A)
    generate_change_log(log_b, CFG_B)
    ra = CdcRunner(spark, log_a, str(tmp / "ta"), n_buckets=8)
    rb = CdcRunner(spark, log_b, str(tmp / "tb"), n_buckets=8)
    ra.run(max_batches=3)
    rb.run(max_batches=2)
    v = JoinView(str(tmp / "v"), n_shards=8)
    res = v.refresh(spark, ra.table, rb.table)
    assert res["mode"] == "bootstrap"
    assert _viewed(spark, v) == _scratch(spark, ra.table, rb.table)
    return ra, rb, v


def test_incremental_across_ingest_and_dml_on_both_sides(spark, built):
    ra, rb, v = built
    # ingest on A only (B side answered by pinned point lookups)
    ra.run(max_batches=4)
    res = v.refresh(spark, ra.table, rb.table)
    assert res["mode"] == "incremental"
    assert _viewed(spark, v) == _scratch(spark, ra.table, rb.table)

    # ingest on both + DML on each side: a delete on A kills the joined
    # row, an update on B rewrites `note`, a delete on B retracts rows
    # whose A side is untouched — all three need the pre-image feeds
    ra.run()
    rb.run()
    ra.delete_where("turn_idx % 6 = 1")
    rb.update_where("role = 'user'", {"text": "concat(text, ' bnote')"})
    rb.delete_where("turn_idx % 9 = 2")
    res = v.refresh(spark, ra.table, rb.table)
    assert res["mode"] == "incremental"
    assert _viewed(spark, v) == _scratch(spark, ra.table, rb.table)

    # idempotent at head
    assert v.refresh(spark, ra.table, rb.table)["refreshed"] is False


def test_reinsert_after_delete_restores_row(spark, built):
    ra, rb, v = built
    v.refresh(spark, ra.table, rb.table)
    key = (ra.table.read(spark, columns=[])
           .join(rb.table.read(spark, columns=[]),
                 ["conv_id", "turn_idx"], "inner")
           .orderBy("conv_id", "turn_idx").first())
    cid, tix = key["conv_id"], key["turn_idx"]
    ra.delete_where(f"conv_id = '{cid}' AND turn_idx = {tix}")
    v.refresh(spark, ra.table, rb.table)
    assert not [r for r in _viewed(spark, v) if r[0] == cid and r[1] == tix]
    # resurrect via a fresh ingest event through the merge path
    from biomedica_etl_spark.cdc.merge import mor_apply_batch
    ev = spark.createDataFrame(
        [(cid, int(tix), "user", "back again", None, None, "U", 10**15)],
        "conv_id string, turn_idx long, role string, text string, "
        "tool string, ts timestamp, op string, lsn long")
    mor_apply_batch(spark, ra.table, ev, batch_id=990_001, pre_reduced=True)
    res = v.refresh(spark, ra.table, rb.table)
    assert res["mode"] == "incremental"
    assert _viewed(spark, v) == _scratch(spark, ra.table, rb.table)
    assert [r for r in _viewed(spark, v) if r[0] == cid and r[1] == tix
            and r[3] == "back again"]


def test_refresh_appends_deltas_never_touches_existing_layers(spark, tmp_path):
    log_a, log_b = str(tmp_path / "la"), str(tmp_path / "lb")
    generate_change_log(log_a, CFG_A)
    generate_change_log(log_b, CFG_B)
    ra = CdcRunner(spark, log_a, str(tmp_path / "ta"), n_buckets=8)
    rb = CdcRunner(spark, log_b, str(tmp_path / "tb"), n_buckets=8)
    ra.run(max_batches=2)
    rb.run(max_batches=2)
    v = JoinView(str(tmp_path / "v"), n_shards=8)
    v.refresh(spark, ra.table, rb.table)
    before = {s: [lay["p"] for lay in lays]
              for s, lays in v.shard_layers().items()}
    mtimes = {}
    for lays in before.values():
        for p in lays:
            d = os.path.join(v.root, p)
            for f in os.listdir(d):
                fp = os.path.join(d, f)
                mtimes[fp] = os.stat(fp).st_mtime_ns

    ra.run(max_batches=3)
    res = v.refresh(spark, ra.table, rb.table)
    assert res["mode"] == "incremental"
    after = v.shard_layers()
    for s, lays in before.items():
        assert [lay["p"] for lay in after[s]][: len(lays)] == lays, \
            "existing layers must be carried forward by reference"
    for fp, m in mtimes.items():
        assert os.stat(fp).st_mtime_ns == m, f"existing layer touched: {fp}"
    assert _viewed(spark, v) == _scratch(spark, ra.table, rb.table)


def test_fold_bounds_layer_counts(spark, tmp_path):
    log_a, log_b = str(tmp_path / "la"), str(tmp_path / "lb")
    generate_change_log(log_a, CFG_A)
    generate_change_log(log_b, CFG_B)
    ra = CdcRunner(spark, log_a, str(tmp_path / "ta"), n_buckets=8)
    rb = CdcRunner(spark, log_b, str(tmp_path / "tb"), n_buckets=8)
    ra.run(max_batches=1)
    rb.run()
    v = JoinView(str(tmp_path / "v"), n_shards=4, compact_at=2)
    v.refresh(spark, ra.table, rb.table)
    for k in range(2, 7):
        ra.run(max_batches=k)
        v.refresh(spark, ra.table, rb.table)
        assert max(len(lays) for lays in v.shard_layers().values()) <= 3
    assert _viewed(spark, v) == _scratch(spark, ra.table, rb.table)


def test_crash_before_flip_replay_converges(spark, tmp_path, monkeypatch):
    log_a, log_b = str(tmp_path / "la"), str(tmp_path / "lb")
    generate_change_log(log_a, CFG_A)
    generate_change_log(log_b, CFG_B)
    ra = CdcRunner(spark, log_a, str(tmp_path / "ta"), n_buckets=8)
    rb = CdcRunner(spark, log_b, str(tmp_path / "tb"), n_buckets=8)
    ra.run(max_batches=2)
    rb.run(max_batches=2)
    v = JoinView(str(tmp_path / "v"), n_shards=8)
    v.refresh(spark, ra.table, rb.table)
    ptr_before = v._pointer()
    ra.run()

    # crash: the layer write lands, the pointer flip does not
    boom = RuntimeError("crash before flip")
    orig_flip = JoinView._flip

    def _dying(self, *a, **kw):
        raise boom

    monkeypatch.setattr(JoinView, "_flip", _dying)
    with pytest.raises(RuntimeError, match="crash before flip"):
        v.refresh(spark, ra.table, rb.table)
    monkeypatch.setattr(JoinView, "_flip", orig_flip)
    assert v._pointer() == ptr_before, "crash must leave the old version"

    # replay converges; the orphan layer container is collected by the flip
    res = v.refresh(spark, ra.table, rb.table)
    assert res["mode"] == "incremental"
    assert _viewed(spark, v) == _scratch(spark, ra.table, rb.table)
    referenced = {lay["p"].split("/")[0]
                  for lays in v.shard_layers().values() for lay in lays}
    on_disk = {e for e in os.listdir(v.root) if e.startswith("d-")}
    orphan_shards = [
        sub for e in on_disk - referenced
        for sub in os.listdir(os.path.join(v.root, e))
        if sub.startswith("shard=")]
    assert orphan_shards == [], "orphan layer dirs must be collected"


def test_rebuild_fallback_on_unservable_window(spark, tmp_path):
    log_a, log_b = str(tmp_path / "la"), str(tmp_path / "lb")
    generate_change_log(log_a, CFG_A)
    generate_change_log(log_b, CFG_B)
    ra = CdcRunner(spark, log_a, str(tmp_path / "ta"), n_buckets=8,
                   compact_every=1)
    rb = CdcRunner(spark, log_b, str(tmp_path / "tb"), n_buckets=8)
    ra.run(max_batches=2)
    rb.run(max_batches=2)
    v = JoinView(str(tmp_path / "v"), n_shards=8)
    v.refresh(spark, ra.table, rb.table)
    # a major-fold window on A is not feed-serveable -> rebuild
    ra.run(max_batches=3)
    res = v.refresh(spark, ra.table, rb.table)
    assert res["mode"] == "rebuild"
    assert _viewed(spark, v) == _scratch(spark, ra.table, rb.table)
    # MOR ingest on B afterwards is serveable again
    rb.run(max_batches=3)
    res = v.refresh(spark, ra.table, rb.table)
    assert res["mode"] == "incremental"
    assert _viewed(spark, v) == _scratch(spark, ra.table, rb.table)
