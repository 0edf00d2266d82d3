"""CDF-style change feed with row images — CowTable.read_changes_with_images.

Delta CDF's consumer contract (insert / update_preimage / update_postimage /
delete with the OLD row's payload) on top of the engine's O(changes) MOR
feed: the after-side is the raw feed reduced to net per-key winners, the
before-side reads only the buckets whose delta-dir sets changed (driver-side
manifest comparison). Downstream retractable state (incremental aggregates,
indexes) needs exactly these images; the raw feed's tombstones carry nulls.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.merge import compact, mor_apply_batch
from biomedica_etl_spark.cdc.runner import CdcRunner

PAYLOAD = ("role", "text", "tool", "ts")


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ci") / "log")
    generate_change_log(
        d,
        GeneratorConfig(n_events=4_000, batch_size=1_000, n_convs=50,
                        zipf_a=1.2, duplicate_frac=0.02, out_of_order=True),
    )
    return d


def _raw_state(spark, table, snapshot_id):
    """(key -> raw winner incl tombstone flag + lsn) at a snapshot."""
    return {(r["conv_id"], r["turn_idx"]): r.asDict()
            for r in table.read_raw(spark, snapshot_id=snapshot_id).collect()}


def _expected_images(a, b):
    """Brute-force image set from two resolved raw states (lsn-based change
    detection, same rule as diff: new winner lsn > old winner lsn)."""
    exp = []
    for k in set(b):
        old, new = a.get(k), b[k]
        if old is not None and not (new["_lsn"] > old["_lsn"]):
            continue  # winner unchanged (or re-delivered duplicate)
        old_live = old is not None and not old["_deleted"]
        new_live = not new["_deleted"]
        if old_live and new_live:
            exp.append((k, "update_preimage",
                        tuple(old[c] for c in PAYLOAD), new["_lsn"]))
            exp.append((k, "update_postimage",
                        tuple(new[c] for c in PAYLOAD), new["_lsn"]))
        elif old_live and not new_live:
            exp.append((k, "delete",
                        tuple(old[c] for c in PAYLOAD), new["_lsn"]))
        elif not old_live and new_live:
            exp.append((k, "insert",
                        tuple(new[c] for c in PAYLOAD), new["_lsn"]))
    exp.sort()
    return exp


def _actual_images(rows):
    got = [((r["conv_id"], r["turn_idx"]), r["_change_type"],
            tuple(r[c] for c in PAYLOAD), r["_lsn"]) for r in rows]
    got.sort()
    return got


def test_images_match_bruteforce_twin(spark, log_dir, tmp_path):
    runner = CdcRunner(spark, log_dir, str(tmp_path / "t"), n_buckets=8)
    runner.run(max_batches=2)
    snap_a = runner.table.current_snapshot()["snapshot_id"]
    state_a = _raw_state(spark, runner.table, snap_a)
    runner.run()
    state_b = _raw_state(spark, runner.table, None)

    imgs = runner.table.read_changes_with_images(spark, snap_a).collect()
    expected = _expected_images(state_a, state_b)
    assert _actual_images(imgs) == expected
    # every change type must occur for this test to bite
    kinds = {r["_change_type"] for r in imgs}
    assert kinds == {"insert", "update_preimage", "update_postimage", "delete"}


def test_images_survive_minor_folds(spark, log_dir, tmp_path):
    """The raw feed serves minor folds as LWW-equivalent change sets; the
    image feed must therefore be identical with folds landing inside the
    window (intermediate versions compress away — net winners unchanged)."""
    plain = CdcRunner(spark, log_dir, str(tmp_path / "p"), n_buckets=8)
    folded = CdcRunner(spark, log_dir, str(tmp_path / "f"), n_buckets=8,
                       compact_mode="minor", compact_every=2)
    for r in (plain, folded):
        r.run(max_batches=2)
    a_p = plain.table.current_snapshot()["snapshot_id"]
    a_f = folded.table.current_snapshot()["snapshot_id"]
    for r in (plain, folded):
        r.run()
    imgs_p = _actual_images(
        plain.table.read_changes_with_images(spark, a_p).collect())
    imgs_f = _actual_images(
        folded.table.read_changes_with_images(spark, a_f).collect())
    assert imgs_p == imgs_f
    assert imgs_p


def test_images_consumer_reproduces_state(spark, log_dir, tmp_path):
    """The consumer contract: applying the images to the FROM state
    (upsert postimage/insert payloads, drop delete keys, ignore preimages)
    reproduces the TO state exactly."""
    runner = CdcRunner(spark, log_dir, str(tmp_path / "t"), n_buckets=8)
    runner.run(max_batches=2)
    snap_a = runner.table.current_snapshot()["snapshot_id"]
    state = {(r["conv_id"], r["turn_idx"]): tuple(r[c] for c in PAYLOAD)
             for r in runner.table.read(spark, snapshot_id=snap_a).collect()}
    runner.run()
    for r in runner.table.read_changes_with_images(spark, snap_a).collect():
        k = (r["conv_id"], r["turn_idx"])
        if r["_change_type"] in ("insert", "update_postimage"):
            state[k] = tuple(r[c] for c in PAYLOAD)
        elif r["_change_type"] == "delete":
            del state[k]
    target = {(r["conv_id"], r["turn_idx"]): tuple(r[c] for c in PAYLOAD)
              for r in runner.table.read(spark).collect()}
    assert state == target


def _one_row_batch(spark, lsn, op, conv, turn, text):
    return spark.createDataFrame(
        [(lsn, op, conv, turn, "user", text, None, None)],
        "lsn long, op string, conv_id string, turn_idx long, role string, "
        "text string, tool string, ts timestamp")


def test_images_lww_edges(spark, log_dir, tmp_path):
    """Straggler-loses, insert-then-delete-elides, and tombstone-
    resurrection-is-insert — the net-semantics corners."""
    runner = CdcRunner(spark, log_dir, str(tmp_path / "t"), n_buckets=8)
    runner.run()
    table = runner.table
    live = table.read(spark).orderBy("conv_id", "turn_idx").limit(1).collect()
    vc, vt = live[0]["conv_id"], live[0]["turn_idx"]
    hi = max(s["lsn_hi"] for s in table.snapshots()
             if s.get("lsn_hi") is not None)

    # delete a key so the window below starts from a tombstone
    mor_apply_batch(spark, table, _one_row_batch(
        spark, hi + 1, "D", vc, vt, None), batch_id=9_200_001)
    snap_a = table.current_snapshot()["snapshot_id"]

    # 1) straggler: lower LSN than the tombstone -> loses, no image
    mor_apply_batch(spark, table, _one_row_batch(
        spark, hi, "U", vc, vt, "straggler"), batch_id=9_200_002)
    assert table.read_changes_with_images(spark, snap_a).count() == 0

    # 2) resurrection: higher LSN over the FROM-side tombstone -> insert
    mor_apply_batch(spark, table, _one_row_batch(
        spark, hi + 2, "U", vc, vt, "back"), batch_id=9_200_003)
    imgs = table.read_changes_with_images(spark, snap_a).collect()
    assert [(r["_change_type"], r["text"]) for r in imgs] == [("insert", "back")]

    # 3) insert-then-delete inside one window -> nothing for that key
    snap_b = table.current_snapshot()["snapshot_id"]
    mor_apply_batch(spark, table, _one_row_batch(
        spark, hi + 3, "I", "conv-img-new", 0, "ephemeral"),
        batch_id=9_200_004)
    mor_apply_batch(spark, table, _one_row_batch(
        spark, hi + 4, "D", "conv-img-new", 0, None), batch_id=9_200_005)
    keys = {(r["conv_id"], r["turn_idx"]) for r in
            table.read_changes_with_images(spark, snap_b).collect()}
    assert ("conv-img-new", 0) not in keys


def test_images_bounded_window_and_rewrite_contract(spark, log_dir, tmp_path):
    """to_snapshot bounds the window (later commits invisible); a major
    compaction inside the window raises the feed's resync contract."""
    runner = CdcRunner(spark, log_dir, str(tmp_path / "t"), n_buckets=8)
    runner.run(max_batches=1)
    snap_a = runner.table.current_snapshot()["snapshot_id"]
    runner.run(max_batches=1)
    snap_b = runner.table.current_snapshot()["snapshot_id"]
    state_a = _raw_state(spark, runner.table, snap_a)
    state_b = _raw_state(spark, runner.table, snap_b)
    runner.run()  # commits after the bounded window
    bounded = runner.table.read_changes_with_images(
        spark, snap_a, to_snapshot=snap_b).collect()
    assert _actual_images(bounded) == _expected_images(state_a, state_b)

    compact(spark, runner.table)
    with pytest.raises(ValueError, match="resync"):
        runner.table.read_changes_with_images(spark, snap_a).collect()


def test_images_prune_to_touched_buckets(spark, log_dir, tmp_path):
    """A single-key change window reads pre-images from ONE bucket only —
    the driver-side manifest comparison hands read_raw exactly the bucket
    the changed key hashes into, never the whole table."""
    from unittest import mock

    from biomedica_etl_spark.cdc.table import CowTable
    from biomedica_etl_spark.cdc.xxhash import bucket_of

    runner = CdcRunner(spark, log_dir, str(tmp_path / "t"), n_buckets=8)
    runner.run()
    table = runner.table
    live = table.read(spark).orderBy("conv_id", "turn_idx").limit(1).collect()
    vc, vt = live[0]["conv_id"], live[0]["turn_idx"]
    hi = max(s["lsn_hi"] for s in table.snapshots()
             if s.get("lsn_hi") is not None)
    snap_a = table.current_snapshot()["snapshot_id"]
    mor_apply_batch(spark, table, _one_row_batch(
        spark, hi + 1, "U", vc, vt, "touched"), batch_id=9_200_006)

    seen = {}
    orig = CowTable.read_raw

    def spy(self, spark_, buckets=None, snapshot_id=None, columns=None):
        seen["buckets"] = buckets
        return orig(self, spark_, buckets, snapshot_id, columns=columns)

    with mock.patch.object(CowTable, "read_raw", spy):
        imgs = table.read_changes_with_images(spark, snap_a).collect()
    assert seen["buckets"] == [bucket_of(vc, 8)]
    assert [(r["_change_type"], r["text"]) for r in imgs] == [
        ("update_preimage", live[0]["text"]), ("update_postimage", "touched")]
