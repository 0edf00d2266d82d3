"""Multi-table atomic commit — cdc.txn.TransactionCoordinator.

All-or-nothing: before the commit point (the txn record's atomic
rename) a refused/aborted transaction publishes nothing anywhere; after
it, recover() rolls every participant forward from ANY crash position.
Replays are structural no-ops; consistent_view pins a cross-table read
that later commits cannot shear; single-writer violations are detected
before the commit point and refused, after it raised loudly.
"""

from __future__ import annotations

import os

import pytest

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.oracle import replay
from biomedica_etl_spark.cdc.runner import CdcRunner
from biomedica_etl_spark.cdc.txn import TransactionCoordinator

CFG_A = GeneratorConfig(seed=42, n_events=3_000, batch_size=750, n_convs=40,
                        zipf_a=1.2, duplicate_frac=0.02, out_of_order=True)
CFG_B = GeneratorConfig(seed=7, n_events=2_000, batch_size=500, n_convs=40)


@pytest.fixture()
def pair(spark, tmp_path):
    la, lb = str(tmp_path / "la"), str(tmp_path / "lb")
    generate_change_log(la, CFG_A)
    generate_change_log(lb, CFG_B)
    # two layouts: A keeps its layers, B folds into the base after every
    # commit (read-optimized)
    ra = CdcRunner(spark, la, str(tmp_path / "ta"), n_buckets=8)
    rb = CdcRunner(spark, lb, str(tmp_path / "tb"), n_buckets=8,
                   compact_every=1)
    ra.run(max_batches=3)
    rb.run(max_batches=3)
    co = TransactionCoordinator(str(tmp_path / "txns"))
    return ra, rb, co, la, lb


def _state(r):
    return [x.asDict() for x in r.final_state().collect()]


def test_commit_all_both_modes_match_oracle(spark, pair):
    ra, rb, co, la, lb = pair
    assert ra.stage_next_batch() is not None
    assert rb.stage_next_batch() is not None
    # staged batches are invisible everywhere
    pre_a, pre_b = _state(ra), _state(rb)
    assert pre_a != replay(la) and pre_b != replay(lb)
    res = co.commit_all([ra.table, rb.table], "t1")
    assert res["state"] == "done" and len(res["published"]) == 2
    assert _state(ra) == replay(la)
    assert _state(rb) == replay(lb)
    # replay is a structural no-op
    n_a = len(ra.table.snapshots())
    r2 = co.commit_all([ra.table, rb.table], "t1")
    assert r2["replayed"] and not r2["published"]
    assert len(ra.table.snapshots()) == n_a
    # deferred lineage backfills: the staged batch is repaired, and a
    # second reconcile finds nothing left to do
    rep = ra.reconcile_lineage()
    assert set(rep["missing"]) == set(rep["repaired_exact"]
                                      + rep["repaired_summary"]) != set()
    assert ra.reconcile_lineage()["missing"] == []
    rep_b = rb.reconcile_lineage()
    assert set(rep_b["missing"]) == set(rep_b["repaired_exact"]
                                        + rep_b["repaired_summary"]) != set()
    assert rb.reconcile_lineage()["missing"] == []


def test_refused_transaction_publishes_nothing(spark, pair):
    ra, rb, co, la, lb = pair
    assert ra.stage_next_batch() is not None  # B stages nothing
    pre_a, pre_b = _state(ra), _state(rb)
    with pytest.raises(ValueError, match="no live staged snapshot"):
        co.commit_all([ra.table, rb.table], "t2")
    assert _state(ra) == pre_a and _state(rb) == pre_b
    assert co.transactions() == []  # no record: presumed abort
    # abort cleans A's stage; both logs then replay to the oracle normally
    assert co.abort_all([ra.table, rb.table])["aborted"] == 1
    assert ra.table.staged_snapshot() is None
    ra.run()
    rb.run()
    assert _state(ra) == replay(la) and _state(rb) == replay(lb)


def _committed_record(ra, rb, co, txn_id):
    """Drive the protocol up to (and including) the commit point only."""
    parts = []
    for t in (ra.table, rb.table):
        s = t.staged_snapshot()
        parts.append({"root": os.path.abspath(t.root),
                      "batch_id": s["batch_id"],
                      "snapshot_id": s["snapshot_id"]})
    co._write({"txn_id": txn_id, "state": "committed",
               "participants": parts})


@pytest.mark.parametrize("publish_first", [0, 1, 2])
def test_recover_rolls_forward_from_any_crash_point(spark, pair,
                                                    publish_first):
    """Crash right after the commit point, mid-publish, or after every
    publish but before the done marker — recover() reaches the same
    final state from all three."""
    ra, rb, co, la, lb = pair
    ra.stage_next_batch()
    rb.stage_next_batch()
    _committed_record(ra, rb, co, "t3")
    # simulate the crash position: 0/1/2 participants already published
    if publish_first >= 1:
        ra.table.publish_staged()
    if publish_first >= 2:
        rb.table.publish_staged()
    res = co.recover()
    assert res["rolled_forward"] == ["t3"]
    ra.table.refresh()  # recover() published through its own handles
    rb.table.refresh()
    assert _state(ra) == replay(la)
    assert _state(rb) == replay(lb)
    assert co.transactions()[0]["state"] == "done"
    # recover again: nothing to do
    assert co.recover()["rolled_forward"] == []


def test_single_writer_violation_refused_before_commit_point(spark, pair):
    ra, rb, co, la, lb = pair
    ra.stage_next_batch()
    rb.stage_next_batch()
    # another commit moves A's head: the stage goes stale
    ra.table.refresh()
    ra.delete_where("role = 'system'")
    with pytest.raises(ValueError, match="no live staged snapshot"):
        co.commit_all([ra.table, rb.table], "t4")
    assert co.transactions() == []
    # B's stage is intact and can commit alone in a new transaction
    res = co.commit_all([rb.table], "t5")
    assert len(res["published"]) == 1
    assert _state(rb) == replay(lb)


def test_single_writer_violation_after_commit_point_raises(spark, pair):
    """A poisoned transaction raises — but only AFTER healing every other
    committed transaction (one bad record must not block the rest)."""
    ra, rb, co, la, lb = pair
    # healthy single-participant transaction on B, committed-not-done
    s_b = rb.stage_next_batch()
    co._write({"txn_id": "a-healthy", "state": "committed",
               "participants": [{"root": os.path.abspath(rb.table.root),
                                 "batch_id": s_b["batch_id"],
                                 "snapshot_id": s_b["snapshot_id"]}]})
    # poisoned transaction on A: its stage dies to a later commit
    s_a = ra.stage_next_batch()
    co._write({"txn_id": "z-poisoned", "state": "committed",
               "participants": [{"root": os.path.abspath(ra.table.root),
                                 "batch_id": s_a["batch_id"],
                                 "snapshot_id": s_a["snapshot_id"]}]})
    ra.table.refresh()
    ra.delete_where("role = 'system'")  # kills A's staged snapshot
    with pytest.raises(RuntimeError, match="cannot roll forward"):
        co.recover()
    # the healthy transaction WAS healed before the poisoned one raised
    rb.table.refresh()
    assert _state(rb) == replay(lb)
    recs = {r["txn_id"]: r["state"] for r in co.transactions()}
    assert recs == {"a-healthy": "done", "z-poisoned": "committed"}


def test_consistent_view_survives_later_commits(spark, pair):
    ra, rb, co, la, lb = pair
    ra.stage_next_batch()
    rb.stage_next_batch()
    co.commit_all([ra.table, rb.table], "t7")
    want_a, want_b = _state(ra), _state(rb)
    # churn both tables afterwards
    ra.delete_where("turn_idx % 2 = 0")
    rb.update_where("role = 'tool'", {"text": "concat(text, '!')"})
    view = co.consistent_view("t7")
    got_a = [x.asDict() for x in ra.table.read(
        spark, snapshot_id=view[os.path.abspath(ra.table.root)])
        .orderBy("conv_id", "turn_idx").collect()]
    got_b = [x.asDict() for x in rb.table.read(
        spark, snapshot_id=view[os.path.abspath(rb.table.root)])
        .orderBy("conv_id", "turn_idx").collect()]
    assert got_a == want_a and got_b == want_b
    with pytest.raises(ValueError, match="not done"):
        co.consistent_view("t-missing")
