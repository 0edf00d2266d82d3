"""Serializable predicate DML under concurrent ingest.

The isolation claim: a DML (delete_where / update_where) whose read and
commit straddle a concurrent ingest commit must NOT commit its stale
plan — the CAS parent check raises ConcurrentCommitError and the
runner's retry re-runs the WHOLE DML closure (fresh read, fresh plan),
so the DML always applies to the state it commits against. This is
Iceberg's serializable row-level-operation semantics, reached through
CAS + full-replan rather than conflict-file validation; the write-skew
anomaly (snapshot-isolation engines commit a delete that misses rows a
concurrent writer just inserted) is impossible by construction.

The race is forced deterministically: the first commit_delta on the DML
table handle first lets a SECOND writer commit a matching row, then
proceeds — the CAS sees the moved head and raises.
"""

from __future__ import annotations

import datetime

import pytest

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.oracle import replay
from biomedica_etl_spark.cdc.runner import CdcRunner
from biomedica_etl_spark.cdc.table import CowTable


def _mk_events(spark, rows):
    return spark.createDataFrame(
        rows, "lsn long, op string, conv_id string, turn_idx long, "
              "role string, text string, tool string, ts timestamp")


@pytest.fixture()
def built(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, GeneratorConfig(
        n_events=2_000, batch_size=500, n_convs=30, zipf_a=1.0))
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=4,
                       compact_every=1000, commit_retries=3)
    runner.run()
    return runner


def _race_once(spark, runner, interloper_rows, monkeypatch):
    """Arrange for exactly one concurrent commit to land between the next
    DML's read/stage and its snapshot commit."""
    table = runner.table
    real_commit = CowTable.commit_delta
    state = {"fired": False}

    def racing_commit(self, *args, **kwargs):
        if self is table and not state["fired"]:
            state["fired"] = True
            other = CowTable(table.root)  # independent writer handle
            from biomedica_etl_spark.cdc.merge import mor_apply_batch
            mor_apply_batch(spark, other, _mk_events(spark, interloper_rows),
                            batch_id=777_001)
        return real_commit(self, *args, **kwargs)

    monkeypatch.setattr(CowTable, "commit_delta", racing_commit)
    return state


def test_delete_where_replans_over_concurrent_insert(
        spark, built, monkeypatch):
    runner = built
    ts = datetime.datetime(2025, 6, 1)
    # the interloper inserts a BRAND-NEW row that matches the delete
    # predicate, racing the delete's read
    state = _race_once(spark, runner,
                       [(10_000_000, "I", "conv-racer", 0, "system",
                         "sneaky", None, ts)], monkeypatch)
    res = runner.delete_where("role = 'system'", batch_id=9_100_001)
    assert res is not None and state["fired"]
    assert runner.commit_races_retried >= 1

    live = {(r.conv_id, r.turn_idx): r.asDict()
            for r in runner.final_state().collect()}
    # serializable: the racer's matching row is gone too — the retried
    # DML re-read the post-race state
    assert ("conv-racer", 0) not in live
    assert all(r["role"] != "system" for r in live.values())


def test_update_where_replans_over_concurrent_insert(
        spark, built, monkeypatch):
    runner = built
    ts = datetime.datetime(2025, 6, 1)
    state = _race_once(spark, runner,
                       [(10_000_000, "I", "conv-racer", 1, "tool",
                         "payload", None, ts)], monkeypatch)
    res = runner.update_where("role = 'tool'",
                              {"tool": "coalesce(tool, 'filled')"},
                              batch_id=9_100_002)
    assert res is not None and state["fired"]
    assert runner.commit_races_retried >= 1

    live = {(r.conv_id, r.turn_idx): r.asDict()
            for r in runner.final_state().collect()}
    racer = live[("conv-racer", 1)]
    # serializable: the racer's row was seen by the retried read and
    # received the assignment
    assert racer["tool"] == "filled"
    assert all(r["tool"] is not None
               for r in live.values() if r["role"] == "tool")


def test_raced_dml_state_still_equals_oracle_composition(
        spark, built, monkeypatch):
    """After the race + retry, the table equals (replay ∪ interloper)
    minus the predicate's matches — i.e. the single-history answer."""
    runner = built
    ts = datetime.datetime(2025, 6, 1)
    _race_once(spark, runner,
               [(10_000_000, "I", "conv-racer", 2, "system",
                 "x", None, ts)], monkeypatch)
    runner.delete_where("role = 'system'", batch_id=9_100_003)

    expected = {(r["conv_id"], r["turn_idx"]): r for r in replay(runner.log_dir)}
    expected[("conv-racer", 2)] = {
        "conv_id": "conv-racer", "turn_idx": 2, "role": "system",
        "text": "x", "tool": None, "ts": ts}
    expected = {k: v for k, v in expected.items() if v["role"] != "system"}
    live = {(r.conv_id, r.turn_idx): r.asDict()
            for r in runner.final_state().collect()}
    assert live == expected
