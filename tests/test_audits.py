"""Prebuilt WAP audit gates: metadata-only quarantine/delete-rate gates,
the staged-view row-count floor, and ``all_of`` composition semantics."""

from __future__ import annotations

import pytest

from biomedica_etl_spark.cdc.audits import (
    all_of,
    max_delete_fraction,
    max_quarantine_rate,
    min_live_rows,
)
from biomedica_etl_spark.cdc.generator import (
    SCENARIOS,
    GeneratorConfig,
    generate_change_log,
)
from biomedica_etl_spark.cdc.oracle import _read_all_events
from biomedica_etl_spark.cdc.runner import CdcRunner

from tests.test_wap import _replay_excluding, _state


def test_quarantine_gate_rejects_dirty_batches(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, GeneratorConfig(
        n_events=20_000, batch_size=5_000, corrupt_frac=0.1))
    # which batches actually contain corrupt events (oracle-side)
    dirty = sorted({
        e["batch_id"] for e in _read_all_events(log)
        if (e["op"] not in ("I", "U", "D") or e["turn_idx"] < 0
            or e["conv_id"] is None or e["lsn"] is None)
    })
    assert dirty, "scenario should corrupt at least one batch"

    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                       audit=max_quarantine_rate(0.0))
    res = runner.run()
    assert res.batches_rejected == dirty
    assert all("quarantine rate" in r for r in res.reject_reasons)
    assert _state(spark, runner.table) == _replay_excluding(
        log, skip_batches=dirty)

    # a permissive threshold publishes everything on replay
    runner2 = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                        audit=max_quarantine_rate(1.0))
    res2 = runner2.run()
    assert res2.batches_rejected == []
    assert sorted(res2.batches_applied) == dirty
    assert _state(spark, runner2.table) == _replay_excluding(log)


def test_composition_and_floor_gates(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    calls = []

    def spy(name, inner):
        def gate(s, t):
            calls.append(name)
            return inner(s, t)
        return gate

    # floor impossible to meet -> every batch rejected with the floor's
    # reason; the cheap metadata gate ran first each time (all_of order)
    audit = all_of(
        spy("meta", max_delete_fraction(1.0)),
        spy("floor", min_live_rows(10**9)),
    )
    res = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                    audit=audit).run()
    assert res.batches_applied == []
    assert len(res.batches_rejected) > 0
    assert all("live rows" in r for r in res.reject_reasons)
    assert calls[:2] == ["meta", "floor"]
    assert _state(spark, CdcRunner(
        spark, log, str(tmp_path / "t"), n_buckets=8).table) == []

    # delete-storm guard: a zero-tolerance delete gate names the fraction
    res2 = CdcRunner(spark, log, str(tmp_path / "t2"), n_buckets=8,
                     audit=max_delete_fraction(0.0)).run()
    assert res2.batches_rejected, "mix scenario has deletes in every batch"
    assert all("delete fraction" in r for r in res2.reject_reasons)

    # first-failure-wins: once the meta gate fails, the floor never runs
    calls.clear()
    audit3 = all_of(spy("meta", max_delete_fraction(0.0)),
                    spy("floor", min_live_rows(0)))
    res3 = CdcRunner(spark, log, str(tmp_path / "t3"), n_buckets=8,
                     audit=audit3).run()
    if res3.batches_rejected:
        assert calls == ["meta"] * len(calls)
