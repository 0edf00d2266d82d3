"""Write-audit-publish (Iceberg WAP): each batch commits to a STAGED side
manifest invisible to readers and fencing; an audit gate validates the
staged view and either publishes (fencing engages then) or aborts (the
batch stays pending and replays after remediation).

Reference analogue: the reference validates each downloaded/parsed batch
before promoting it (row-count + content checks,
``src/pmc_oa/download_batch.py:246-276``; error rows diverted instead of
batch abort, ``src/pmc_oa/download_batch.py:123-139``) — here the gate is
a first-class commit-protocol step with exactly-once semantics.
"""

from __future__ import annotations

import os

import pytest

from biomedica_etl_spark.cdc.generator import SCENARIOS, generate_change_log
from biomedica_etl_spark.cdc.oracle import FINAL_COLS, _read_all_events
from biomedica_etl_spark.cdc.runner import CdcRunner
from biomedica_etl_spark.cdc.table import CowTable

from tests.conftest import LAYOUTS


def _state(spark, table, snapshot_id=None):
    return [
        r.asDict()
        for r in table.read(spark, snapshot_id=snapshot_id)
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]


def _replay_excluding(log_dir, skip_batches=()):
    """Oracle replay with some batches withheld (same LWW semantics)."""
    events = [e for e in _read_all_events(log_dir)
              if e["batch_id"] not in set(skip_batches)]
    events.sort(key=lambda e: e["lsn"])
    state = {}
    for e in events:
        if (e["op"] not in ("I", "U", "D") or e["turn_idx"] < 0
                or e["conv_id"] is None or e["lsn"] is None):
            continue
        key = (e["conv_id"], e["turn_idx"])
        if e["op"] == "D":
            state.pop(key, None)
        else:
            state[key] = {c: e[c] for c in FINAL_COLS}
    return [state[k] for k in sorted(state)]


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_audit_pass_publishes_and_matches_oracle(spark, tmp_path, layout):
    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    seen = []

    def audit(s, table):
        staged = table.staged_snapshot()
        seen.append(staged["batch_id"])
        # the audit sees the staged VIEW; a trivial sanity gate
        return table.read(s, snapshot_id="staged").count() >= 0

    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                       audit=audit, **LAYOUTS[layout])
    res = runner.run()
    assert res.batches_rejected == []
    assert seen == res.batches_applied
    assert _state(spark, runner.table) == _replay_excluding(log)
    # published snapshots carry the WAP marker; nothing left staged
    assert runner.table.staged_snapshot() is None
    assert all(s["summary"].get("wap_published")
               for s in runner.table.snapshots()
               if s["batch_id"] is not None)


def test_staged_invisible_until_publish(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    observed = {}

    def audit(s, table):
        bid = table.staged_snapshot()["batch_id"]
        # readers see the PRE-batch state while staged; the staged view
        # resolves the post-batch state
        observed[bid] = (len(_state(s, table)),
                         len(_state(s, table, snapshot_id="staged")),
                         table.current_snapshot()["snapshot_id"],
                         table.staged_snapshot()["snapshot_id"])
        return True

    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                       audit=audit)
    runner.run()
    pre_rows = None
    for bid in sorted(observed):
        live, staged_rows, head, staged_id = observed[bid]
        assert staged_id == head + 1
        if pre_rows is not None:
            assert live == pre_rows
        pre_rows = staged_rows
    # snapshot ids stay DENSE: publish reuses the staged id
    snaps = runner.table.snapshots()
    assert [s["snapshot_id"] for s in snaps] == list(range(len(snaps)))


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_audit_reject_aborts_and_batch_replays(spark, tmp_path, layout):
    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])

    def reject_batch_2(s, table):
        bid = table.staged_snapshot()["batch_id"]
        if bid == 2:
            return False, "poisoned upstream extract"
        return True

    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                       audit=reject_batch_2, **LAYOUTS[layout])
    res = runner.run()
    assert res.batches_rejected == [2]
    assert res.reject_reasons == ["poisoned upstream extract"]
    assert 2 not in res.batches_applied
    # rejected batch is NOT committed: state == oracle minus batch 2,
    # nothing staged, and its data dirs were reclaimed
    table = runner.table
    assert table.staged_snapshot() is None
    assert not table.is_committed(2)
    assert _state(spark, table) == _replay_excluding(log, skip_batches=[2])
    assert table.remove_orphaned_files(grace_seconds=0)["dirs_removed"] == 0

    # remediation: rerun with an accepting audit — ONLY batch 2 is pending,
    # and late application under max-LSN LWW converges to the full oracle
    runner2 = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                        audit=lambda s, t: True, **LAYOUTS[layout])
    res2 = runner2.run()
    assert res2.batches_applied == [2]
    assert _state(spark, runner2.table) == _replay_excluding(log)


def test_max_batches_counts_a_rejected_batch(spark, tmp_path):
    """``run(max_batches=k)`` takes the first k pending batches, so a batch
    the audit rejects uses up its slot: the loop does not move on to the
    next batch in its place. The rejected batch stays pending, and a
    follow-up run applies the rest."""
    from biomedica_etl_spark.cdc.generator import GeneratorConfig
    from biomedica_etl_spark.cdc.oracle import replay

    log = str(tmp_path / "log")
    generate_change_log(log, GeneratorConfig(
        n_events=1_500, batch_size=500, n_convs=30))

    def reject_batch_1(s, table):
        return table.staged_snapshot()["batch_id"] != 1

    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=4,
                       audit=reject_batch_1)
    res = runner.run(max_batches=2)
    assert res.batches_rejected == [1]
    assert res.batches_applied == [0]
    assert runner.pending() == [1, 2]
    assert runner.table.staged_snapshot() is None

    again = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=4,
                      audit=lambda s, t: True)
    res = again.run()
    assert res.batches_applied == [1, 2] and res.batches_rejected == []
    assert _state(spark, again.table) == replay(log)


def test_staged_crash_is_replayable_and_stale_staged_ignored(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])

    class Boom(Exception):
        pass

    calls = []

    def crash_on_first(s, table):
        calls.append(table.staged_snapshot()["batch_id"])
        raise Boom()  # process dies between stage and publish

    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                       audit=crash_on_first)
    with pytest.raises(Boom):
        runner.run()
    # the staged-but-never-published batch is still pending in a COLD
    # process, and the leftover staged file is a live one for batch 0
    cold = CowTable(str(tmp_path / "t"))
    assert not cold.is_committed(calls[0])
    assert cold.staged_snapshot()["batch_id"] == calls[0]

    # replaying overwrites the stale stage (same batch) and proceeds
    runner2 = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                        audit=lambda s, t: True)
    res2 = runner2.run()
    assert calls[0] in res2.batches_applied
    assert _state(spark, runner2.table) == _replay_excluding(log)
    # abandoned first-attempt dirs are orphans; GC reclaims them and the
    # table still reads identically
    runner2.table.remove_orphaned_files(grace_seconds=0)
    assert _state(spark, runner2.table) == _replay_excluding(log)


def test_table_level_wap_guards(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run()
    table = runner.table

    # nothing staged: publish is a no-op, abort reports nothing
    assert table.publish_staged() is None
    assert table.abort_staged() == {"aborted": False, "dirs_removed": 0}
    with pytest.raises(ValueError):
        table.read(spark, snapshot_id="staged")

    # two concurrent staged batches are refused
    table.commit_delta(101, {}, None, None, {}, staged=True)
    with pytest.raises(RuntimeError):
        table.commit_delta(102, {}, None, None, {}, staged=True)
    table.abort_staged()

    # audit + pipelining is refused up front
    with pytest.raises(ValueError):
        CdcRunner(spark, log, str(tmp_path / "t2"),
                  pipeline_depth=2, audit=lambda s, t: True)
