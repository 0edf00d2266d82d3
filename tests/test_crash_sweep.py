"""Systematic crash-point sweep over the commit protocol.

The scenario tests (``test_exactly_once``, ``test_wap``) pin individual
crash interleavings; this sweep pins ALL of them: every metadata publish
in a run goes through ``CowTable._atomic_write`` (snapshot manifest,
version hint, staged marker, refs), so killing the process immediately
before the k-th atomic write — for EVERY k in the run — enumerates every
metadata-visible crash state the protocol can leave behind, including the
classic torn interleavings:

- crash before any write (table half-created),
- crash between a snapshot manifest and its version-hint update (the
  stale-hint state: recovery must resolve current from the manifest glob
  and fencing must still see the committed batch),
- crash between a minor-fold's staged merged layer and its
  ``commit_layer_rewrite`` (orphan staged dir must stay invisible),
- crash after a commit but before the next batch (pure resume).

For each crash point the table is re-opened COLD (fresh ``CdcRunner`` —
caches rebuilt from disk, exactly what a restarted driver does), the run
is resumed, and the final state must equal the pure-Python replay oracle
with every batch committed exactly once and a further rerun a no-op.

A process killed before the k-th atomic write leaves on disk exactly
what a clean run had written by then, so the synchronous configs take
every crash state from ONE clean run: the table root is copied before
each of its atomic writes, and each copy is resumed. The pipelined
config stages on pool threads while the driver commits, so a copy taken
at a commit could tear a file mid-write; it crashes a real run at each
write instead.

Reference semantics: resume-by-diff against completed work
(``src/pmc_oa/download_batch.py:246-316``), exists-skip idempotence
(``src/pmc_oa/download.py:44-50``) — here strengthened to "ANY crash
point, not just between work items".
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from unittest import mock

import pytest

from biomedica_etl_spark.cdc import table as table_mod
from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.oracle import replay
from biomedica_etl_spark.cdc.runner import CdcRunner
from biomedica_etl_spark.cdc.table import ConcurrentCommitError, CowTable

CFG = GeneratorConfig(n_events=1_500, batch_size=500, n_convs=30)

# sweep configs: the COW commit chain, and the MOR chain with synchronous
# tiered minor folds (compact_every=2 forces folds mid-run so fold-commit
# crash points are inside the sweep window). Async variants are covered
# by test_async_compact; the sweep stays synchronous so the k-th atomic
# write is a deterministic program point.
CONFIGS = {
    "cow": dict(mode="cow"),
    "mor_minor_tiered": dict(
        mode="mor", compact_mode="minor", compact_every=2,
        fold_tier_bytes=-1,
    ),
    # write-audit-publish: the staged-marker write and the publish commit
    # are separate atomic writes, so the sweep enumerates crashes between
    # stage, audit, and publish too (scenario versions in test_wap)
    "cow_wap": dict(mode="cow", audit=lambda spark, table: True),
    # pipelined staging: wide jobs overlap on pool threads but COMMITS are
    # strictly ordered on the driver thread, so the k-th atomic write is
    # still a deterministic program point; a crash mid-pipeline leaves
    # in-flight staged layers that resume must ignore (no fold commits:
    # default compact_every is above the batch count)
    "mor_pipelined": dict(mode="mor", pipeline_depth=2),
    # predicate DML after the apply loop: the delete's commit_delta atomic
    # writes join the sweep window, so crashes straddling the DML commit
    # are enumerated too; the fixed batch_id fences the resumed delete
    # exactly like an ingest batch
    "mor_dml": dict(mode="mor", dml=True),
    # MERGE INTO after the apply loop: the merge's stage + commit_delta
    # atomic writes join the sweep window; its fixed batch_id fences the
    # resumed merge exactly like an ingest batch
    "mor_merge": dict(mode="mor", merge=True),
    # the MOR configs above stage their small batches on the driver; this
    # one forces the Spark stage (LOCAL_MAX_BYTES at -1) so both stage
    # routes are swept
    "mor_spark_stage": dict(mode="mor", spark_stage=True),
}

DML_BATCH_ID = 9_700_001
DML_PRED = "turn_idx % 3 = 0"
MERGE_BATCH_ID = 9_700_002


def _merge_source_rows(expected_full):
    """Deterministic MERGE source derived from the replayed live state:
    update the turn_idx%4==1 stripe, delete the %4==2 stripe, insert two
    fresh keys. Pure python so the sweep's expected state is computable
    without the engine."""
    rows = []
    for r in expected_full:
        if r["turn_idx"] % 4 == 1:
            rows.append((r["conv_id"], r["turn_idx"], "U", None))
        elif r["turn_idx"] % 4 == 2:
            rows.append((r["conv_id"], r["turn_idx"], "D", None))
    rows.append(("conv-sweep-new", 0, "I", "merge-inserted-0"))
    rows.append(("conv-sweep-new", 1, "I", "merge-inserted-1"))
    return rows


def _merge_expected(expected_full):
    out = []
    for r in expected_full:
        if r["turn_idx"] % 4 == 2:
            continue
        if r["turn_idx"] % 4 == 1:
            r = dict(r)
            r["text"] = r["text"] + "|M"
        out.append(dict(r))
    for t in (0, 1):
        out.append({"conv_id": "conv-sweep-new", "turn_idx": t,
                    "role": None, "text": f"merge-inserted-{t}",
                    "tool": None, "ts": None})
    out.sort(key=lambda r: (r["conv_id"], r["turn_idx"]))
    return out


def _run_merge(spark, runner, expected_full):
    src = spark.createDataFrame(
        _merge_source_rows(expected_full),
        "conv_id string, turn_idx long, op string, text string")
    return runner.merge_into(
        src, matched_update={"text": "concat(t.text, '|M')"},
        matched_delete_condition="s.op = 'D'",
        batch_id=MERGE_BATCH_ID)


class SimulatedCrash(RuntimeError):
    pass


def _minimal_snap(snapshot_id, parent_id, batch_id):
    return {
        "snapshot_id": snapshot_id, "parent_id": parent_id,
        "batch_id": batch_id, "lsn_lo": 0, "lsn_hi": 0, "n_buckets": 2,
        "bucket_dirs": {}, "delta_dirs": {},
        "summary": {"rows_upserted": 0, "rows_deleted": 0},
    }


def test_torn_hint_heals_for_cold_readers_and_writers(tmp_path):
    """The exact state a crash between manifest publish and hint update
    leaves behind: snap-1 manifest on disk, hint still pointing at 0.
    A cold handle must resolve current = 1 (no stale read), keep batch 7
    fenced, and accept the next commit instead of raising a spurious
    ConcurrentCommitError forever (the pre-fix wedge the sweep found)."""
    import os

    root = str(tmp_path / "t")
    t = CowTable(root, n_buckets=2)
    t.create()
    t._write_snapshot(_minimal_snap(1, 0, 7))
    with open(os.path.join(root, "_snapshots", "version-hint.text"), "w") as f:
        f.write("0")  # the torn crash: hint never advanced

    cold = CowTable(root, n_buckets=2)
    assert cold.current_snapshot()["snapshot_id"] == 1
    assert cold.is_committed(7)

    writer = CowTable(root, n_buckets=2)
    writer._write_snapshot(_minimal_snap(2, 1, 8))  # must not raise
    with open(os.path.join(root, "_snapshots", "version-hint.text")) as f:
        assert f.read().strip() == "2"  # hint healed by the next commit


_REAL_ATOMIC_WRITE = CowTable._atomic_write


def _copying_write(copies, copy=True):
    """Copy the table root before every atomic write: the state a kill at
    that instant leaves. ``copies`` gets one destination per write, in
    order; a destination stays absent when nothing was on disk yet, and
    always with ``copy=False`` (count the writes only)."""
    def wrapper(self, path, payload, **kw):
        dst = f"{self.root}.crash_{len(copies)}"
        if copy and os.path.exists(self.root):
            shutil.copytree(self.root, dst)
        copies.append(dst)
        return _REAL_ATOMIC_WRITE(self, path, payload, **kw)
    return wrapper


def _crashing_write(counter, crash_at):
    def wrapper(self, path, payload, **kw):
        if counter["n"] == crash_at:
            raise SimulatedCrash(f"crash before atomic write #{crash_at}: {path}")
        counter["n"] += 1
        return _REAL_ATOMIC_WRITE(self, path, payload, **kw)
    return wrapper


def test_racing_commits_past_the_hint_check_cannot_overwrite(tmp_path):
    """Two handles plan snapshot 1 against parent 0 and both pass the
    hint check; the other handle publishes while the loser is inside its
    publish window. The manifest create is exclusive, so the loser raises
    instead of replacing the winner's manifest (a rename would have
    silently dropped the winner's batch)."""
    import json
    import os

    root = str(tmp_path / "t")
    winner = CowTable(root, n_buckets=2)
    winner.create()
    loser = CowTable(root, n_buckets=2)
    won = _minimal_snap(1, 0, 7)

    def interleave(self, path, payload, **kw):
        if self is loser and os.path.basename(path) == "snap-00000001.json":
            winner._write_snapshot(won)
        return _REAL_ATOMIC_WRITE(self, path, payload, **kw)

    with mock.patch.object(CowTable, "_atomic_write", interleave):
        with pytest.raises(ConcurrentCommitError):
            loser._write_snapshot(_minimal_snap(1, 0, 8))

    snap_dir = os.path.join(root, "_snapshots")
    with open(os.path.join(snap_dir, "snap-00000001.json")) as f:
        assert f.read() == json.dumps(won)
    assert not [f for f in os.listdir(snap_dir) if ".tmp-" in f]
    cold = CowTable(root, n_buckets=2)
    assert cold.current_snapshot()["snapshot_id"] == 1
    assert cold.is_committed(7) and not cold.is_committed(8)


def _run_to_completion(spark, log, root, kw, expected_full=None):
    kw = dict(kw)
    dml = kw.pop("dml", False)
    merge = kw.pop("merge", False)
    runner = CdcRunner(spark, log, str(root), n_buckets=4, **kw)
    runner.run()
    if dml:
        runner.delete_where(DML_PRED, batch_id=DML_BATCH_ID)
    if merge:
        _run_merge(spark, runner, expected_full)
    return runner


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_crash_before_every_atomic_write_resumes_exactly_once(
        spark, tmp_path, name):
    # patched once around the whole sweep: the resumes run on threads
    limit = -1 if CONFIGS[name].get("spark_stage") else table_mod.LOCAL_MAX_BYTES
    with mock.patch.object(table_mod, "LOCAL_MAX_BYTES", limit):
        _sweep(spark, tmp_path, name)


def _sweep(spark, tmp_path, name):
    kw = {k: v for k, v in CONFIGS[name].items() if k != "spark_stage"}
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    expected_full = replay(log)
    expected = expected_full
    if kw.get("dml"):
        expected = [r for r in expected_full if r["turn_idx"] % 3 != 0]
    if kw.get("merge"):
        expected = _merge_expected(expected_full)

    # baseline: one clean run, copying the table root before each of its
    # atomic writes (deterministic — same log, same code path, synchronous
    # maintenance)
    torn = bool(kw.get("pipeline_depth"))
    copies: list[str] = []
    with mock.patch.object(CowTable, "_atomic_write",
                           _copying_write(copies, copy=not torn)):
        _run_to_completion(spark, log, tmp_path / "baseline", kw, expected_full)
    total_writes = len(copies)
    assert total_writes >= 3, "sweep window unexpectedly empty"

    def resume_and_check(k):
        root = copies[k]
        if torn:
            root = tmp_path / f"crash_{k}"
            crash_counter = {"n": 0}
            with mock.patch.object(
                    CowTable, "_atomic_write",
                    _crashing_write(crash_counter, k)):
                with pytest.raises(SimulatedCrash):
                    # construction itself publishes snapshot 0, so k=0/1
                    # crash inside CdcRunner.__init__ — a real crash point
                    _run_to_completion(spark, log, root, kw, expected_full)

        # cold restart: fresh runner, caches rebuilt from whatever the
        # crash left on disk
        resumed = _run_to_completion(spark, log, root, kw, expected_full)
        actual = [r.asDict() for r in resumed.final_state().collect()]
        assert actual == expected, f"{name}: state diverged after crash at k={k}"

        batch_ids = [s["batch_id"] for s in resumed.table.snapshots()
                     if s["batch_id"] is not None]
        assert len(batch_ids) == len(set(batch_ids)), (
            f"{name}: batch committed twice after crash at k={k}")

        # a further cold rerun applies nothing (fencing fully engaged)
        again = CdcRunner(spark, log, str(root), n_buckets=4,
                          **{k2: v for k2, v in kw.items()
                             if k2 not in ("dml", "merge")})
        res = again.run()
        assert res.batches_applied == [], (
            f"{name}: rerun re-applied batches after crash at k={k}")
        if kw.get("dml"):
            # the DML batch is fenced exactly like an ingest batch
            assert again.delete_where(DML_PRED, batch_id=DML_BATCH_ID) is None
        if kw.get("merge"):
            assert _run_merge(spark, again, expected_full) is None

    # each crash state is its own table, so the resumes run side by side
    # on the shared session; a crashing run patches a process-wide method
    # and goes one at a time
    with ThreadPoolExecutor(1 if torn else 3) as pool:
        for _ in pool.map(resume_and_check, range(total_writes)):
            pass
