"""Derived-table maintenance riding the ingest loop — CdcRunner(maintain=).

The lakehouse steady-state shape: the ingest loop keeps registered
derived tables (inverted index, SCD2 history, rollup, join view) fresh
as it commits, inline or on the async maintenance thread, without the
caller orchestrating refresh calls. Contracts pinned here:

- after run(), every maintainer is at the table head and equals its
  from-scratch oracle (the drain's catch-up refresh guarantees head even
  when maintain_every or an in-flight async refresh skipped commits);
- async refreshes never stall ingest: a busy maintenance thread means a
  commit simply skips the refresh and a later commit catches up;
- a maintainer failure surfaces to the caller (inline: at the commit
  that refreshed; async: at the next check or the drain) — never
  swallowed;
- bare callables are accepted, so two-table maintainers (JoinView)
  register as closures.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.history import HistoryTable
from biomedica_etl_spark.cdc.index import TokenIndex
from biomedica_etl_spark.cdc.runner import CdcRunner
from biomedica_etl_spark.cdc.view import JoinView

CFG = GeneratorConfig(seed=17, n_events=4_000, batch_size=500, n_convs=40,
                      zipf_a=1.1, duplicate_frac=0.02, out_of_order=True)


@pytest.fixture(scope="module")
def log(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("maintain-log"))
    generate_change_log(d, CFG)
    return d


def _scratch_postings(spark, table):
    return sorted(
        (r["token"], r["conv_id"], r["turn_idx"], r["count"])
        for r in table.read(spark, columns=["text"])
        .select("conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
                F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token", "conv_id", "turn_idx").count().collect())


def _postings(spark, idx):
    return sorted(
        (r["token"], r["conv_id"], r["turn_idx"], r["tf"])
        for r in idx.read(spark).collect())


def _assert_fresh(spark, runner, idx, hist):
    head = runner.table.current_snapshot()["snapshot_id"]
    assert idx.cursor() == head
    assert hist.cursor() == head
    assert _postings(spark, idx) == _scratch_postings(spark, runner.table)
    # as_of(head lsn) reconstructs the live state from stored versions
    head_lsn = hist.read(spark).agg(F.max("valid_from")).collect()[0][0]
    live = runner.table.read(spark)
    aslive = hist.as_of(spark, head_lsn)
    assert aslive.exceptAll(live).count() == 0
    assert live.exceptAll(aslive).count() == 0


@pytest.mark.parametrize("kw", [
    {},                                         # inline, every commit
    {"maintain_every": 3},                      # inline, sparse cadence
    {"async_maintain": True},                   # async thread
    {"async_maintain": True, "pipeline_depth": 2},  # async + pipelined
])
def test_maintainers_fresh_after_run(spark, log, tmp_path, kw):
    idx = TokenIndex(str(tmp_path / "idx"), n_shards=8)
    hist = HistoryTable(str(tmp_path / "hist"), n_shards=8)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                       compact_every=1000,
                       maintain=[idx, hist], **kw)
    res = runner.run()
    assert len(res.batches_applied) == 8
    assert runner.maintenance_refreshes >= 1
    _assert_fresh(spark, runner, idx, hist)
    # a replayed run applies nothing and leaves the maintainers at head
    before = runner.maintenance_refreshes
    runner.run()
    assert runner.maintenance_refreshes == before + 1  # drain catch-up only
    _assert_fresh(spark, runner, idx, hist)


def test_maintain_survives_source_compaction(spark, log, tmp_path):
    """Major folds make feed windows non-serveable; the stores' rebuild
    fallback keeps maintenance green without caller involvement."""
    idx = TokenIndex(str(tmp_path / "idx"), n_shards=8)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                       compact_every=3, compact_mode="major",
                       maintain=[idx])
    runner.run()
    assert _postings(spark, idx) == _scratch_postings(spark, runner.table)


def test_async_maintain_plus_async_compact(spark, log, tmp_path):
    """The full steady-state config: pipelined applies, tiered minor
    folds on the compaction thread, AND index/history refreshes on the
    derived thread — three concurrent activities against one table. The
    maintainers may observe any snapshot (fold commits included); the
    stores' fold-proof/rebuild contracts must keep everything convergent
    with zero caller coordination."""
    idx = TokenIndex(str(tmp_path / "idx"), n_shards=8)
    hist = HistoryTable(str(tmp_path / "hist"), n_shards=8)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                       compact_every=2, compact_mode="minor",
                       fold_tier_bytes=-1, async_compact=True,
                       pipeline_depth=2,
                       maintain=[idx, hist], async_maintain=True)
    res = runner.run()
    assert len(res.batches_applied) == 8
    _assert_fresh(spark, runner, idx, hist)


def test_callable_maintainer_joinview(spark, log, tmp_path):
    """A two-table maintainer registers as a closure over its other side."""
    # side B: a small static annotation table built from the same log
    rb = CdcRunner(spark, log, str(tmp_path / "tb"), n_buckets=8)
    rb.run(max_batches=2)
    view = JoinView(str(tmp_path / "v"), n_shards=8)
    ra = CdcRunner(spark, log, str(tmp_path / "ta"), n_buckets=8,
                   compact_every=1000,
                   maintain=[lambda s, t: view.refresh(s, t, rb.table)])
    ra.run()
    left = ra.table.read(spark)
    right = (rb.table.read(spark, columns=["text"])
             .select("conv_id", "turn_idx", F.col("text").alias("note")))
    scratch = sorted(
        tuple(r) for r in left.join(right, ["conv_id", "turn_idx"], "inner")
        .select(*[c for c in view.read(spark).columns]).collect())
    got = sorted(tuple(r) for r in view.read(spark).collect())
    assert got == scratch


class _Boom(RuntimeError):
    pass


def _failing(spark, table):
    raise _Boom("maintainer failure")


def test_inline_failure_surfaces(spark, log, tmp_path):
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                       maintain=[_failing])
    with pytest.raises(_Boom):
        runner.run()


def test_async_failure_surfaces(spark, log, tmp_path):
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                       maintain=[_failing], async_maintain=True)
    with pytest.raises(_Boom):
        runner.run()  # surfaced at a later commit's check or the drain


def test_async_failure_then_recovery(spark, log, tmp_path):
    """A failed async round surfaces exactly ONCE: the cleared slot lets
    a retried run() proceed instead of re-raising the stale exception
    forever (the poisoned-future regression)."""
    idx = TokenIndex(str(tmp_path / "idx"), n_shards=8)
    calls = {"n": 0}

    def flaky(s, t):
        calls["n"] += 1
        if calls["n"] == 1:
            raise _Boom("transient maintainer failure")
        idx.refresh(s, t)

    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                       maintain=[flaky], async_maintain=True)
    with pytest.raises(_Boom):
        runner.run()
    runner.run()  # must NOT re-raise the old failure
    assert idx.cursor() == runner.table.current_snapshot()["snapshot_id"]


def test_maintain_every_validates(spark, log, tmp_path):
    with pytest.raises(ValueError, match="maintain_every"):
        CdcRunner(spark, log, str(tmp_path / "t"), maintain_every=0)
