"""Crash sweep for the sharded derived tables (cdc.shardstore).

The main table's metadata crash sweep (test_crash_sweep.py) enumerates
every atomic-write boundary of the PRIMARY commit protocol; this is the
same discipline applied to the derived-table maintainers now that they
share one storage implementation (ShardedLayerStore). A refresh has
exactly two durable actions — the layer-container write and the atomic
pointer flip — so the crash states are:

  CP1  layer dir fully written, pointer never flipped
       (orphan container, old manifest intact)
  CP2  pointer tmp written, rename never happened
       (stranded pointer.json.tmp-*, old manifest intact)
  CP3  layer dir half written (simulated: unreferenced container with a
       garbage file — what a task-level crash mid-parquet-write leaves)

For every store kind (TokenIndex, JoinView, HistoryTable) x crash point
x {bootstrap, incremental} the contract is:

  1. reads after the crash serve the PRE-refresh state byte-for-byte
     (the old pointer is never touched);
  2. a cold re-refresh (fresh object, as a restarted maintainer would
     construct) converges to the same state as a never-crashed twin;
  3. after the first successful flip, no unreferenced d-*/shard=* dir
     and no pointer.json.tmp-* file remains (flip-time GC collects the
     crash orphans).

Because the crash is injected at the mixin, one sweep covers every
current and future ShardedLayerStore subclass.
"""

from __future__ import annotations

import itertools
import json
import os

import pytest

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.history import HistoryTable
from biomedica_etl_spark.cdc.index import TokenIndex
from biomedica_etl_spark.cdc.runner import CdcRunner
from biomedica_etl_spark.cdc.shardstore import ShardedLayerStore
from biomedica_etl_spark.cdc.view import JoinView

CFG_A = GeneratorConfig(seed=31, n_events=2_400, batch_size=600, n_convs=30,
                        zipf_a=1.1, duplicate_frac=0.02, out_of_order=True)
CFG_B = GeneratorConfig(seed=5, n_events=1_200, batch_size=400, n_convs=30,
                        zipf_a=0.9, duplicate_frac=0.02, out_of_order=True)


class _Crash(RuntimeError):
    pass


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """Tables A and B fully applied. The sweep bootstraps stores at this
    state; `_advance` adds fresh DML commits on A for the incremental
    legs."""
    tmp = tmp_path_factory.mktemp("derived-crash")
    log_a, log_b = str(tmp / "la"), str(tmp / "lb")
    generate_change_log(log_a, CFG_A)
    generate_change_log(log_b, CFG_B)
    # compaction disabled-in-effect: a major fold would LWW-collapse the
    # raw rows the history's bootstrap replays, making the
    # incremental-vs-bootstrap-twin comparison vacuous
    ra = CdcRunner(spark, log_a, str(tmp / "ta"), n_buckets=8,
                   compact_every=1000)
    rb = CdcRunner(spark, log_b, str(tmp / "tb"), n_buckets=8,
                   compact_every=1000)
    ra.run()
    rb.run()
    return ra, rb


_ADV = itertools.count()


def _advance(ra: CdcRunner) -> None:
    """One fresh commit on table A — DML-based so the sweep can advance
    the source an unbounded number of times off a finite log."""
    k = next(_ADV)
    ra.update_where(f"turn_idx % 7 = {k % 7}",
                    {"text": "concat(text, '.')"})


def _make(kind: str, root: str):
    if kind == "index":
        return TokenIndex(root, n_shards=8)
    if kind == "history":
        return HistoryTable(root, n_shards=8)
    return JoinView(root, n_shards=8)


def _refresh(kind: str, store, spark, ra, rb):
    if kind == "view":
        return store.refresh(spark, ra.table, rb.table)
    return store.refresh(spark, ra.table)


def _rows(kind: str, store, spark):
    df = store.read(spark)
    return sorted(tuple(r[c] for c in df.columns) for r in df.collect())


def _orphan_report(root: str) -> tuple[list[str], list[str]]:
    """(unreferenced shard dirs, stranded pointer tmp files)."""
    with open(os.path.join(root, "pointer.json")) as f:
        ptr = json.load(f)
    referenced = {ShardedLayerStore._entry_path(lay)
                  for lays in ptr["shards"].values() for lay in lays}
    dirs, tmps = [], []
    for entry in os.listdir(root):
        if entry.startswith("pointer.json.tmp-"):
            tmps.append(entry)
        cont = os.path.join(root, entry)
        if entry.startswith("d-") and os.path.isdir(cont):
            for sub in os.listdir(cont):
                if sub.startswith("shard=") and f"{entry}/{sub}" not in referenced:
                    dirs.append(f"{entry}/{sub}")
    return dirs, tmps


def _install_crash(monkeypatch, point: str):
    if point == "after_layer_write":
        orig = ShardedLayerStore._write_layer

        def boom(self, stored):
            orig(self, stored)
            raise _Crash("crash after layer write, before flip")

        monkeypatch.setattr(ShardedLayerStore, "_write_layer", boom)
    else:  # mid_flip: tmp written, rename never reached
        def boom(self, payload, shards):
            tmp = self._pointer_path() + ".tmp-crashed"
            with open(tmp, "w") as f:
                json.dump({**payload,
                           "shards": {str(k): v for k, v in shards.items()}},
                          f)
            raise _Crash("crash between pointer tmp write and rename")

        monkeypatch.setattr(ShardedLayerStore, "_flip_pointer", boom)


@pytest.mark.parametrize("kind", ["index", "history", "view"])
@pytest.mark.parametrize("point", ["after_layer_write", "mid_flip"])
def test_crash_during_bootstrap_then_cold_recovery(
        spark, tables, tmp_path, monkeypatch, kind, point):
    ra, rb = tables
    root = str(tmp_path / "store")
    store = _make(kind, root)

    _install_crash(monkeypatch, point)
    with pytest.raises(_Crash):
        _refresh(kind, store, spark, ra, rb)
    monkeypatch.undo()

    # old state intact: never bootstrapped, reads are empty, no pointer
    assert not os.path.exists(os.path.join(root, "pointer.json"))
    cold = _make(kind, root)
    assert _rows(kind, cold, spark) == []

    # cold re-refresh converges to the never-crashed twin's state
    _refresh(kind, cold, spark, ra, rb)
    twin = _make(kind, str(tmp_path / "twin"))
    _refresh(kind, twin, spark, ra, rb)
    assert _rows(kind, cold, spark) == _rows(kind, twin, spark)

    # the successful flip collected the crashed attempt's orphans
    dirs, tmps = _orphan_report(root)
    assert dirs == [] and tmps == []


@pytest.mark.parametrize("kind", ["index", "history", "view"])
@pytest.mark.parametrize("point", ["after_layer_write", "mid_flip"])
def test_crash_during_incremental_then_cold_recovery(
        spark, tables, tmp_path, monkeypatch, kind, point):
    ra, rb = tables
    root = str(tmp_path / "store")
    store = _make(kind, root)
    _refresh(kind, store, spark, ra, rb)
    # the twin attaches at the SAME snapshot as the store: a history
    # bootstrapped later has coarser (winner-granularity) opening
    # versions by contract, so a bootstrap-at-head twin would differ
    # for reasons unrelated to the crash
    twin = _make(kind, str(tmp_path / "twin"))
    _refresh(kind, twin, spark, ra, rb)
    before = _rows(kind, store, spark)

    _advance(ra)  # fresh commit so the refresh is incremental

    _install_crash(monkeypatch, point)
    with pytest.raises(_Crash):
        _refresh(kind, store, spark, ra, rb)
    monkeypatch.undo()

    # the crashed refresh is invisible: same pointer, same rows
    cold = _make(kind, root)
    assert _rows(kind, cold, spark) == before

    # cold re-refresh converges to the never-crashed twin's state
    res = _refresh(kind, cold, spark, ra, rb)
    assert res["refreshed"] is True
    _refresh(kind, twin, spark, ra, rb)
    assert _rows(kind, cold, spark) == _rows(kind, twin, spark)

    dirs, tmps = _orphan_report(root)
    assert dirs == [] and tmps == []


@pytest.mark.parametrize("kind", ["index", "history", "view"])
def test_half_written_container_is_collected(spark, tables, tmp_path, kind):
    """CP3: a task crash mid-parquet-write leaves an unreferenced
    container with garbage files; the next successful flip removes it."""
    ra, rb = tables
    root = str(tmp_path / "store")
    store = _make(kind, root)
    _refresh(kind, store, spark, ra, rb)

    junk = os.path.join(root, "d-halfwritten", "shard=0")
    os.makedirs(junk)
    with open(os.path.join(junk, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00not a parquet file")

    _rows(kind, store, spark)  # garbage never read: not referenced
    _advance(ra)
    _refresh(kind, store, spark, ra, rb)
    assert not os.path.exists(os.path.join(root, "d-halfwritten"))
    dirs, tmps = _orphan_report(root)
    assert dirs == [] and tmps == []
