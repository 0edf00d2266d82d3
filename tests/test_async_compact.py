"""Async maintenance: compaction runs CONCURRENT with ingest and never
loses an interleaved apply's layer.

The lakehouse steady-state shape (Iceberg/Delta maintenance discipline):
ingest never stops for compaction; a compaction that loses the
optimistic-concurrency race to an apply retries METADATA-only, because
``CowTable.commit_compaction`` pops exactly the layers the fold consumed
and preserves any layer an interleaved apply appended since.

Reference analogue: the reference serializes everything through one
process (``scripts/03_download_batch_ftp.py`` runs stages strictly in
order); here maintenance and ingest interleave safely through the
snapshot CAS.
"""

from __future__ import annotations

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.merge import compact, mor_apply_batch
from biomedica_etl_spark.cdc.oracle import replay
from biomedica_etl_spark.cdc.runner import CdcRunner, read_batch
from biomedica_etl_spark.cdc.schema import SchemaRegistry
from biomedica_etl_spark.cdc.table import CowTable

from tests.conftest import run_and_compare

CFG = GeneratorConfig(
    n_events=6_000, batch_size=600, n_convs=80, duplicate_frac=0.03,
    out_of_order=True, absent_key_frac=0.05, zipf_a=1.2,
)


def test_async_compact_matches_oracle(spark, tmp_path):
    """End-to-end: maintenance on its own thread + table handle, applies
    keep flowing, final state still equals the row-by-row oracle."""
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner, _ = run_and_compare(
        spark, log, str(tmp_path / "t"), compact_every=3,
        async_compact=True,
    )
    assert runner.compactions_run >= 1
    snaps = runner.table.snapshots()
    assert any(s["summary"].get("commit_type") == "compact" for s in snaps)
    # drain_maintenance's final fold enforces the bounded-layer invariant
    assert runner.table.max_delta_layers() < 3
    # the post-fold refresh keeps the apply loop's threshold view current:
    # 10 batches at threshold 3 can never legitimately need more folds
    # than batches (a stale view would re-submit for already-clean buckets)
    assert runner.compactions_run <= 10


def test_async_compact_pipelined_matches_oracle(spark, tmp_path):
    """Async maintenance composes with the pipelined (depth-2) runner."""
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner, _ = run_and_compare(
        spark, log, str(tmp_path / "t"), compact_every=3,
        async_compact=True, pipeline_depth=2,
    )
    assert runner.compactions_run >= 1


def test_compaction_losing_race_preserves_interleaved_layer(spark, tmp_path):
    """Deterministic interleave: a layer committed BETWEEN the fold's plan
    and its commit survives — the retry is metadata-only and the folded
    set is pinned to the planned snapshot."""
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    root = str(tmp_path / "t")
    runner = CdcRunner(spark, log, root, n_buckets=8,
                       compact_every=99)
    runner.run(max_batches=3)
    table = runner.table  # stale handle: will plan the fold against N
    planned = table.current_snapshot()
    planned_layers = {b: set(ds) for b, ds in planned["delta_dirs"].items()}

    # interleaved apply through a SECOND handle (another writer)
    other = CowTable(root)
    ch = read_batch(spark, log, 3, 0, SchemaRegistry())
    interleaved = mor_apply_batch(spark, other, ch, 3)
    assert interleaved is not None
    new_layers = {
        b: set(ds) - planned_layers.get(b, set())
        for b, ds in interleaved["delta_dirs"].items()
        if set(ds) - planned_layers.get(b, set())
    }
    assert new_layers, "batch 3 must have appended at least one layer"

    # the stale handle's compaction loses the CAS, retries metadata-only
    snap = compact(spark, table, shuffle_salts=2)
    assert snap is not None
    assert snap["parent_id"] == interleaved["snapshot_id"]
    # every folded layer is gone; every interleaved layer is still live
    final_dirs = {b: set(ds) for b, ds in snap["delta_dirs"].items()}
    for b, folded in planned_layers.items():
        assert not (final_dirs.get(b, set()) & folded)
    for b, added in new_layers.items():
        assert added <= final_dirs.get(b, set())

    # resolved read = oracle over ALL FOUR batches (fold covered 0-2, the
    # live layer carries 3, LWW resolves across base + layer)
    cold = CowTable(root)
    actual = [
        r.asDict()
        for r in cold.read(spark).orderBy("conv_id", "turn_idx").collect()
    ]
    assert actual == replay(log, max_batch_id=3)
