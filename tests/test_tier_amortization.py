"""Regression pin for the round-5 quadratic-fold fix
(``cdc/merge.py:compact_layers`` auto tier): minor-fold read volume must
stay AMORTIZED as the table grows — the round-4 global-anchor defect made
every fold re-read the grown merged layers, so per-fold read bytes grew
linearly with ingested rows (the 128M soak's 10 s -> 56 s fold batches).

The pin reads each fold's planned read bytes from its ``compact-layers``
commit summary (``bytes_read``) and asserts the quadratic signature is
absent over a 20-batch low-collapse ingest (distinct keys every batch, the
worst case for fold re-reads): late folds must NOT read multiples of what
early folds read once the table dwarfs a fresh append. Correctness rides
along: the end state must equal the dict replay.
"""

from biomedica_etl_spark.cdc.generator import (GeneratorConfig,
                                               generate_change_log)
from biomedica_etl_spark.cdc.oracle import replay
from biomedica_etl_spark.cdc.runner import CdcRunner


def test_auto_tier_fold_reads_stay_amortized(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, GeneratorConfig(
        n_events=200_000, batch_size=10_000, n_convs=40_000,
        zipf_a=1.1, update_frac=0.05, delete_frac=0.02))
    r = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=16,
                  mode="mor", compact_every=2, compact_mode="minor",
                  fold_tier_bytes=-1)
    r.run()
    r.drain_maintenance()
    r.table.refresh()
    fold_reads = [s["summary"]["bytes_read"] for s in r.table.snapshots()
                  if s["summary"].get("commit_type") == "compact-layers"]

    assert len(fold_reads) >= 6, fold_reads
    # Quadratic signature: with the global anchor, each of the ~n/2 folds
    # re-read the whole accumulated delta — the LAST fold read ~n times a
    # fresh pair, and the total read volume ~ n^2/2 fresh-pairs. With the
    # per-bucket run tier, most folds read O(fresh); occasional tier-up
    # merges read more but amortize geometrically.
    early = sorted(fold_reads[:4])[len(fold_reads[:4]) // 2]  # early median
    # (a) the MEDIAN fold stays near the early median (most folds touch
    # only fresh appends); tier-up spikes are allowed, a drifting median
    # is not. Old code: median grows with the table (>= 4x early here).
    med = sorted(fold_reads)[len(fold_reads) // 2]
    assert med <= 2.5 * early, (med, early, fold_reads)
    # (b) the LATE folds don't trend to table size: with the global
    # anchor every late fold re-read the accumulated delta (the last one
    # ~n/2 times a fresh pair); with the run tier the late-fold median
    # stays within a small factor of the early one.
    late = sorted(fold_reads[-4:])[2]
    assert late <= 4 * early, (late, early, fold_reads)

    # correctness rides along: end state equals the dict replay
    assert [x.asDict() for x in r.final_state().collect()] == replay(log)
