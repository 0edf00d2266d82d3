"""Large-scale sustained-ingest soak: 256M change events (4x the 64M
protocol, ~2.6% of the 10^10 design point) applied end-to-end on the
blessed steady-state config (MOR, pipelined applies, async size-tiered
minor folds), with an INDEPENDENT Spark-side oracle as the pass gate.

Why this exists: every prior correctness gate at >10M events was either
determinism (bit-identical replays across rounds) or invariants (layer
bounds, lineage reconciliation). The dict-replay oracle cannot reach this
scale (single-threaded Python over 256M events), so this soak is gated by
``cdc.oracle.spark_replay`` — a one-shot global ``max_by(payload, lsn)``
over the raw log files that shares none of the engine's machinery
(no bucketing, salting, batching, delta layers, folds, or table metadata).
Full-row ``exceptAll`` in both directions must be empty.

Also recorded: per-batch wall times (flatness = no O(completed-batches)
cost), sustained events/sec with maintenance landing mid-run, resident
layer bound after drain, and a lineage reconciliation audit.

Usage:  EV=256000000 BA=16 CORES=16 python scripts/soak_large.py
Results append to BENCH/SUSTAINED.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from biomedica_etl_spark.session import get_spark  # noqa: E402

EVENTS = int(os.environ.get("EV", "256000000"))
BATCHES = int(os.environ.get("BA", "16"))
CORES = int(os.environ.get("CORES", "16"))
CHECK_CORES = int(os.environ.get("CHECK_CORES", str(CORES)))


def main() -> None:
    from biomedica_etl_spark.cdc.oracle import spark_replay
    from biomedica_etl_spark.cdc.runner import CdcRunner

    bench._use_tmpfs_local_dirs()
    spark = get_spark(app_name="soak-large", cores=CORES,
                      shuffle_partitions=max(CORES, 32))
    # log lives on /tmp (root disk — written once, read from page cache);
    # table + shuffle scratch live on tmpfs (the per-node-NVMe stand-in)
    log = bench._bench_log_dir(EVENTS, BATCHES)
    with open(os.path.join(log, "_meta.json")) as f:
        n_rows = json.load(f)["n_rows_written"]
    workdir = tempfile.mkdtemp(prefix="soak-", dir="/dev/shm")
    table_root = os.path.join(workdir, "table")

    runner = CdcRunner(
        spark, log, table_root, n_buckets=bench.N_BUCKETS,
        compact_every=2, shuffle_salts=bench.SHUFFLE_SALTS,
        async_lineage=True, pipeline_depth=2, async_compact=True,
        compact_mode="minor", fold_tier_bytes=-1,
    )
    per_batch: list[float] = []
    s0 = bench._steal_ticks()
    t0 = time.time()
    while True:
        b0 = time.time()
        res = runner.run(max_batches=1)
        if not res.batches_applied:
            break
        per_batch.append(time.time() - b0)
    runner.drain_maintenance()
    wall = time.time() - t0
    steal_pct = (bench._steal_ticks() - s0) / max(
        wall * 100 * bench.HOST_CPUS, 1) * 100

    # ---- invariants -------------------------------------------------
    snap = runner.table.current_snapshot()
    layer_counts = [
        (len(d) if isinstance(d, list) else 1)
        for d in snap.get("delta_dirs", {}).values()
    ]
    max_layers = max(layer_counts, default=0)
    audit = runner.reconcile_lineage()

    # ---- independent oracle gate (bucket-wise) ----------------------
    # The r4 protocol's one-shot two-sided exceptAll OOM'd at 256M (two
    # full-table full-row set-diffs resident at once). Bucket-wise gate:
    # materialize the independent replay ONCE, partitioned by the same
    # bucket transform the table uses, then compare bucket-range by
    # bucket-range — the table side reads only that range's files (its
    # native layout), the oracle side partition-prunes, and comparison
    # memory is O(bucket range), not O(table). Same two-sided exceptAll
    # semantics, same independence argument (the oracle plan still never
    # touches engine machinery; the bucket column is added AFTER the
    # replay purely to organize the comparison).
    from pyspark.sql import functions as F  # noqa: N812

    from biomedica_etl_spark.cdc.oracle import FINAL_COLS
    from biomedica_etl_spark.cdc.table import bucket_expr

    t1 = time.time()
    spark.conf.set("spark.sql.shuffle.partitions", str(max(CHECK_CORES * 4, 64)))
    n_buckets = runner.table.n_buckets
    # oracle parquet on DISK, not tmpfs: the live table already occupies
    # tmpfs; doubling that footprint in RAM is what broke the r4 attempt
    oracle_scratch = tempfile.mkdtemp(prefix="soak-oracle-")
    exp_dir = os.path.join(oracle_scratch, "expected")
    (spark_replay(spark, log)
     .withColumn("_b", bucket_expr("conv_id", n_buckets))
     .repartition("_b")
     .write.partitionBy("_b").parquet(exp_dir))
    exp_all = spark.read.parquet(exp_dir)
    extra = missing = final_rows = 0
    group = int(os.environ.get("CHECK_BUCKET_GROUP", "16"))
    for lo in range(0, n_buckets, group):
        bs = list(range(lo, min(lo + group, n_buckets)))
        got_b = runner.table.read(spark, buckets=bs).select(*FINAL_COLS)
        exp_b = exp_all.filter(F.col("_b").isin(bs)).select(*FINAL_COLS)
        extra += got_b.exceptAll(exp_b).count()
        missing += exp_b.exceptAll(got_b).count()
        final_rows += got_b.count()
    check_sec = time.time() - t1

    n = len(per_batch)
    half = n // 2
    out = {
        "metric": "soak_large_sustained",
        "events": n_rows,
        "batches": n,
        "cores": CORES,
        "wall_sec": round(wall, 1),
        "events_per_sec": round(n_rows / wall, 1),
        "steal_pct": round(steal_pct, 1),
        "per_batch_sec": [round(s, 2) for s in per_batch],
        "first_half_mean": round(sum(per_batch[:half]) / max(half, 1), 2),
        "second_half_mean": round(sum(per_batch[half:]) / max(n - half, 1), 2),
        "resident_layers_max": max_layers,
        "lineage_missing": len(audit.get("missing", [])),
        "final_rows": final_rows,
        "oracle_extra_rows": extra,
        "oracle_missing_rows": missing,
        "oracle_check_sec": round(check_sec, 1),
        "pass": extra == 0 and missing == 0,
    }
    print(json.dumps(out))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/SUSTAINED.md", "a") as f:
        f.write(
            f"\n## Large soak: {n_rows:,} events, {n} micro-batches, "
            f"local[{CORES}] (async size-tiered folds)\n\n"
            f"Gate: full-row exceptAll vs the independent one-shot Spark\n"
            f"replay oracle (`cdc/oracle.py:spark_replay`) — extra="
            f"{extra}, missing={missing} ({'PASS' if out['pass'] else 'FAIL'};"
            f" {final_rows:,} final rows, check {check_sec:.0f}s).\n\n"
            f"- wall {wall:.1f} s -> {n_rows / wall:,.0f} ev/s sustained with"
            f" maintenance mid-run (steal {steal_pct:.1f}%)\n"
            f"- per-batch first-half mean {out['first_half_mean']} s vs"
            f" second-half {out['second_half_mean']} s\n"
            f"- resident delta layers after drain: {max_layers}\n"
            f"- lineage reconcile audit: {audit}\n"
            f"- per-batch walls: {out['per_batch_sec']}\n"
        )
    spark.stop()
    shutil.rmtree(workdir, ignore_errors=True)
    shutil.rmtree(oracle_scratch, ignore_errors=True)
    sys.exit(0 if out["pass"] else 1)


if __name__ == "__main__":
    main()
