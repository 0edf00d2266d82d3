"""The spark-submitted CDC apply job for the real-cluster scaling evidence.

Runs INSIDE a standalone-cluster application (``spark-submit --master
spark://... --py-files dist/biomedica_etl_spark.zip``): waits for the
expected executors to register, does an untimed warm-up apply (JVM/JIT/
codegen excluded), then applies the main change log end-to-end with the
same engine configuration ``bench.py``'s local scaling protocol uses, and
prints ONE JSON line with the timed wall + the registered executor count.

The SparkSession deliberately does NOT set a master or core counts — the
cluster shape (executor cores/memory, cores.max) is entirely owned by the
``spark-submit`` flags, exactly how the engine would deploy for real.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _wait_executors(spark, expected: int, timeout_s: float = 60.0) -> int:
    """Block until ``expected`` executors registered (driver excluded)."""
    sc = spark.sparkContext
    deadline = time.time() + timeout_s
    n = 0
    while time.time() < deadline:
        n = sc._jsc.sc().getExecutorMemoryStatus().size() - 1
        if n >= expected:
            return n
        time.sleep(0.5)
    raise RuntimeError(f"only {n}/{expected} executors registered "
                       f"after {timeout_s}s")


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--log-dir", required=True)
    p.add_argument("--warm-log-dir", required=True)
    p.add_argument("--table-root", required=True)
    p.add_argument("--total-cores", type=int, required=True)
    p.add_argument("--expect-executors", type=int, required=True)
    p.add_argument("--n-buckets", type=int, default=128)
    p.add_argument("--shuffle-salts", type=int, default=8)
    p.add_argument("--pipeline-depth", type=int, default=2)
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from biomedica_etl_spark.cdc.runner import CdcRunner
    from biomedica_etl_spark.session import _fair_pools_file

    # same session-level engine conf as biomedica_etl_spark.session.get_spark,
    # minus anything that is the cluster's to decide (master, cores, memory)
    spark = (
        SparkSession.builder.appName("cluster-cdc-apply")
        .config("spark.sql.shuffle.partitions", str(args.total_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.scheduler.allocation.file", _fair_pools_file())
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    executors = _wait_executors(spark, args.expect_executors)

    def apply_log(log_dir: str, table_root: str) -> float:
        runner = CdcRunner(
            spark, log_dir, table_root, n_buckets=args.n_buckets,
            compact_every=1_000_000_000,
            shuffle_salts=args.shuffle_salts, async_lineage=True,
            pipeline_depth=args.pipeline_depth,
        )
        t0 = time.time()
        runner.run()
        return time.time() - t0

    apply_log(args.warm_log_dir, args.table_root + "-warm")  # untimed warm-up
    sec = apply_log(args.log_dir, args.table_root)

    with open(os.path.join(args.log_dir, "_meta.json")) as f:
        n_rows = json.load(f)["n_rows_written"]
    print(json.dumps({
        "apply_sec": round(sec, 3),
        "events": n_rows,
        "events_per_sec": round(n_rows / sec, 1),
        "executors": executors,
        "total_cores": args.total_cores,
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }))
    spark.stop()
    sys.exit(0)


if __name__ == "__main__":
    main()
