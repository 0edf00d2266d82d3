"""SparkSession factory with scale-appropriate defaults.

Defaults are chosen for the 100 TB design point and merely *sized down*
for local runs: AQE on (runtime re-planning, skew-join splitting,
shuffle-partition coalescing), Arrow on (vectorized pandas-UDF transfer),
shuffle partitions ~ cores locally (on a real cluster this is set per job
or left to AQE's coalescing).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# FAIR-scheduler pool declarations. The "maintenance" pool (async
# compaction in CdcRunner) gets HALF the weight of the (dynamically named,
# default-weight-1) ingest pools, so background folds yield cluster share
# to applies whenever both have runnable stages; minShare 0 means a fully
# idle ingest hands maintenance the whole cluster. Undeclared pools keep
# Spark's defaults (FIFO within, weight 1), which is what the pipelined
# runner's per-batch pools want. Materialized to a temp file at session
# build because the package may be deployed as a --py-files zip, where a
# bundled resource has no on-disk path spark.scheduler.allocation.file
# could point at.
_FAIR_POOLS_XML = """<?xml version="1.0"?>
<allocations>
  <pool name="maintenance">
    <schedulingMode>FIFO</schedulingMode>
    <weight>1</weight>
    <minShare>0</minShare>
  </pool>
  <pool name="default">
    <schedulingMode>FIFO</schedulingMode>
    <weight>2</weight>
    <minShare>0</minShare>
  </pool>
{stage_pools}</allocations>
"""

# the pipelined runner names its per-slot pools "stage-<k % depth>";
# declare enough slots for any sane pipeline depth at ingest weight
_STAGE_POOLS = "".join(
    f"  <pool name=\"stage-{k}\">\n"
    f"    <schedulingMode>FIFO</schedulingMode>\n"
    f"    <weight>2</weight>\n    <minShare>0</minShare>\n  </pool>\n"
    for k in range(8))


def _default_driver_mem() -> str:
    """The driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: 48 GiB,
    capped at 3/8 of physical RAM. In local mode the driver heap is the
    executors' heap, and the JVM grows toward its ceiling lazily, so a
    ceiling above physical RAM lets it crowd out the Python driver's
    Arrow work until the kernel OOM killer ends one of them. On a
    15.7 GiB host a 48 GiB ceiling let tier-1's JVM reach 12.7 GiB RSS
    and be killed; under the 5.9 GiB that 3/8 gives, its heap peaked at
    2.9 GiB used. A 128 GiB host keeps 48 GiB."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48 << 10, phys * 3 // 8 >> 20)}m"


def _fair_pools_file() -> str:
    f = tempfile.NamedTemporaryFile(
        "w", suffix="-fairscheduler.xml", delete=False)
    f.write(_FAIR_POOLS_XML.format(stage_pools=_STAGE_POOLS))
    f.close()
    return f.name


def get_spark(
    app_name: str = "biomedica-etl-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` controls local parallelism (``local[cores]``); default is the
    ``SPARK_GRAFT_CPUS`` env var, else ``*``. On a real cluster this module
    is bypassed by ``spark-submit`` conf — everything here is also safe to
    set cluster-side.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n_cores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_cores = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(n_cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(n_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Spark's legacy INT96 timestamps carry NO parquet min/max stats,
        # so nothing — not this engine, not DuckDB, not Iceberg — can
        # row-group-prune a time-range scan over them. Write int64 micros
        # (what Iceberg mandates); readers handle both encodings, so old
        # files remain readable.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # transcript text compresses ~40% smaller under zstd than snappy
        # (measured: 38.3 vs 63.3 MB for the same 2M-event table) at equal
        # apply/read speed on this hardware — at 100 TB that is the
        # difference in storage AND in every scan's IO. Snappy's decode
        # speed edge only matters when scans are CPU-bound, which
        # text-heavy rows are not.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # text-heavy rows: smaller scan splits keep all cores busy on the
        # single-file-per-segment layouts a WAL tail produces
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.sql.session.timeZone", "UTC")
        # FAIR across scheduler pools: the pipelined runner puts each
        # in-flight micro-batch in its own pool so batch k+1's map stage
        # fills the straggler waves and commit/lineage gaps of batch k
        # instead of queueing behind it (FIFO would serialize the jobs);
        # single-job workloads are unaffected
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.scheduler.allocation.file", _fair_pools_file())
        # bucket-partitioned layer dirs (128 buckets) exceed the default
        # parallel-listing threshold (32), making every layer read-back
        # launch a full Spark listing job; driver-side listing of a few
        # hundred dirs is microseconds on any FS. At real lakehouse scale
        # file listing comes from the table manifest, not dir walking.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
        # Envelope parsing (cdc/envelope.py) references ~20 fields of ONE
        # from_json struct. The per-access schema-pruning rule rewrites
        # each reference into its OWN differently-pruned JsonToStructs —
        # none of them equal, so codegen CSE cannot collapse them and the
        # line is Jackson-parsed once PER FIELD. With the rule off all
        # references share the identical full-schema parse and CSE reduces
        # to ONE parse per line: measured 1.94-2.32 s -> 1.11-1.51 s on a
        # 2M-line parse+agg (interleaved best-of-3, BENCH/PLANS.md). The
        # engine's JSON reads all access most fields, so pruning never
        # wins here.
        .config("spark.sql.optimizer.enableJsonExpressionOptimization",
                "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # local mode: driver heap IS the executor heap; size it so
        # cores × per-task agg/sort buffers never spill (128 GiB box)
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
