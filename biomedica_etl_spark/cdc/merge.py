"""Key-partitioned merge-on-read apply of one micro-batch into the table.

Equivalent of ``MERGE INTO transcripts USING delta ON (conv_id, turn_idx)
WHEN MATCHED AND delta.lsn > base._lsn ...`` expressed as a DataFrame plan
(no lakehouse jars in this sandbox): each batch lands as an LWW-reduced
delta layer (Iceberg-v2 merge-on-read), and reads and folds resolve the
layers against the base by max-lsn.

Reference analogues: enrichment left-join with pass-through of unmatched
rows (``scripts/05_json_to_entrez.py:303-330``), LWW build-probe dict
(``scripts/06_serilaize_to_webdataset_parallel.py:141-143``), rewritten
output dir (``:332-334``).

Cross-batch out-of-order correctness: the stored table keeps ``_lsn`` and a
``_deleted`` tombstone per key. A delta row wins only if its lsn exceeds
the stored row's — so applying batches in ANY order converges to the same
state as the oracle's global-LSN replay, and replaying an already-applied
batch is a value-level no-op even before snapshot fencing turns it into a
structural no-op.

Physical plans (measured on local[32]; see BENCH/BASELINE.md):

- **MOR apply (the ingest path)** stages a batch by one of two
  routes that write the same layer. A batch handed over as a
  ``DataFrame`` is ONE wide Spark job: the raw batch is shuffled once on
  ``(bucket(conv_id), salt(turn_idx))``; because the aggregation keys
  are a superset of the partitioning keys, Catalyst inserts no further
  exchange. AQE sizes that uncounted exchange by bytes, so the
  ``partitionBy(bucket)`` write emits one file per bucket for a small
  batch and at most ``shuffle_salts`` for a large one (the salt spreads a
  zipf-hot conversation's bucket over ``k`` writer tasks instead of one
  straggler — see lww_reduce_aligned). Raw-batch metrics (offsets, lsn
  range, watermark) ride along via ``df.observe`` — computed inside the
  same job, zero extra passes. A batch handed over as an Arrow table
  (the runner does so for a log batch whose files fit
  ``LOCAL_MAX_BYTES``) is staged on the driver with no Spark job: one
  pass for the metrics and quarantine, then one key sort per bucket on a
  thread pool (``_stage_local``), which also counts each bucket's
  lineage row from the winners it writes. After a Spark stage, a second,
  O(delta) column-pruned job over the just-written layer produces the
  per-bucket lineage rows, off the critical path.
- **Major fold** (``compact``) rewrites the buckets that carry layers
  in ONE wide job: ``union(base, layers) as events -> LWW reduce ->
  write``. A stored row is just an event with lsn = ``_lsn``
  (tombstones are deletes), so the max-lsn-wins full-outer merge
  collapses into the same single-shuffle aligned reduce as the stage.
  ``compact_every=1`` folds every touched bucket after each commit,
  which leaves the base-only, read-optimized layout.

Scale notes:
- A stage never reads the base; a fold reads and rewrites only the
  buckets that carry layers (file pruning via the snapshot manifest).
  100 TB table + 1 GB delta => a fold reads |touched buckets|, not the
  table.
- Skew: the aligned plan's ``salt(turn_idx)`` spreads a hot CONVERSATION
  (many distinct turns in one bucket) across k reducer/writer tasks. A
  hot KEY (one turn updated many times in a batch) still lands on one
  reducer, because repartition-first forgoes map-side partial
  aggregation; measured on an update storm, neither a two-phase salted
  reduce nor the groupBy-first join plan beat it (``BENCH/PLANS.md``,
  "One LWW reduce plan"), so the aligned plan is the only one.
"""

from __future__ import annotations

import glob
import os
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .lineage import append_lineage
from .reduce import lww_reduce_aligned
from .schema import CHANGE_COLS, KEY_COLS, PAYLOAD_COLS, SYS_DELETED, SYS_LSN
from .table import (
    BUCKET_COL,
    ConcurrentCommitError,
    CowTable,
    bucket_expr,
    fits_local,
    stored_schema,
)

def _valid_pred():
    """Event validity: the pre-merge gate (reference quality gate P8 /
    null-key guard P5). Invalid events are quarantined, never applied and
    never fatal — the reference's error-row-log discipline
    (``src/pmc_oa/download_batch.py:123-139``).

    Null-SAFE by construction: a null ``op`` or ``turn_idx`` makes the
    raw conjunction NULL, and a NULL predicate is dropped by ``filter(p)``
    AND by ``filter(~p)`` — silently losing the row from both the apply
    and the quarantine. ``coalesce(pred, false)`` routes every malformed
    row to quarantine instead."""
    pred = (
        F.col("op").isin("I", "U", "D")
        & (F.col("turn_idx") >= 0)
        & F.col("conv_id").isNotNull()
        & F.col("lsn").isNotNull()
    )
    return F.coalesce(pred, F.lit(False))


def _valid_mask(changes: Any) -> Any:
    """``_valid_pred`` over an Arrow change table, as a numpy bool mask:
    the same conjunction, with a NULL result counted invalid."""
    import pyarrow as pa
    import pyarrow.compute as pc

    pred = pc.and_kleene(
        pc.and_kleene(
            pc.is_in(changes["op"], value_set=pa.array(["I", "U", "D"])),
            pc.greater_equal(changes["turn_idx"], 0)),
        pc.and_(pc.is_valid(changes["conv_id"]), pc.is_valid(changes["lsn"])))
    return pc.fill_null(pred, False).to_numpy(zero_copy_only=False)


def _raw_metric_aggs() -> list:
    v = _valid_pred()
    return [
        F.count(F.lit(1)).alias("offsets_applied"),
        F.sum((v & (F.col("op") != "D")).cast("long")).alias("rows_upserted"),
        F.sum((v & (F.col("op") == "D")).cast("long")).alias("rows_deleted"),
        F.sum((~v).cast("long")).alias("rows_quarantined"),
        F.min("lsn").alias("lsn_lo"),
        F.max("lsn").alias("lsn_hi"),
        F.max("ts").alias("watermark"),
    ]


def _write_quarantine(
    changes_bucketed: DataFrame, quarantine_dir: str, batch_id: int
) -> None:
    """O(invalid) side output, executed only when the in-flight metrics
    saw at least one invalid event — the common clean batch pays nothing."""
    out = os.path.join(quarantine_dir, f"batch_id={batch_id}")
    (
        changes_bucketed.filter(~_valid_pred())
        .drop(BUCKET_COL)
        .write.mode("overwrite")
        .parquet(out)
    )


def _with_bucket(changes: DataFrame, n_buckets: int) -> DataFrame:
    return changes.select(*CHANGE_COLS).withColumn(
        BUCKET_COL, bucket_expr("conv_id", n_buckets)
    )


def _to_stored(delta: DataFrame) -> DataFrame:
    """Reduced delta -> stored row shape (_lsn + _deleted tombstones)."""
    return delta.select(
        *KEY_COLS,
        *[F.col(c) for c in PAYLOAD_COLS if c not in KEY_COLS],
        F.col("lsn").alias(SYS_LSN),
        (F.col("op") == "D").alias(SYS_DELETED),
        F.col(BUCKET_COL),
    )


def _base_as_changes(base: DataFrame, n_buckets: int) -> DataFrame:
    """Stored rows re-expressed as change events so the merge IS the LWW
    reduce: lsn = stored _lsn, tombstone = delete. max-lsn-wins over
    union(base, delta) == the MERGE's newest-writer-wins resolution."""
    return base.select(
        F.col(SYS_LSN).alias("lsn"),
        F.when(F.coalesce(F.col(SYS_DELETED), F.lit(False)), "D")
        .otherwise("I")
        .alias("op"),
        *PAYLOAD_COLS,
    ).withColumn(BUCKET_COL, bucket_expr("conv_id", n_buckets))


def _layer_bucket_metrics(
    spark: SparkSession, stage: str, batch_id: int
) -> list[dict[str, Any]]:
    """Per-bucket lineage from the just-written delta layer: an O(delta),
    column-pruned read-back (``_lsn``, ``_deleted``, ``ts`` + the bucket
    partition dir) — never touches the raw batch again. A driver stage
    counts the same rows as it writes (``_bucket_lineage``)."""
    from pyspark.sql import types as T

    from .table import stored_schema

    # explicit schema: a layer dir holding only _SUCCESS (all rows of the
    # batch quarantined) must read as zero rows, not raise
    # 'Unable to infer schema' — lineage is derived data and must never
    # fail ingest
    schema = T.StructType(
        list(stored_schema().fields)
        + [T.StructField(BUCKET_COL, T.IntegerType(), True)]
    )
    df = spark.read.schema(schema).parquet(stage)
    rows = (
        df.groupBy(F.col(BUCKET_COL).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("offsets_applied"),
            F.sum((~F.col(SYS_DELETED)).cast("long")).alias("rows_upserted"),
            F.sum(F.col(SYS_DELETED).cast("long")).alias("rows_deleted"),
            F.min(SYS_LSN).alias("lsn_lo"),
            F.max(SYS_LSN).alias("lsn_hi"),
            F.max("ts").alias("watermark"),
        )
        .collect()
    )
    return [
        {"batch_id": batch_id, "partition_id": r["bucket"], **r.asDict()}
        for r in rows
    ]


def _stage_writer(df: DataFrame, max_records_per_file: int,
                  sort_exprs: list | None = None):
    """Bucket-partitioned stage write with optional per-file row cap (the
    reference's shard-size discipline, O7 — at scale you cap data-file size
    so downstream scans get uniform splits and object stores stay happy).

    Rows are locally sorted by (conv_id, turn_idx) inside each shuffle
    partition before writing — Iceberg's write sort-order discipline, at
    zero shuffle cost (``sortWithinPartitions`` never exchanges). Every
    parquet row group then carries tight, ordered conv_id min/max stats,
    so a point lookup's pushed-down ``conv_id = X`` predicate skips all
    but ~one row group per file instead of decoding the whole file; runs
    of equal conv_id also dictionary/RLE-compress better. With a row cap,
    the files a single task splits into cover disjoint key ranges (file
    -level pruning among them); a batch too big for one AQE-coalesced
    task spreads a bucket's salts over tasks whose files interleave
    conv_ids by design — salting trades that for spreading a hot write.

    ``sort_exprs`` overrides the local sort key (still zero-shuffle):
    ``rewrite_zorder`` passes the interleaved-bit curve expression here."""
    sort_exprs = sort_exprs if sort_exprs is not None else [
        F.col("conv_id"), F.col("turn_idx")]
    w = (df.sortWithinPartitions(F.col(BUCKET_COL), *sort_exprs)
         .write.mode("overwrite"))
    if max_records_per_file > 0:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    return w.partitionBy(BUCKET_COL)


def _written_dirs(stage: str) -> dict[int, str]:
    return {
        int(os.path.basename(p).split("=")[1]): p
        for p in glob.glob(os.path.join(stage, f"{BUCKET_COL}=*"))
    }


def _raw_metrics_local(changes: Any, valid: Any) -> dict[str, Any]:
    """``_raw_metric_aggs`` over an Arrow change table, shaped as the
    Spark ``Observation`` returns it: sums are None on an empty batch,
    and the watermark is the naive local ``datetime`` PySpark collects."""
    import numpy as np
    import pyarrow.compute as pc

    n = changes.num_rows
    is_del = pc.fill_null(pc.equal(changes["op"], "D"), False).to_numpy(
        zero_copy_only=False)

    def count(mask: Any) -> int | None:
        return int(np.count_nonzero(mask)) if n else None

    return {
        "offsets_applied": n,
        "rows_upserted": count(valid & ~is_del),
        "rows_deleted": count(valid & is_del),
        "rows_quarantined": count(~valid),
        "lsn_lo": pc.min(changes["lsn"]).as_py(),
        "lsn_hi": pc.max(changes["lsn"]).as_py(),
        "watermark": _watermark(changes["ts"]),
    }


def _watermark(ts: Any) -> Any:
    """``max(ts)`` of an Arrow column as PySpark collects it: a naive
    local ``datetime``, or None when every value is null."""
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    hi = pc.max(ts)
    return T.TimestampType().fromInternal(hi.value) if hi.is_valid else None


def _bucket_lineage(stored: Any, batch_id: int, bucket: int) -> dict[str, Any]:
    """``_layer_bucket_metrics``'s row for one bucket, from the stored
    rows the driver stage writes there: no read-back, no Spark job."""
    import pyarrow.compute as pc

    n = stored.num_rows
    dead = int(pc.sum(stored[SYS_DELETED]).as_py() or 0)
    return {"batch_id": batch_id, "partition_id": bucket, "bucket": bucket,
            "offsets_applied": n, "rows_upserted": n - dead,
            "rows_deleted": dead,
            "lsn_lo": pc.min(stored[SYS_LSN]).as_py(),
            "lsn_hi": pc.max(stored[SYS_LSN]).as_py(),
            "watermark": _watermark(stored["ts"])}


def _write_parquet_parts(tab: Any, out_dir: str,
                         max_records_per_file: int) -> None:
    """``tab`` as zstd parquet files in ``out_dir``, at most
    ``max_records_per_file`` rows each (0 = one file)."""
    import uuid

    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    step = max_records_per_file if max_records_per_file > 0 else tab.num_rows
    token = uuid.uuid4().hex
    for i, lo in enumerate(range(0, tab.num_rows, max(step, 1))):
        pq.write_table(tab.slice(lo, step), os.path.join(
            out_dir, f"part-{i:05d}-{token}.zstd.parquet"), compression="zstd")


def _stage_local(
    spark: SparkSession, table: CowTable, changes: Any, batch_id: int,
    quarantine_dir: str | None, max_records_per_file: int,
) -> dict[str, Any]:
    """Driver-local twin of the Spark stage, for a batch small enough to
    hold in Arrow: the same staged record, and the same stored rows in
    the same bucket dirs as a Spark stage writes, with no Spark job.

    One pass over the batch gives the raw metrics and the validity mask;
    invalid rows replace ``quarantine_dir/batch_id=N``. Valid rows are
    bucketed by ``bucket_of`` (once per distinct ``conv_id``), and each
    bucket then runs on a thread pool of ``defaultParallelism``: ONE sort
    of its ``(conv_id, turn_idx, lsn)`` keys yields both the LWW winners
    and their write order, and the winners are written in stored shape
    under ``stage/_bucket=b/``. Each bucket's lineage row is counted from
    those winners as they are written (``lineage`` in the record), so
    the commit needs no read-back of the layer."""
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..sources.datasource import (
        _TAKE_CAP_BYTES,
        _last_per_key,
        _row_bytes,
        _stored_write_schema,
        _take_capped,
    )
    from .schema import target_change_arrow_schema
    from .xxhash import bucket_of

    changes = changes.select(CHANGE_COLS).cast(target_change_arrow_schema())
    valid = _valid_mask(changes)
    raw = _raw_metrics_local(changes, valid)
    row_bytes = _row_bytes(changes) if changes.nbytes > _TAKE_CAP_BYTES else None
    if raw["rows_quarantined"] and quarantine_dir is not None:
        # replace, as the Spark stage's overwrite does: a batch re-staged
        # after a crash must not hold its poison rows twice
        out = os.path.join(quarantine_dir, f"batch_id={batch_id}")
        shutil.rmtree(out, ignore_errors=True)
        _write_parquet_parts(_take_capped(changes, np.flatnonzero(~valid),
                                          row_bytes=row_bytes), out, 0)

    rows = np.flatnonzero(valid)
    convs = changes["conv_id"].take(pa.array(rows))
    distinct = pc.unique(convs)
    of_conv = np.array([bucket_of(c, table.n_buckets)
                        for c in distinct.to_pylist()], np.int32)
    bucket = of_conv[pc.index_in(convs, value_set=distinct).to_numpy()]
    order = np.argsort(bucket, kind="stable")
    cuts = np.flatnonzero(np.diff(bucket[order])) + 1
    keys = changes.select(["conv_id", "turn_idx", "lsn"])
    stage = table.new_data_dir()
    schema = _stored_write_schema()

    def write_bucket(part: Any) -> dict[str, Any]:
        mine = rows[part]  # ascending: the sort above is stable
        winners = mine[_last_per_key(_take_capped(keys, mine),
                                     ["conv_id", "turn_idx"], ["lsn"],
                                     key_order=True)]
        won = _take_capped(changes, winners, row_bytes=row_bytes)
        stored = pa.table(
            [won[c] for c in PAYLOAD_COLS]
            + [won["lsn"], pc.equal(won["op"], "D")], schema=schema)
        b = int(bucket[part[0]])
        _write_parquet_parts(
            stored, os.path.join(stage, f"{BUCKET_COL}={b}"),
            max_records_per_file)
        return _bucket_lineage(stored, batch_id, b)

    lineage: list[dict[str, Any]] = []
    if len(rows):
        with ThreadPoolExecutor(spark.sparkContext.defaultParallelism) as pool:
            lineage = list(pool.map(write_bucket, np.split(order, cuts)))
    return {"batch_id": batch_id, "stage": stage, "raw": raw,
            "written": _written_dirs(stage), "lineage": lineage}


def mor_stage_batch(
    spark: SparkSession,
    table: CowTable,
    changes: Any,
    batch_id: int,
    shuffle_salts: int = 4,
    quarantine_dir: str | None = None,
    max_records_per_file: int = 0,
    pre_reduced: bool = False,
) -> dict[str, Any] | None:
    """First half of a MOR apply: LWW-reduce the batch and write the
    delta layer to an UNCOMMITTED staging dir. Returns the staging record
    (``batch_id``, ``stage``, ``raw`` metrics, ``written`` bucket dirs)
    for ``mor_commit_staged``, or None if the batch is already committed.

    ``changes`` is either a ``DataFrame``, staged by one wide Spark job
    (the aligned reduce feeding the bucket-partitioned write, raw metrics
    observed in flight), or a ``pyarrow.Table`` in the target change
    schema, staged on the driver with no Spark job (``_stage_local``).
    The runner hands a MOR log batch over as Arrow when its files fit
    ``LOCAL_MAX_BYTES``; both routes write the same rows to the same
    buckets and return the same record. ``shuffle_salts`` shapes the
    Spark plan only; the driver-local stage ignores it.

    Split from the commit so a pipelined runner can overlap batch k+1's
    stage with batch k's commit + lineage (the writes of distinct MOR
    batches are independent — only the snapshot chain serializes). A
    crash after staging leaves only an unreferenced dir, exactly the
    pre-existing crash model.
    """
    if table.is_committed(batch_id):
        return None
    if not isinstance(changes, DataFrame):
        return _stage_local(spark, table, changes, batch_id, quarantine_dir,
                            max_records_per_file)
    bucketed = _with_bucket(changes, table.n_buckets)

    obs = Observation()
    # metrics observe the RAW stream (so quarantined events are counted and
    # the consumed lsn range is complete); the merge consumes valid rows only
    observed = bucketed.observe(obs, *_raw_metric_aggs())
    if pre_reduced:
        # caller guarantees one row per key (the DML planners derive their
        # change sets from the RESOLVED live view, so keys are unique by
        # construction): the LWW reduce would be an identity sort-aggregate
        # over millions of full-payload rows — replace it with the one
        # hash exchange the bucket-partitioned write needs, salt-spread so
        # a hot bucket still writes on shuffle_salts tasks
        delta = observed.filter(_valid_pred()).repartition(
            F.col(BUCKET_COL),
            F.pmod(F.xxhash64("conv_id"), F.lit(max(shuffle_salts, 1))))
    else:
        delta = lww_reduce_aligned(observed.filter(_valid_pred()),
                                   BUCKET_COL, shuffle_salts=shuffle_salts)
    stage = table.new_data_dir()
    _stage_writer(_to_stored(delta), max_records_per_file).parquet(stage)
    try:
        raw = obs.get
    except Exception:  # noqa: BLE001
        # AQE's empty-relation re-plan can drop the CollectMetrics row when
        # the filter downstream of observe() leaves zero rows (every event
        # quarantined) — Observation.get then fails deserializing a
        # schema-less row. Recompute the raw metrics with one O(batch)
        # aggregation job; this path only runs on such degenerate batches.
        raw = bucketed.agg(*_raw_metric_aggs()).collect()[0].asDict()
    if raw["offsets_applied"] and raw["rows_quarantined"] and quarantine_dir is not None:
        _write_quarantine(bucketed, quarantine_dir, batch_id)
    return {"batch_id": batch_id, "stage": stage, "raw": raw,
            "written": _written_dirs(stage)}


def mor_commit_staged(
    spark: SparkSession,
    table: CowTable,
    staged: dict[str, Any],
    lineage_dir: str | None = None,
    lineage_executor: Any = None,
    wap: bool = False,
) -> dict[str, Any] | None:
    """Publish a staged MOR layer: snapshot commit + lineage emit.

    Returns the committed snapshot dict. ``wap=True``
    (write-audit-publish): the snapshot commit itself is STAGED —
    invisible to readers and fencing until ``table.publish_staged()`` —
    and lineage rows are computed eagerly and ride back on the returned
    dict under ``_lineage_rows`` for the runner to emit at publish, so an
    aborted batch leaves no lineage."""
    batch_id, stage, raw = staged["batch_id"], staged["stage"], staged["raw"]
    written = staged["written"]

    def lineage_rows() -> list[dict[str, Any]]:
        # the driver stage counted its rows as it wrote them; a Spark
        # stage's rows come from an O(delta) read-back of its layer
        rows = staged.get("lineage")
        return (rows if rows is not None
                else _layer_bucket_metrics(spark, stage, batch_id))

    if raw["offsets_applied"] == 0:
        return table.commit_delta(batch_id, {}, None, None,
                                  {"rows_upserted": 0, "rows_deleted": 0},
                                  staged=wap)
    snap = table.commit_delta(
        batch_id,
        written,
        raw["lsn_lo"],
        raw["lsn_hi"],
        {
            # raw change-event counts from the in-flight observation; the
            # per-bucket lineage rows carry the post-reduce mutation counts
            "rows_upserted": raw["rows_upserted"],
            "rows_deleted": raw["rows_deleted"],
            "rows_quarantined": raw["rows_quarantined"],
            "offsets_applied": raw["offsets_applied"],
            "buckets_appended": len(written),
        },
        staged=wap,
    )
    if wap:
        if snap is not None and written:
            # lineage deferred to publish: compute the rows now (the
            # layer files exist), emit only if the audit passes
            snap = {**snap, "_lineage_rows": lineage_rows()}
        return snap
    # written == {} means every offset was consumed but zero valid rows
    # survived (all quarantined): the commit above records the offset range,
    # and there is no layer to derive lineage from
    if snap is not None and lineage_dir is not None and written:
        def _emit(snapshot_id: int = snap["snapshot_id"]) -> None:
            append_lineage(lineage_dir, lineage_rows(),
                           snapshot_id=snapshot_id)

        if lineage_executor is not None:
            # lineage is DERIVED data (recomputable from the committed layer
            # files), so its O(delta) read-back job may run off the critical
            # path and overlap the next batch's wide job; the runner drains
            # the executor before reporting completion
            lineage_executor.submit(_emit)
        else:
            _emit()
    return snap


def mor_apply_batch(
    spark: SparkSession,
    table: CowTable,
    changes: Any,
    batch_id: int,
    lineage_dir: str | None = None,
    shuffle_salts: int = 4,
    lineage_executor: Any = None,
    quarantine_dir: str | None = None,
    max_records_per_file: int = 0,
    wap: bool = False,
    pre_reduced: bool = False,
) -> dict[str, Any] | None:
    """Merge-on-read apply: write the LWW-reduced delta as a new layer.

    Iceberg-v2-MOR-style ingest: cost is O(delta) and the base table is
    never read or rewritten. ``changes`` is a ``DataFrame`` or an Arrow
    table, staged as ``mor_stage_batch`` describes; a Spark stage adds
    one tiny read-back job on the written layer for per-bucket lineage.
    Readers resolve layers by max-_lsn (table.read_raw); ``compact``
    folds layers back into the base.
    """
    staged = mor_stage_batch(spark, table, changes, batch_id,
                             shuffle_salts=shuffle_salts,
                             quarantine_dir=quarantine_dir,
                             max_records_per_file=max_records_per_file,
                             pre_reduced=pre_reduced)
    if staged is None:
        return None
    return mor_commit_staged(spark, table, staged, lineage_dir=lineage_dir,
                             lineage_executor=lineage_executor, wap=wap)


def compact(
    spark: SparkSession, table: CowTable, shuffle_salts: int = 4,
    max_records_per_file: int = 0, buckets: list[int] | None = None,
    purge_tombstones_below: int | None = None,
) -> dict[str, Any] | None:
    """Fold merge-on-read delta layers into the base (a major fold: the
    buckets that have layers are rewritten base-only). Tombstones are retained — an out-of-order
    batch with a lower lsn must still lose to a compacted delete.

    ``purge_tombstones_below=W`` additionally DROPS tombstone rows with
    ``_lsn < W`` from the rewritten base — the Cassandra ``gc_grace`` /
    Iceberg equality-delete-compaction discipline, and the final step of a
    physical erase (after ``delete_where`` and a fold the keys themselves
    linger in the base as payload-null tombstones; a purging compact
    removes them).
    ``W`` is the caller's guarantee that every FUTURE event carries
    ``lsn >= W`` (the source's replication low-water mark): any such event
    would beat a ``< W`` tombstone under LWW anyway, so dropping it cannot
    change any future merge outcome — while a straggler BELOW ``W`` is by
    contract impossible (were one to arrive, it would now insert instead
    of losing; that is the same trade every gc_grace system makes). Purging
    is only sound in a fold that INCLUDES the base: a minor fold's merged
    layer must keep shadowing base rows, so ``compact_layers`` never
    purges. The purged count lands in the commit summary
    (``tombstones_purged``), measured in-flight via ``df.observe``.

    ``buckets=None`` compacts every bucket that has layers; an explicit
    list compacts only those (PARTIAL compaction — the Iceberg/Delta
    bin-pack discipline: when ingest skew concentrates layers on a few hot
    buckets, maintenance rewrites only them and the cold buckets' bytes
    are never touched; the runner compacts exactly the buckets at the
    layer threshold).

    Same single-shuffle aligned plan as the merge: stored rows (base +
    layers) are re-expressed as events and LWW-reduced straight into the
    bucket-partitioned write — one wide shuffle, salt-spread so a hot
    bucket compacts on ``shuffle_salts`` tasks instead of one.

    Safe to run CONCURRENT with ingest on the same table (the async-
    maintenance mode of ``CdcRunner``): the commit records exactly which
    layers the fold consumed and preserves any layer an interleaved apply
    appended since (``CowTable.commit_compaction``), and a lost
    optimistic-concurrency race retries the METADATA only — the staged
    fold output stays valid against any newer parent."""
    snap = table.current_snapshot()
    if not snap:
        return None
    if purge_tombstones_below is None:
        if not snap.get("delta_dirs"):
            return None
        candidates = sorted(int(b) for b in snap["delta_dirs"])
    else:
        # a purging compact must also rewrite LAYER-LESS buckets: a major
        # fold keeps tombstones (a lower-lsn straggler must still lose), so
        # after delete_where + compact they live in the base with zero
        # delta layers, and the layers-only candidate set would silently
        # no-op the advertised erase chain
        candidates = sorted({int(b) for b in snap.get("bucket_dirs", {})}
                            | {int(b) for b in snap.get("delta_dirs", {})})
        if not candidates:
            return None
    buckets = candidates if buckets is None else sorted(
        set(buckets) & set(candidates))
    if not buckets:
        return None
    folded = {b: list(snap.get("delta_dirs", {}).get(str(b), []))
              for b in buckets}
    # pin the fold's read set to the planned snapshot: a concurrent apply
    # committing between plan and read must not smuggle unfolded rows into
    # a base that the commit would then claim covers them
    stored = table.read_stored_files(spark, buckets=buckets,
                                     snapshot_id=snap["snapshot_id"])
    as_events = _base_as_changes(stored, table.n_buckets)
    resolved = _to_stored(
        lww_reduce_aligned(as_events, BUCKET_COL, shuffle_salts=shuffle_salts)
    )
    purge_obs: Observation | None = None
    if purge_tombstones_below is not None:
        purge_obs = Observation()
        is_purged = F.col(SYS_DELETED) & (
            F.col(SYS_LSN) < F.lit(int(purge_tombstones_below)))
        resolved = resolved.observe(
            purge_obs,
            F.coalesce(F.sum(is_purged.cast("long")), F.lit(0)).alias("purged"),
        ).filter(~is_purged)
    stage = table.new_data_dir()
    _stage_writer(resolved, max_records_per_file).parquet(stage)
    rewritten = _written_dirs(stage)
    # every bucket in delta_dirs has at least one row; still, carry any
    # bucket that produced no output file by mapping it to an empty new dir
    for b in buckets:
        if b not in rewritten:
            empty = os.path.join(stage, f"{BUCKET_COL}={b}")
            os.makedirs(empty, exist_ok=True)
            rewritten[b] = empty
    summary = {"commit_type": "compact", "buckets_rewritten": len(rewritten)}
    if purge_obs is not None:
        summary["tombstones_purged"] = purge_obs.get["purged"]
        summary["purge_watermark"] = int(purge_tombstones_below)
    # commit with a metadata-only retry: losing the optimistic-concurrency
    # race to an interleaved apply does NOT invalidate the fold (appenders
    # only add layers; commit_compaction preserves unfolded ones)
    for attempt in range(4):
        try:
            return table.commit_compaction(
                rewritten, folded, summary,
            )
        except ConcurrentCommitError:
            if attempt == 3:
                raise
            table.refresh()
    return None  # unreachable


def _fold_bucket_local(files: list[str], out_dir: str,
                       max_records_per_file: int) -> None:
    """Minor-fold one bucket on the driver: its layer files' per-key
    max-``_lsn`` winners (tombstones and ``_lsn`` retained), written in
    ``(conv_id, turn_idx)`` order and stored shape to ``out_dir`` — the
    shape ``_stage_local`` writes. Only the key columns are sorted; the
    winners are gathered in bounded chunks (``_take_capped``), so a
    bucket holding over 2 GiB of text folds too."""
    from ..sources.datasource import (
        _last_per_key,
        _read_stored_arrow,
        _stored_write_schema,
        _take_capped,
    )

    stored = _read_stored_arrow(files)
    rows = _last_per_key(stored, ["conv_id", "turn_idx"], [SYS_LSN],
                         key_order=True)
    _write_parquet_parts(_take_capped(stored, rows).cast(
        _stored_write_schema()), out_dir, max_records_per_file)


def compact_layers(
    spark: SparkSession, table: CowTable, shuffle_salts: int = 4,
    min_layers: int = 2, max_records_per_file: int = 0,
    buckets: list[int] | None = None,
    tier_max_bytes: int = 0, tier_collapse_at: int = 0,
) -> dict[str, Any] | None:
    """MINOR compaction: fold a bucket's delta layers into ONE merged
    layer; the base is never read or rewritten. Iceberg's
    ``rewrite_position_delete_files`` / LSM minor-compaction discipline.

    Cost is O(delta rows in the chosen buckets), independent of base
    size — THE maintenance lever at the 100 TB design point, where the
    base dwarfs any day's deltas by orders of magnitude: routine folds
    keep per-bucket layer counts (read amplification) bounded for the
    price of the deltas alone, and the O(table) base fold (``compact``)
    runs rarely, if ever.

    Correctness: readers resolve base ∪ layers by max-``_lsn`` per key
    (``CowTable.read_raw``), so replacing the folded layers with their
    per-key max-lsn winners changes no resolution — the within-layers
    winner is exactly the row that would have beaten the base (or lost
    to a newer layer). Tombstones are RETAINED in the merged layer: the
    base still holds the pre-image, and an out-of-order lower-lsn event
    must still lose to the folded delete. A bucket too big for the
    driver takes the same single-shuffle aligned salted LWW plan as
    ingest and major compaction.

    Safe to run CONCURRENT with ingest (``commit_layer_rewrite`` pops
    only the layers this fold read; interleaved appends stay live; a
    lost commit race retries metadata only).

    Each bucket is routed by its planned delta BYTES (``fits_local``):
    a bucket of at most ``LOCAL_MAX_BYTES`` — the limit the stage and
    point reads route by too, read at call time — is folded on the
    driver in Arrow (``_fold_bucket_local``, one bucket per thread of a
    ``defaultParallelism`` pool) and starts no Spark job; a bigger one
    takes the salted exchange plan, whose tasks bound what any one
    process holds. Layers are laid out per bucket on disk already, so
    the driver fold needs no exchange, and it skips the fixed cost of a
    Python task (~0.3 s on a 4-vCPU host) that a few-millisecond bucket
    fold would otherwise pay. Sizing uses the planned snapshot's own
    file inventory (``os.path.getsize`` here; a manifest-recorded size
    column on an object store), so routing costs no data read. NOTE
    these are COMPRESSED bytes: in-memory expansion is payload-dependent
    (the 256M soak's zipf-hot bucket expanded ~20x). The router is
    purely a memory/perf lever — correctness never depends on it,
    because the Arrow fold kernel sorts only the keys and gathers the
    winners in bounded chunks, so it never hits the int32 'offset
    overflow' a >2 GiB text column otherwise would. The two routes
    write the same rows (pinned in tests); when a fold mixes them, the
    exchange plan writes the stage first and the driver buckets follow.

    ``tier_max_bytes`` > 0 turns folds TIERED (size-tiered LSM / RocksDB
    universal-compaction discipline): within each bucket, only layers of
    at most that many bytes — the fresh tier — are folded, and a merged
    layer that has outgrown the tier is NEVER re-read by later folds.
    Leveled folding (the default) re-reads the ever-growing merged layer
    on every threshold crossing, which on a low-duplicate-collapse stream
    turns routine maintenance quadratic in ingested rows; tiered folding
    keeps each row's minor-fold touch count at one for the price of a few
    extra resident layers (the large tier). Folding a layer SUBSET is
    LWW-safe: resolution is max-``_lsn`` over base ∪ all layers, which is
    order- and grouping-independent, and tombstones are retained.
    ``tier_collapse_at`` > 0 bounds read amplification: a bucket whose
    TOTAL layer count (large tier included) reaches it gets a full fold
    of all its layers even when the fresh tier alone is below
    ``min_layers``. Tier-selected subsets always take the local plan
    (their size is bounded by construction: layers ≤ tier_max_bytes
    each); collapse folds route by bytes like any full fold.
    ``tier_max_bytes=-1`` self-tunes per bucket: each fold selects the
    bucket's SMALLEST similar-size run of >= min_layers layers (run =
    anchored at its smallest member, admitting layers <= 2.5x the
    anchor) — fresh appends fold together, their merged outputs fold
    with each other when a same-magnitude peer appears, and a grown
    merged layer re-reads only when the rest of the bucket reaches its
    own magnitude, so each row is minor-folded O(log(bucket/fresh))
    times overall (see the inline comment for why a global anchor goes
    quadratic under zipf skew). Callers need no knowledge of their
    payload's layer sizes.

    The commit summary records ``bytes_read`` (the planned files' bytes,
    both routes) and ``fold_tasks`` (buckets folded on the driver), so
    read amplification is visible from the snapshot log alone."""
    snap = table.current_snapshot()
    if not snap or not snap.get("delta_dirs"):
        return None
    eligible = sorted(
        int(b) for b, ds in snap["delta_dirs"].items() if len(ds) >= min_layers
    )
    if buckets is not None:
        eligible = sorted(set(eligible) & set(buckets))
    if not eligible:
        return None
    def _dir_files(d: str) -> list[str]:
        return sorted(glob.glob(os.path.join(table.root, d, "*.parquet")))

    # read set pinned via the planned snapshot's per-bucket file inventory
    if tier_max_bytes != 0:
        folded, files_by_bucket, bucket_bytes, subset_b = {}, {}, {}, set()
        for b in eligible:
            dirs = list(snap["delta_dirs"][str(b)])
            per_dir = {d: _dir_files(d) for d in dirs}
            sizes = {d: sum(os.path.getsize(f) for f in per_dir[d])
                     for d in dirs}
            if tier_collapse_at > 0 and len(dirs) >= tier_collapse_at:
                sel = dirs  # full fold: read-amplification bound reached
            elif tier_max_bytes < 0:
                # AUTO tier (size-tiered LSM, per bucket): fold the
                # SMALLEST similar-size run with >= min_layers members.
                # A run is anchored at its smallest layer and admits
                # layers <= 2.5x the anchor — fresh appends fold with
                # fresh appends, the merged outputs later fold with each
                # other when a same-magnitude peer appears, and a grown
                # merged layer is only ever re-read once the rest of the
                # bucket has grown to its own magnitude (geometric — each
                # row is folded O(log(bucket/fresh)) times overall).
                # Heavy-collapse tables self-correct to leveled folding:
                # the merged layer stays fresh-append-sized, so it keeps
                # qualifying for the smallest run, which is the cheap and
                # correct behavior there. (The previous global anchor —
                # 2.5x the LARGEST bucket's freshest append — let zipf
                # skew re-admit every average bucket's grown merged layer
                # forever: folds measured growing linearly with table
                # size on the 128M/64-batch soak. The per-bucket run rule
                # is what flattens them.)
                by_size = sorted(dirs, key=lambda d: (sizes[d], d))
                sel = None
                i = 0
                while i < len(by_size):
                    anchor = max(sizes[by_size[i]], 1)
                    run = [by_size[i]]
                    j = i + 1
                    while (j < len(by_size)
                           and sizes[by_size[j]] <= 2.5 * anchor):
                        run.append(by_size[j])
                        j += 1
                    if len(run) >= min_layers:
                        sel = run
                        break
                    i = j
                if sel is None:
                    continue  # no foldable run: every tier is a singleton
                if len(sel) < len(dirs):
                    subset_b.add(b)
            else:
                small = [d for d in dirs if sizes[d] <= tier_max_bytes]
                if len(small) >= min_layers:
                    sel = small
                    if len(sel) < len(dirs):
                        subset_b.add(b)
                else:
                    continue  # only large-tier layers: leave them
            folded[b] = sel
            files_by_bucket[b] = [f for d in sel for f in per_dir[d]]
            bucket_bytes[b] = sum(sizes[d] for d in sel)
        eligible = sorted(folded)
        if not eligible:
            return None
    else:
        subset_b = set()
        folded = {b: list(snap["delta_dirs"][str(b)]) for b in eligible}
        files_by_bucket = {b: table._delta_files_for(snap, [b])
                           for b in eligible}
        bucket_bytes = {b: sum(os.path.getsize(f) for f in files_by_bucket[b])
                        for b in eligible}
    # a tier-selected SUBSET is only expressible by the file-inventory
    # (local) reader — the exchange plan reads whole buckets
    local_b = [b for b in eligible
               if b in subset_b or fits_local(files_by_bucket[b])]
    shuffle_b = sorted(set(eligible) - set(local_b))
    stage = table.new_data_dir()
    if shuffle_b:
        # first: its overwrite-mode writer replaces the stage dir
        layers = table.read_delta_layer_files(spark, buckets=shuffle_b,
                                              snapshot_id=snap["snapshot_id"])
        as_events = _base_as_changes(layers, table.n_buckets)
        _stage_writer(_to_stored(
            lww_reduce_aligned(as_events, BUCKET_COL,
                               shuffle_salts=shuffle_salts)
        ), max_records_per_file).parquet(stage)
    if local_b:
        from concurrent.futures import ThreadPoolExecutor

        def fold(b: int) -> None:
            _fold_bucket_local(files_by_bucket[b], os.path.join(
                stage, f"{BUCKET_COL}={b}"), max_records_per_file)

        with ThreadPoolExecutor(spark.sparkContext.defaultParallelism) as pool:
            list(pool.map(fold, local_b))
    rewritten = _written_dirs(stage)
    for b in eligible:
        if b not in rewritten:
            empty = os.path.join(stage, f"{BUCKET_COL}={b}")
            os.makedirs(empty, exist_ok=True)
            rewritten[b] = empty
    for attempt in range(4):
        try:
            return table.commit_layer_rewrite(
                rewritten, folded,
                {"commit_type": "compact-layers",
                 "buckets_rewritten": len(rewritten),
                 "bytes_read": sum(bucket_bytes.values()),
                 "fold_tasks": len(local_b)},
            )
        except ConcurrentCommitError:
            if attempt == 3:
                raise
            table.refresh()
    return None  # unreachable


def rewrite_small_files(
    spark: SparkSession, table: CowTable,
    target_file_bytes: int = 128 << 20, min_files: int = 2,
    shuffle_salts: int = 1,
) -> dict[str, Any] | None:
    """Iceberg ``rewrite_data_files`` (bin-pack) analogue: coalesce buckets
    fragmented into many small files — the object-store small-files
    problem that salting and per-file row caps create by design — back
    into ~target-sized files, folding any delta layers in along the way.

    Candidate selection is driver-side metadata only (file sizes + footer
    row counts from the snapshot's dirs; no Spark job): a bucket
    qualifies when it holds >= ``min_files`` data files each under half
    the target. The rewrite is the same single-shuffle aligned LWW plan
    as compaction (tombstones retained — a late lower-lsn batch must
    still lose to a rewritten delete), but with ``shuffle_salts=1`` by
    default: bin-packing cold fragmented buckets wants exactly one writer
    task per bucket so the output actually coalesces; hot-bucket
    spreading is the ingest trade, not the maintenance one. The per-file
    row cap is derived from the candidates' observed compressed
    bytes/row, so output files land near the byte target.

    Reference analogue: the fixed-size output re-shard pass in
    ``scripts/06_serilaize_to_webdataset_parallel.py:214-219``, done here
    as a table maintenance op under the normal commit protocol."""
    import pyarrow.parquet as pq

    snap = table.current_snapshot()
    if not snap:
        return None
    dirs: dict[int, list[str]] = {}
    for b, d in snap.get("bucket_dirs", {}).items():
        dirs.setdefault(int(b), []).append(d)
    for b, ds in snap.get("delta_dirs", {}).items():
        dirs.setdefault(int(b), []).extend(ds)
    half = max(1, target_file_bytes // 2)
    buckets: list[int] = []
    cand_bytes = cand_rows = 0
    for b, ds in sorted(dirs.items()):
        paths = [p for d in ds
                 for p in glob.glob(os.path.join(table.root, d, "*.parquet"))]
        sizes = [os.path.getsize(p) for p in paths]
        if len([s for s in sizes if s < half]) >= min_files:
            buckets.append(b)
            cand_bytes += sum(sizes)
            cand_rows += sum(pq.ParquetFile(p).metadata.num_rows
                             for p in paths)
    if not buckets or cand_rows == 0:
        return None
    bytes_per_row = max(1.0, cand_bytes / cand_rows)
    cap = max(1, int(target_file_bytes / bytes_per_row))
    stored = table.read_stored_files(spark, buckets=buckets)
    as_events = _base_as_changes(stored, table.n_buckets)
    resolved = _to_stored(
        lww_reduce_aligned(as_events, BUCKET_COL, shuffle_salts=shuffle_salts)
    )
    stage = table.new_data_dir()
    _stage_writer(resolved, cap).parquet(stage)
    rewritten = _written_dirs(stage)
    for b in buckets:
        if b not in rewritten:
            empty = os.path.join(stage, f"{BUCKET_COL}={b}")
            os.makedirs(empty, exist_ok=True)
            rewritten[b] = empty
    return table.commit(
        None, rewritten, snap["lsn_lo"], snap["lsn_hi"],
        {"commit_type": "rewrite-small-files",
         "buckets_rewritten": len(rewritten),
         "target_file_bytes": target_file_bytes,
         "max_records_per_file": cap},
    )


def _zorder_curve(ts_rank, key_rank, bits: int):
    """Interleaved-bit (Morton) curve over two ``bits``-wide long ranks —
    pure JVM bit arithmetic (shiftright/and/shiftleft/or), one
    whole-stage-codegen expression, no UDF. ``ts_rank`` takes the odd
    (higher) bit positions so equal-width steps of either dimension move
    the curve comparably."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(ts_rank, i).bitwiseAND(F.lit(1)),
                        2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(key_rank, i).bitwiseAND(F.lit(1)),
                        2 * i)
        )
    return z


def rewrite_zorder(
    spark: SparkSession, table: CowTable,
    bits: int = 16, shuffle_salts: int = 1,
    max_records_per_file: int = 0, buckets: list[int] | None = None,
) -> dict[str, Any] | None:
    """Iceberg ``rewrite_data_files(strategy => 'sort', sort_order =>
    'zorder(ts, conv_id)')`` analogue: rewrite data files locally ordered
    along a Morton curve over (ts, conv_id), so parquet row-group min/max
    stats are tight on BOTH dimensions at once — time-range scans (the
    change-feed / "transcripts since T" queries) and conv_id point lookups
    each skip most row groups of the same files. The default write sort
    (conv_id, turn_idx) is perfect for point lookups but scatters ts;
    Z-order is the maintenance trade when both access paths matter.

    Plan shape is identical to compaction — one aligned LWW shuffle
    folding any delta layers, tombstones retained — plus one cheap
    column-pruned (min,max,count) pass over ``ts`` to fix the linear rank
    scale (parquet footer stats answer it without decoding pages). The
    conv_id dimension ranks by ``pmod(xxhash64, 2^bits)``: uniform by
    construction, no stats pass, and equality lookups only need locality,
    not order. The local sort itself is ``sortWithinPartitions`` — zero
    extra shuffle, same cost class as the default sorted write.

    At 100 TB this runs per-bucket-incremental exactly like partial
    compaction (``buckets=[...]``): maintenance touches only the buckets
    whose read pattern warrants it; the curve expression is pure JVM bit
    arithmetic inside whole-stage codegen.

    Reference analogue: the reference re-sorts serialized shards by
    (journal, date) before webdataset packing
    (``scripts/06_serilaize_to_webdataset_parallel.py:151-158``) — a
    one-dimensional layout sort; this is its two-dimensional lakehouse
    form under the normal commit protocol."""
    snap = table.current_snapshot()
    if not snap:
        return None
    stored = table.read_stored_files(spark, buckets=buckets)
    # rank scale for ts: one footer-stat-served narrow agg (no payload read)
    span = stored.agg(
        F.min(F.unix_timestamp("ts")).alias("lo"),
        F.max(F.unix_timestamp("ts")).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if span["n"] == 0:
        return None
    lo = float(span["lo"]) if span["lo"] is not None else 0.0
    hi = float(span["hi"]) if span["hi"] is not None else lo
    scale = max(hi - lo, 1e-9)
    top = (1 << bits) - 1
    as_events = _base_as_changes(stored, table.n_buckets)
    resolved = _to_stored(
        lww_reduce_aligned(as_events, BUCKET_COL, shuffle_salts=shuffle_salts)
    )
    ts_rank = F.least(
        F.lit(top).cast("long"),
        F.floor(
            (F.coalesce(F.unix_timestamp("ts").cast("double"), F.lit(lo))
             - F.lit(lo)) * F.lit(top / scale)
        ).cast("long"),
    )
    key_rank = F.pmod(F.xxhash64(F.col("conv_id")), F.lit(1 << bits))
    z = _zorder_curve(ts_rank, key_rank, bits)
    stage = table.new_data_dir()
    _stage_writer(resolved, max_records_per_file,
                  sort_exprs=[z, F.col("conv_id"), F.col("turn_idx")]
                  ).parquet(stage)
    rewritten = _written_dirs(stage)
    target = (sorted(int(b) for b in snap.get("bucket_dirs", {}))
              if buckets is None else sorted(buckets))
    for b in target:
        if b not in rewritten:
            empty = os.path.join(stage, f"{BUCKET_COL}={b}")
            os.makedirs(empty, exist_ok=True)
            rewritten[b] = empty
    return table.commit(
        None, rewritten, snap["lsn_lo"], snap["lsn_hi"],
        {"commit_type": "rewrite-zorder", "zorder_bits": bits,
         "zorder_cols": ["ts", "conv_id"],
         "buckets_rewritten": len(rewritten)},
    )


def rebucket(
    spark: SparkSession, table: CowTable, new_n_buckets: int,
    shuffle_salts: int = 4, max_records_per_file: int = 0,
) -> dict[str, Any]:
    """Partition-spec evolution (Iceberg bucket-count change): rewrite the
    whole table into ``new_n_buckets`` with the SAME single aligned
    shuffle the merge uses — stored rows (base + any delta layers)
    re-expressed as events, bucketed under the NEW spec, LWW-reduced
    straight into the bucket-partitioned write. Tombstones are retained
    (an out-of-order old batch must still lose to a rebucketed delete).
    The new manifest records the new spec; older retained snapshots keep
    theirs, so time travel and per-snapshot point-lookup pruning keep
    working across the evolution. This is the maintenance op a growing
    table runs when its bucket count stops matching its size — at 100 TB
    it is one full-table shuffle, the same cost class as a full
    compaction, amortized over the table's next growth epoch."""
    snap = table.current_snapshot()
    assert snap is not None, "create() first"
    stored = table.read_stored_files(spark)
    as_events = _base_as_changes(stored, new_n_buckets)
    resolved = _to_stored(
        lww_reduce_aligned(as_events, BUCKET_COL, shuffle_salts=shuffle_salts)
    )
    stage = table.new_data_dir()
    _stage_writer(resolved, max_records_per_file).parquet(stage)
    return table.commit_rebucket(
        _written_dirs(stage), new_n_buckets, snap["lsn_lo"], snap["lsn_hi"],
        {"from_n_buckets": snap["n_buckets"]},
    )


def delete_where(
    spark: SparkSession,
    table: CowTable,
    predicate: Any,
    batch_id: int | None = None,
    lineage_dir: str | None = None,
    lineage_executor: Any = None,
    shuffle_salts: int = 4,
    max_records_per_file: int = 0,
) -> dict[str, Any] | None:
    """Predicate delete (``DELETE FROM t WHERE <predicate>``) as ONE commit.

    The reference-side analogue is dropping records that fail a late gate
    (license revoked, takedown list) from an already-built corpus — the
    reference rebuilds from scratch (``scripts/02_extract_media.py`` re-runs
    the whole filter chain); here it is an O(matched) engine operation.

    Plan: one LWW-resolved scan of the live table with ``predicate``
    evaluated on the winners (it sits ABOVE the max-lsn aggregate by
    necessity — the predicate must see current values, so O(live rows)
    read is the floor for predicate DML; key-column predicates do push
    through the aggregate's grouping keys), synthesize ``op='D'`` change
    rows for every match at a fresh LSN strictly above every LSN the table
    has ever committed (driver-side metadata max over snapshot ``lsn_hi``
    — O(snapshots), no scan), and route them through the SAME merge
    machinery as ingest — so the WRITE is O(matched), not O(table).
    Everything is inherited, not re-implemented:

    - the tombstones land as an O(matched) delta layer — the base is
      never read or rewritten, and ``read_changes_since`` serves the
      deletes to downstream CDC subscribers like any other change set.
      A tombstone keeps keys + ``_lsn`` only (payload columns null).
    - physical erase (GDPR/takedown): ``compact`` folds the tombstones
      into the base, then ``expire_snapshots`` + ``remove_orphaned_files``
      drop every file that still holds the deleted text. Keys remain as
      tombstones so a straggling out-of-order upsert with a lower LSN
      still loses.
    - exactly-once: pass a stable ``batch_id`` and retries fence exactly
      like ingest batches — the fencing NAMESPACE IS SHARED with ingest
      batch ids, so pick DML ids well outside the log's range (e.g.
      9_000_000+); an id an ingest batch already used fences the DML
      into a silent no-op. The default ``None`` skips fencing (ad-hoc
      maintenance).
    - lineage: per-bucket rows via ``lineage_dir``, same as ingest.

    Because the delete LSN is above all committed LSNs, the tombstones win
    LWW against every existing version, and a subsequent ``delete_where``
    gets a strictly larger LSN (the commit records it in ``lsn_hi``).
    ``predicate`` is a Column or a SQL string over the payload columns.
    Returns the committed snapshot dict (or None on a fenced batch_id).
    """
    from .schema import PAYLOAD_FIELDS

    if batch_id is not None and table.is_committed(batch_id):
        return None
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    delete_lsn = _fresh_lsn(table)
    types = dict(PAYLOAD_FIELDS)
    # column pruning: the delete only needs keys out plus whatever the
    # predicate reads. For a SQL-string predicate, any real column
    # reference must appear as a word token, so a word-match over the
    # payload columns safely OVER-approximates (a literal containing a
    # column name merely reads one extra column); Column predicates fall
    # back to the full payload. This is what keeps a role-only delete
    # from scanning the fat text column at 100 TB.
    columns = None
    if isinstance(predicate, str):
        import re

        # IGNORECASE: Spark resolves identifiers case-insensitively, so
        # "ROLE = 'x'" is a valid reference to role — a case-sensitive
        # match would under-approximate and prune a referenced column
        columns = [c for c in PAYLOAD_COLS if c not in KEY_COLS
                   and re.search(rf"\b{c}\b", predicate, re.IGNORECASE)]
    changes = table.read(spark, columns=columns).filter(pred).select(
        F.lit(delete_lsn).alias("lsn"),
        F.lit("D").alias("op"),
        *KEY_COLS,
        *[F.lit(None).cast(types[c]).alias(c)
          for c in PAYLOAD_COLS if c not in KEY_COLS],
    )
    return mor_apply_batch(spark, table, changes, batch_id,
                           lineage_dir=lineage_dir,
                           shuffle_salts=shuffle_salts,
                           lineage_executor=lineage_executor,
                           max_records_per_file=max_records_per_file,
                           pre_reduced=True)


def _validate_assignments(assignments: dict[str, Any]) -> None:
    """The UPDATE assignment contract, shared by every UPDATE-shaped path
    (update_where, TokenIndex.update_matching): keys are immutable,
    unknown columns refuse, and a python None is ambiguous (carry
    through? set NULL?) — _assignment_value would silently carry the old
    value, so make the intent explicit instead of no-opping."""
    from .schema import PAYLOAD_COLS

    bad = set(assignments) & set(KEY_COLS)
    if bad:
        raise ValueError(f"cannot assign key columns {sorted(bad)}; "
                         "a key change is a delete + insert")
    unknown = set(assignments) - set(PAYLOAD_COLS)
    if unknown:
        raise ValueError(f"unknown columns {sorted(unknown)}")
    nones = sorted(c for c, v in assignments.items() if v is None)
    if nones:
        raise ValueError(
            f"assignment value for {nones} is None; to set a column to "
            "NULL use a SQL null expr, e.g. \"cast(null as string)\"")


def _assignment_value(assignments: dict[str, Any], c: str):
    """Assigned column -> its expr (Column or SQL string) cast to the
    declared type; unassigned columns carry the row's current value."""
    from .schema import PAYLOAD_FIELDS

    v = assignments.get(c)
    if v is None:
        return F.col(c)
    return (F.expr(v) if isinstance(v, str) else v).cast(
        dict(PAYLOAD_FIELDS)[c])


def _fresh_lsn(table: CowTable) -> int:
    """An LSN strictly above every committed lsn_hi — the LSN all DML
    commits write at, so a DML event beats every row it targets under
    max-lsn resolution (driver-side metadata max, O(snapshots))."""
    return 1 + max(
        (s["lsn_hi"] for s in table.snapshots()
         if s.get("lsn_hi") is not None),
        default=0,
    )


def _native_live_read(spark, table, buckets=None, snapshot_id=None):
    """Full-payload LWW-resolved live read through the native ``cowtable``
    source: one partition per bucket, executor-side Arrow fold, ZERO
    shuffle — measured ~3x faster warm than the JVM groupBy/max_by
    resolve when every payload column rides (4.2 s vs 12.6 s on a
    5.3M-row 128-bucket MOR table, BENCH/PLANS.md). Used by the DML
    reads that need the whole row (update_where carries every column;
    merge_into's matched path joins full target rows); column-PRUNED
    readers (delete_where, rollup, diff) stay on ``table.read`` — the
    Python source always materializes the full payload, so a narrow JVM
    scan beats it there. Pinned to the current snapshot at plan time so
    a concurrent commit cannot shear the read."""
    from biomedica_etl_spark.sources.datasource import register_data_sources

    register_data_sources(spark)
    r = spark.read.format("cowtable").option("root", table.root)
    if snapshot_id is None:
        snap = table.current_snapshot()
        snapshot_id = None if snap is None else snap["snapshot_id"]
    if snapshot_id is not None:
        r = r.option("snapshot_id", str(snapshot_id))
    if buckets is not None:
        r = r.option("buckets", ",".join(str(b) for b in buckets))
    return r.load()


def update_where(
    spark: SparkSession,
    table: CowTable,
    predicate: Any,
    assignments: dict[str, Any],
    batch_id: int | None = None,
    lineage_dir: str | None = None,
    lineage_executor: Any = None,
    shuffle_salts: int = 4,
    max_records_per_file: int = 0,
) -> dict[str, Any] | None:
    """Predicate update (``UPDATE t SET col = expr WHERE <predicate>``) as
    ONE commit — the write half of the reference's in-place record fix-ups
    (e.g. backfilling Entrez fields onto already-written records,
    ``scripts/05_json_to_entrez.py:324-330``), expressed as an O(matched)
    engine operation instead of a full rebuild.

    Same planner shape as ``delete_where``: one LWW-resolved scan of the
    live table with the predicate evaluated on the winners (above the
    max-lsn aggregate — it must see current values; the write, not the
    read, is O(matched)), synthesize FULL-ROW ``op='U'``
    change events for every match at a fresh LSN strictly above every
    committed LSN — assigned columns evaluated from ``assignments``
    (Column or SQL-string exprs over the row's current values), all other
    payload columns carried through unchanged (the engine's upserts are
    full-row, so the merged row stays complete) — and route them through
    the SAME merge machinery as ingest: an O(matched) delta layer
    (change-feed visible); a stable ``batch_id`` fences retries
    exactly-once. Keys are immutable: assigning ``conv_id``/``turn_idx``
    raises (a key change is a delete+insert, two intents this op refuses
    to guess).
    """
    _validate_assignments(assignments)
    if batch_id is not None and table.is_committed(batch_id):
        return None
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    update_lsn = _fresh_lsn(table)

    changes = _native_live_read(spark, table).filter(pred).select(
        F.lit(update_lsn).alias("lsn"),
        F.lit("U").alias("op"),
        *KEY_COLS,
        *[_assignment_value(assignments, c).alias(c)
          for c in PAYLOAD_COLS if c not in KEY_COLS],
    )
    return mor_apply_batch(spark, table, changes, batch_id,
                           lineage_dir=lineage_dir,
                           shuffle_salts=shuffle_salts,
                           lineage_executor=lineage_executor,
                           max_records_per_file=max_records_per_file,
                           pre_reduced=True)


def merge_into(
    spark: SparkSession,
    table: CowTable,
    source: DataFrame,
    matched_update: dict[str, Any] | str | None = "source",
    matched_update_condition: Any | None = None,
    matched_delete_condition: Any | None = None,
    insert_unmatched: bool = True,
    insert_condition: Any | None = None,
    batch_id: int | None = None,
    lineage_dir: str | None = None,
    lineage_executor: Any = None,
    shuffle_salts: int = 4,
    max_records_per_file: int = 0,
    prune_buckets: bool = True,
) -> dict[str, Any] | None:
    """``MERGE INTO`` — conditional upsert from a source DataFrame as ONE
    commit, completing the engine's DML triad (``delete_where`` /
    ``update_where`` / ``merge_into``).

    Reference analogue: the Entrez backfill joins fetched metadata onto
    already-written records and re-writes the matched ones while leaving
    the rest intact (``scripts/05_json_to_entrez.py:324-330``); the
    reference expresses that as a full rebuild — here it is the standard
    lakehouse MERGE (Delta/Iceberg ``MERGE INTO``) riding the engine's own
    merge machinery.

    Clause semantics (Delta-style, evaluated per source row against the
    LWW-resolved LIVE target row with the same key):

    - matched and ``matched_delete_condition`` holds -> tombstone
      (``op='D'``). Evaluated FIRST among the matched clauses.
    - matched and ``matched_update`` given and
      ``matched_update_condition`` holds -> full-row ``op='U'``:
      ``matched_update="source"`` takes every payload column the source
      carries and keeps the target's value for columns the source lacks;
      a dict maps payload columns to expressions over the joined
      namespace (qualify with ``s.``/``t.`` — e.g.
      ``{"text": "concat(t.text, s.suffix)"}``), unassigned columns carry
      the target's value. Key columns cannot be assigned.
    - not matched and ``insert_unmatched`` and ``insert_condition`` holds
      -> ``op='I'`` with the source's payload columns (missing ones become
      typed NULLs).
    - every other row produces nothing.

    Conditions are Columns or SQL strings over the aliased join
    (``s.<col>`` = source, ``t.<col>`` = target); ``None`` means
    unconditional. Extra non-payload source columns (e.g. a CDC ``op``
    flag) are visible to conditions/assignments and dropped from the
    output, so ``merge_into(src, matched_delete_condition="s.op = 'D'",
    insert_condition="s.op <> 'D'")`` is the classic CDC-batch MERGE.

    Plan, and why it scales:

    - the source must have AT MOST ONE row per key (Delta raises the same
      way — two matched source rows would make the result order-dependent);
      checked with one O(source) aggregate before any write.
    - ``prune_buckets`` (default): the target read is restricted to the
      buckets the source's keys hash into — a driver-side collect of at
      most ``n_buckets`` ints — so merging a small change set against a
      10^10-row table reads only the touched buckets' files, not the
      table. A key can only match inside its own bucket, so the prune is
      exact for matched AND not-matched detection.
    - the join is a key-equi left-outer from source to the resolved live
      view; AQE broadcast-joins a small source. With no matched clauses
      at all the join degrades to a LEFT ANTI (insert-only append-if-
      absent) and never materializes target payloads.
    - all produced rows share a fresh LSN strictly above every committed
      ``lsn_hi`` (driver-side metadata max), so merge results win LWW
      against every existing version and straggling lower-LSN upserts
      still lose afterward; one row per key means the MOR apply skips the
      identity LWW reduce (``pre_reduced``) exactly like the other DML.
    - the commit appends an O(changed) delta layer (change-feed visible:
      deletes as tombstones, updates/inserts as upserts); a stable
      ``batch_id`` fences retries exactly-once in the shared ingest
      namespace.

    Returns the committed snapshot dict, ``None`` on a fenced
    ``batch_id``, and raises ``ValueError`` on duplicate source keys, key
    assignments, unknown assignment columns, or no active clause.
    """
    from .schema import PAYLOAD_FIELDS

    types = dict(PAYLOAD_FIELDS)
    missing = [k for k in KEY_COLS if k not in source.columns]
    if missing:
        raise ValueError(f"source is missing key columns {missing}")
    if isinstance(matched_update, str) and matched_update != "source":
        raise ValueError(
            f"matched_update must be 'source', a dict, or None; "
            f"got {matched_update!r}")
    if isinstance(matched_update, dict):
        bad = set(matched_update) & set(KEY_COLS)
        if bad:
            raise ValueError(f"cannot assign key columns {sorted(bad)}; "
                             "a key change is a delete + insert")
        unknown = set(matched_update) - set(PAYLOAD_COLS)
        if unknown:
            raise ValueError(f"unknown columns {sorted(unknown)}")
        nones = sorted(c for c, v in matched_update.items() if v is None)
        if nones:
            raise ValueError(
                f"assignment value for {nones} is None; to set a column to "
                "NULL use a SQL null expr, e.g. \"cast(null as string)\"")
    has_update = matched_update is not None
    has_delete = matched_delete_condition is not None
    if not (has_update or has_delete or insert_unmatched):
        raise ValueError("merge_into with no active clause does nothing")
    if matched_update_condition is not None and not has_update:
        raise ValueError("matched_update_condition given but matched_update "
                         "is None — the condition would be silently ignored")
    if insert_condition is not None and not insert_unmatched:
        raise ValueError("insert_condition given but insert_unmatched is "
                         "False — the condition would be silently ignored")
    if batch_id is not None and table.is_committed(batch_id):
        return None

    def _cond(c: Any):
        if c is None:
            return F.lit(True)
        e = F.expr(c) if isinstance(c, str) else c
        # three-valued logic: a condition evaluating to NULL must mean
        # "clause does not fire", not poison ~is_delete in the update branch
        return F.coalesce(e.cast("boolean"), F.lit(False))

    merge_lsn = _fresh_lsn(table)
    src_payload = [c for c in PAYLOAD_COLS
                   if c not in KEY_COLS and c in source.columns]
    extra_cols = [c for c in source.columns
                  if c not in KEY_COLS and c not in src_payload]
    src = source.select(
        *[F.col(k).cast(types[k]).alias(k) for k in KEY_COLS],
        *[F.col(c).cast(types[c]).alias(c) for c in src_payload],
        *extra_cols,
    ).persist()
    try:
        if not src.groupBy(*KEY_COLS).count().filter("count > 1").isEmpty():
            raise ValueError(
                "source has multiple rows for the same key; MERGE requires "
                "at most one source row per key (pre-aggregate the source, "
                "e.g. with the max-lsn reducer)")
        buckets = None
        if prune_buckets:
            buckets = sorted(
                r["b"] for r in src.select(
                    bucket_expr(KEY_COLS[0], table.n_buckets).alias("b")
                ).distinct().collect())

        if not (has_update or has_delete):
            # insert-only: append-if-absent — LEFT ANTI against the live
            # keys, never materializes target payload columns
            tgt_keys = table.read(spark, buckets=buckets, columns=[])
            changes = (
                src.alias("s")
                .join(tgt_keys.alias("t"), on=KEY_COLS, how="left_anti")
                .filter(_cond(insert_condition))
                .select(
                    F.lit(merge_lsn).alias("lsn"),
                    F.lit("I").alias("op"),
                    *KEY_COLS,
                    *[(F.col(c) if c in src_payload
                       else F.lit(None)).cast(types[c]).alias(c)
                      for c in PAYLOAD_COLS if c not in KEY_COLS],
                )
            )
            return mor_apply_batch(spark, table, changes, batch_id,
                                   lineage_dir=lineage_dir,
                                   shuffle_salts=shuffle_salts,
                                   lineage_executor=lineage_executor,
                                   max_records_per_file=max_records_per_file,
                                   pre_reduced=True)

        tgt = _native_live_read(spark, table, buckets=buckets)
        joined = src.alias("s").join(
            tgt.alias("t"),
            on=[F.col(f"s.{k}") == F.col(f"t.{k}") for k in KEY_COLS],
            how="left_outer",
        )
        # conv_id is non-null on every live target row (the validity gate
        # drops null keys at ingest), so it doubles as the match marker
        matched = F.col(f"t.{KEY_COLS[0]}").isNotNull()
        is_delete = (matched & _cond(matched_delete_condition)
                     if has_delete else F.lit(False))
        is_update = (matched & ~is_delete & _cond(matched_update_condition)
                     if has_update else F.lit(False))
        is_insert = (~matched & _cond(insert_condition)
                     if insert_unmatched else F.lit(False))

        def _payload(c: str):
            t_col = F.col(f"t.{c}")
            s_col = F.col(f"s.{c}") if c in src_payload else None
            if matched_update == "source":
                upd = s_col if s_col is not None else t_col
            elif isinstance(matched_update, dict) and c in matched_update:
                v = matched_update[c]
                upd = F.expr(v) if isinstance(v, str) else v
            else:
                upd = t_col
            ins = s_col if s_col is not None else F.lit(None)
            return (
                F.when(is_delete, F.lit(None))
                .when(is_update, upd)
                .otherwise(ins)
                .cast(types[c]).alias(c)
            )

        changes = joined.filter(is_delete | is_update | is_insert).select(
            F.lit(merge_lsn).alias("lsn"),
            F.when(is_delete, F.lit("D"))
             .when(is_update, F.lit("U"))
             .otherwise(F.lit("I")).alias("op"),
            *[F.col(f"s.{k}").alias(k) for k in KEY_COLS],
            *[_payload(c) for c in PAYLOAD_COLS if c not in KEY_COLS],
        )
        return mor_apply_batch(spark, table, changes, batch_id,
                               lineage_dir=lineage_dir,
                               shuffle_salts=shuffle_salts,
                               lineage_executor=lineage_executor,
                               max_records_per_file=max_records_per_file,
                               pre_reduced=True)
    finally:
        src.unpersist()
