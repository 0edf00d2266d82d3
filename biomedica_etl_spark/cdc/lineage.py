"""Per-partition lineage / metrics rows.

Reference analogue: the append-only ``complete``/``error`` CSV logs written
per processed key (``src/pmc_oa/download_batch.py:190-222``) that double as
audit trail and resume checkpoint. Here: one row per Spark partition of the
reduced delta per micro-batch — offsets applied, rows upserted/deleted,
watermark (max event ts) — appended to a parquet metrics table so any
failure can be diagnosed and reconciled (sum(rows) vs table delta).

Per-bucket rows are produced by merge.py (``_bucket_lineage`` as the
driver stage writes, ``_layer_bucket_metrics`` for the read-back of a
Spark stage); only the
tiny per-bucket summary ever reaches the driver (bounded by bucket count,
not data size). This module owns the append-only parquet sink.
"""

from __future__ import annotations

import os
import uuid
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq

LINEAGE_COLS = [
    "batch_id", "snapshot_id", "partition_id", "bucket", "offsets_applied",
    "rows_upserted", "rows_deleted", "lsn_lo", "lsn_hi", "watermark",
]


def append_lineage(lineage_dir: str, rows: list[dict[str, Any]], snapshot_id: int) -> None:
    if not rows:
        return
    os.makedirs(lineage_dir, exist_ok=True)
    cols: dict[str, list[Any]] = {c: [] for c in LINEAGE_COLS}
    for r in rows:
        r = {**r, "snapshot_id": snapshot_id}
        for c in LINEAGE_COLS:
            cols[c].append(r.get(c))
    schema = pa.schema(
        [
            ("batch_id", pa.int64()), ("snapshot_id", pa.int64()),
            ("partition_id", pa.int32()), ("bucket", pa.int32()),
            ("offsets_applied", pa.int64()), ("rows_upserted", pa.int64()),
            ("rows_deleted", pa.int64()), ("lsn_lo", pa.int64()),
            ("lsn_hi", pa.int64()), ("watermark", pa.timestamp("us")),
        ]
    )
    table = pa.table(cols, schema=schema)
    # write-temp + rename: a crash mid-write must leave either a complete
    # file or nothing — a torn parquet tail would poison every later
    # read_lineage/reconcile scan (same discipline as the snapshot
    # manifests' _atomic_write)
    name = f"lineage-{uuid.uuid4().hex}.parquet"
    # dot-prefixed temp: Spark/Hadoop readers skip hidden files, so a
    # crash-stranded temp can never be scanned as a torn parquet
    tmp = os.path.join(lineage_dir, "." + name + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(lineage_dir, name))


def read_lineage(spark, lineage_dir: str):
    """The metrics table as a DataFrame — the reconcile/diagnose read half
    of the reference's completeness checks
    (``src/pmc_oa/download_batch.py:246-276``): sum(rows_upserted/deleted)
    per batch reconciles against snapshot summaries, max(watermark) per
    bucket is the freshness dashboard. Empty dir -> empty typed frame."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("batch_id", T.LongType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("offsets_applied", T.LongType()),
        T.StructField("rows_upserted", T.LongType()),
        T.StructField("rows_deleted", T.LongType()),
        T.StructField("lsn_lo", T.LongType()),
        T.StructField("lsn_hi", T.LongType()),
        T.StructField("watermark", T.TimestampType()),
    ])
    if not os.path.isdir(lineage_dir) or not os.listdir(lineage_dir):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(lineage_dir)


def _lineage_batch_ids(lineage_dir: str) -> set[int]:
    """Batch ids present in the metrics table — a driver-side,
    single-column read (O(batches) values, kilobytes at 10^5 batches);
    hidden/tmp files are skipped by pyarrow's default ignore prefixes."""
    if not os.path.isdir(lineage_dir):
        return set()
    import pyarrow.dataset as ds

    files = [os.path.join(lineage_dir, f) for f in os.listdir(lineage_dir)
             if f.endswith(".parquet") and not f.startswith(".")]
    if not files:
        return set()
    t = ds.dataset(files, format="parquet").to_table(columns=["batch_id"])
    return set(t.column("batch_id").to_pylist())


def reconcile_lineage(spark, table, lineage_dir: str) -> dict[str, Any]:
    """Detect and backfill lineage rows lost to a crash between snapshot
    commit and lineage append (lineage is emitted AFTER the commit so a
    fenced replay can never double-emit — the price is this one-sided gap,
    which the crash-point sweep cannot cover because the append is a data
    write, not a metadata write).

    Lineage is derived data; this makes the docstring claim real:

    - MOR commits whose appended layer dirs still exist are recomputed
      EXACTLY (the same O(delta) column-pruned read-back ingest uses —
      ``merge._layer_bucket_metrics``), per bucket, original snapshot id.
    - base-rewrite commits that carry a batch id (tables written before
      merge-on-read became the only write mode; their per-partition
      counts existed only inside the planning pass) and folded/GC'd MOR
      layers get a SUMMARY-level row
      (partition_id = bucket = -1) carrying the snapshot summary counts,
      so sum-vs-commit reconciliation still closes.
    - Batches that legitimately emitted nothing (zero surviving rows —
      all offsets quarantined) are left alone.

    Idempotent: a second call finds nothing missing. Metadata cost is
    O(retained snapshots); data cost is O(missing batches' deltas).
    Reference analogue: rebuilding the completed-log from outputs on disk
    (``src/pmc_oa/download_batch.py:246-276``)."""
    existing = _lineage_batch_ids(lineage_dir)
    snaps = table.snapshots()
    by_id = {s["snapshot_id"]: s for s in snaps}
    report: dict[str, Any] = {"missing": [], "repaired_exact": [],
                              "repaired_summary": []}
    for snap in snaps:
        batch_id = snap["batch_id"]
        if batch_id is None or batch_id in existing:
            continue
        summary = snap.get("summary", {})
        parent = by_id.get(snap.get("parent_id"))
        if summary.get("commit_type") == "append-delta":
            parent_dirs = parent.get("delta_dirs", {}) if parent else {}
            added: list[str] = []
            for bk, dirs in snap.get("delta_dirs", {}).items():
                prev = set(parent_dirs.get(bk, []))
                added.extend(d for d in dirs if d not in prev)
            if not added:
                continue  # zero-row batch: lineage absence is correct
            report["missing"].append(batch_id)
            layer_roots = {os.path.dirname(os.path.join(table.root, d))
                           for d in added}
            if len(layer_roots) == 1 and all(
                    os.path.isdir(os.path.join(table.root, d)) for d in added):
                from .merge import _layer_bucket_metrics

                rows = _layer_bucket_metrics(spark, layer_roots.pop(), batch_id)
                append_lineage(lineage_dir, rows,
                               snapshot_id=snap["snapshot_id"])
                report["repaired_exact"].append(batch_id)
                continue
        else:
            ups = summary.get("rows_upserted", 0) or 0
            dels = summary.get("rows_deleted", 0) or 0
            if ups == 0 and dels == 0:
                continue  # zero-mutation batch: lineage absence is correct
            report["missing"].append(batch_id)
        s_row = {
            "batch_id": batch_id, "partition_id": -1, "bucket": -1,
            "offsets_applied": summary.get("offsets_applied"),
            "rows_upserted": summary.get("rows_upserted", 0) or 0,
            "rows_deleted": summary.get("rows_deleted", 0) or 0,
            "lsn_lo": snap.get("lsn_lo"), "lsn_hi": snap.get("lsn_hi"),
            "watermark": None,
        }
        append_lineage(lineage_dir, [s_row], snapshot_id=snap["snapshot_id"])
        report["repaired_summary"].append(batch_id)
    return report
