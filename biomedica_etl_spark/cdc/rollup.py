"""Continuous aggregate (hypertable-rollup-style) maintenance.

A rollup table (per-conversation live-turn counts) kept in sync with the
transcripts table INCREMENTALLY: each refresh consumes only the net
changes since the last-applied snapshot — the O(changes) image feed
(``read_changes_with_images(columns=[])``) when the commit chain is
feed-serveable, falling back to the semantic ``CowTable.diff`` (two
keys+system version scans) across base rewrites / major compactions —
folds the per-key deltas into the previous rollup state, and advances a
cursor. Never a full re-aggregation. This is the
TimescaleDB continuous-aggregate / Materialize-maintained-view discipline
expressed on the engine's own snapshot metadata:

- counts are RETRACTABLE aggregates (insert +1, delete -1, update 0), so
  deletes need no rescan; non-retractable aggregates (``max_ts`` under
  ``track_max_ts=True``) use the other IVM discipline — affected-group
  recompute, pruned to the changed conversations' buckets and keys (see
  the class docstring);
- the refresh is idempotent: cursor == current snapshot is a no-op, and a
  crash between the state write and the cursor write just replays the same
  diff into the same deterministic state (the fold is a pure function of
  (old state, diff));
- state versions are immutable dirs + an atomic pointer file, the same
  commit discipline as the main table.

Reference analogue: the per-batch metrics the reference accumulates into
its completed-logs as each stage advances (``scripts/05_json_to_entrez.py:
347-398``) — here made transactional and exactly-once.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .table import CowTable


class RollupTable:
    """Per-conversation live-turn counts, incrementally maintained.

    ``track_max_ts=True`` adds a NON-retractable aggregate (``max_ts``)
    and switches the incremental path from diff-folding to
    affected-group recompute — the other standard IVM discipline:
    deleting a conversation's newest turn must LOWER its ``max_ts``,
    which no fold over the diff alone can produce. The recompute is
    pruned twice: to the affected conversations' BUCKETS (a bounded
    driver-side list — at most ``n_buckets`` values regardless of how
    many groups changed) and then to the affected groups by semi-join,
    so its cost is O(rows of changed conversations), never a full
    re-aggregation. Unaffected groups carry their prior row forward
    untouched (anti-join), and a group whose last live row vanished
    simply has no recomputed row — it drops out.

    ``track_sum_len=True`` adds ``sum_len`` = sum(length(text)) and keeps
    it RETRACTABLE through the image feed: ``update_preimage``/``delete``
    rows carry the OLD text whose length the fold subtracts, so the
    refresh stays O(changes) — the aggregate the plain diff could never
    retract (it reads no payload). When the window is not feed-serveable
    it degrades to the affected-group recompute, and combined with
    ``track_max_ts`` the recompute path maintains both."""

    def __init__(self, root: str, track_max_ts: bool = False,
                 track_sum_len: bool = False) -> None:
        self.root = root
        self.track_max_ts = track_max_ts
        self.track_sum_len = track_sum_len
        os.makedirs(root, exist_ok=True)

    def _pointer_path(self) -> str:
        return os.path.join(self.root, "pointer.json")

    def _pointer(self) -> dict[str, Any] | None:
        p = self._pointer_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def cursor(self) -> int | None:
        ptr = self._pointer()
        return None if ptr is None else ptr["snapshot_id"]

    def _schema(self) -> T.StructType:
        fields = [
            T.StructField("conv_id", T.StringType()),
            T.StructField("n_turns", T.LongType()),
        ]
        if self.track_max_ts:
            fields.append(T.StructField("max_ts", T.TimestampType()))
        if self.track_sum_len:
            fields.append(T.StructField("sum_len", T.LongType()))
        return T.StructType(fields)

    def read(self, spark: SparkSession) -> DataFrame:
        ptr = self._pointer()
        schema = self._schema()
        if ptr is None:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(
            os.path.join(self.root, ptr["version_dir"]))

    def _commit(self, df: DataFrame, snapshot_id: int) -> None:
        import shutil

        vdir = f"v-{uuid.uuid4().hex}"
        df.write.mode("overwrite").parquet(os.path.join(self.root, vdir))
        tmp = self._pointer_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"snapshot_id": snapshot_id, "version_dir": vdir}, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._pointer_path())
        # GC: after the atomic pointer flip every other version dir —
        # superseded states and crash orphans alike — is unreferenced
        # (single-writer discipline, same as the main table's commits)
        for entry in os.listdir(self.root):
            if entry.startswith("v-") and entry != vdir:
                shutil.rmtree(os.path.join(self.root, entry),
                              ignore_errors=True)

    def _changes(self, spark: SparkSession, table: CowTable,
                 cur: int, target: int):
        """Net per-key changes since the cursor, cheapest source first:
        the O(changes) image feed pruned to keys + change type
        (``read_changes_with_images(columns=[])`` — never reads a payload
        byte, and its before-side touches only the changed buckets), or
        the semantic ``diff`` (two keys+system version scans) when the
        commit chain since the cursor is not feed-serveable (base rewrite,
        major compaction, rollback — the feed's resync contract). Both
        sources emit identical net per-key change types, so the fold is
        source-agnostic."""
        try:
            feed = table.read_changes_with_images(
                spark, cur, to_snapshot=target, columns=[])
            return (feed.select(
                "conv_id", F.col("_change_type").alias("change_type")),
                "feed")
        except ValueError:
            return (table.diff(spark, cur, target)
                    .select("conv_id", "change_type"), "diff")

    def _recompute_affected(self, spark: SparkSession, table: CowTable,
                            target: int, d: DataFrame, aggs, cols,
                            change_src: str) -> dict[str, Any]:
        """Affected-group recompute (the non-retractable IVM discipline):
        pruned first to the affected conversations' BUCKETS (a bounded
        driver-side list — at most n_buckets values regardless of how many
        groups changed) and then to the affected groups by semi-join, so
        the cost is O(rows of changed conversations), never a full
        re-aggregation. Unaffected groups carry their prior row forward
        (anti-join); a group whose last live row vanished drops out."""
        from .table import bucket_expr

        # persist: the change set behind `affected` feeds three separate
        # actions (the bucket collect, the semi-join, the anti-join) —
        # without the persist each one re-runs its scans
        affected = d.select("conv_id").distinct().persist()
        try:
            buckets = sorted(
                r["b"] for r in affected.select(
                    bucket_expr("conv_id", table.n_buckets).alias("b"))
                .distinct().collect()
            )
            recomputed = (
                # pruned to the tracked columns (count needs no payload)
                # AND pinned to the target snapshot: under concurrent
                # ingest an unpinned read would leak post-target rows
                # into the state committed for cursor=target
                table.read(spark, buckets=buckets, snapshot_id=target,
                           columns=cols)
                .join(affected, "conv_id", "semi")
                .groupBy("conv_id").agg(*aggs)
            )
            merged = (
                self.read(spark).join(affected, "conv_id", "left_anti")
                .unionByName(recomputed)
            )
            self._commit(merged, target)
        finally:
            affected.unpersist()
        return {"refreshed": True, "cursor": target,
                "mode": "incremental-recompute", "source": change_src,
                "buckets_scanned": len(buckets)}

    def refresh(self, spark: SparkSession, table: CowTable) -> dict[str, Any]:
        """Advance the rollup to the table's current snapshot.

        Bootstrap (no cursor): one full aggregation. Steady state: fold the
        per-key diff deltas into the prior state — cost O(changed keys),
        independent of table size."""
        snap = table.current_snapshot()
        target = snap["snapshot_id"]
        cur = self.cursor()
        if cur == target:
            return {"refreshed": False, "cursor": cur}
        aggs = [F.count(F.lit(1)).alias("n_turns")]
        cols = []
        if self.track_max_ts:
            aggs.append(F.max("ts").alias("max_ts"))
            cols.append("ts")
        if self.track_sum_len:
            aggs.append(F.coalesce(
                F.sum(F.coalesce(F.length("text"), F.lit(0))),
                F.lit(0)).cast("long").alias("sum_len"))
            cols.append("text")
        if cur is None:
            # pinned to target: a commit landing mid-bootstrap must not
            # leak rows beyond the cursor being recorded
            full = (table.read(spark, snapshot_id=target, columns=cols)
                    .groupBy("conv_id").agg(*aggs))
            self._commit(full, target)
            return {"refreshed": True, "cursor": target, "mode": "bootstrap"}
        if self.track_sum_len and not self.track_max_ts:
            # sum(length(text)) is RETRACTABLE, but only with row images:
            # the delete/preimage rows carry the OLD text the fold must
            # subtract. With the feed serveable the whole refresh is
            # O(changes); otherwise (base rewrite / major compaction in the
            # window) fall back to affected-group recompute — diff alone
            # cannot retract a payload it never reads.
            try:
                imgs = table.read_changes_with_images(
                    spark, cur, to_snapshot=target, columns=["text"])
            except ValueError:
                imgs = None
            if imgs is not None:
                length = F.coalesce(F.length("text"), F.lit(0))
                sign = F.when(F.col("_change_type").isin(
                    "insert", "update_postimage"), F.lit(1)).otherwise(F.lit(-1))
                dn = (F.when(F.col("_change_type") == "insert", 1)
                      .when(F.col("_change_type") == "delete", -1)
                      .otherwise(0))
                delta = imgs.groupBy("conv_id").agg(
                    F.sum(dn).alias("dn"),
                    F.sum(sign * length).alias("dlen"))
                old = self.read(spark)
                merged = (
                    old.join(delta, "conv_id", "full_outer")
                    .select(
                        "conv_id",
                        (F.coalesce(F.col("n_turns"), F.lit(0))
                         + F.coalesce(F.col("dn"), F.lit(0))).alias("n_turns"),
                        (F.coalesce(F.col("sum_len"), F.lit(0))
                         + F.coalesce(F.col("dlen"), F.lit(0)))
                        .cast("long").alias("sum_len"),
                    )
                    .filter(F.col("n_turns") > 0)
                )
                self._commit(merged, target)
                return {"refreshed": True, "cursor": target,
                        "mode": "incremental-retractable", "source": "feed"}
            return self._recompute_affected(
                spark, table, target,
                table.diff(spark, cur, target), aggs, cols, "diff")
        d, change_src = self._changes(spark, table, cur, target)
        if self.track_max_ts:
            # non-retractable aggregate: recompute ONLY the affected groups
            return self._recompute_affected(spark, table, target, d, aggs,
                                            cols, change_src)
        delta = d.groupBy("conv_id").agg(
            F.sum(
                F.when(F.col("change_type") == "insert", 1)
                .when(F.col("change_type") == "delete", -1)
                .otherwise(0)
            ).alias("dn")
        )
        old = self.read(spark)
        merged = (
            old.join(delta, "conv_id", "full_outer")
            .select(
                "conv_id",
                (F.coalesce(F.col("n_turns"), F.lit(0))
                 + F.coalesce(F.col("dn"), F.lit(0))).alias("n_turns"),
            )
            .filter(F.col("n_turns") > 0)
        )
        self._commit(merged, target)
        return {"refreshed": True, "cursor": target, "mode": "incremental",
                "source": change_src}
