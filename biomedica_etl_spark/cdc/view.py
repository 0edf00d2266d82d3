"""Incrementally-maintained materialized JOIN view over two CDC tables.

``JoinView`` keeps the inner equi-join of two independently-ingesting
``CowTable``s materialized and advances it in **O(changes of both feeds)**
per refresh — the capability that separates an engine from a query
runner: stream-processor IVM (Materialize/Flink-style delta joins)
re-expressed on the lakehouse's own change feeds, with no always-on
cluster state.

The view is ``A ⋈ B`` on the shared key ``(conv_id, turn_idx)`` — A's
payload plus B's ``text`` carried as ``note`` (the annotation-table
shape: side B annotates side A's turns). Maintenance, per refresh:

- pin both tables' heads; read each side's ``read_changes_with_images``
  window since the stored cursors (pre-images are the retraction signal;
  the net windows are one-row-per-key);
- the affected key set is exactly ``keys(ΔA) ∪ keys(ΔB)``: a key-equi
  join admits NO fan-out, so the classic delta-join identity
  ``Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB`` collapses to a per-key recompute
  over the affected keys;
- each affected key needs both sides' current values: the side that
  changed rides the feed (its post-image IS the new winner — no table
  read); the side that did not change is point-read from the pinned
  snapshot, pruned to the affected keys' buckets (driver-side hash of a
  bounded bucket list — the same discipline as ``merge_into``'s matched
  path) and inner-joined to the needed keys;
- one delta layer is appended per touched shard: a joined row where
  both sides are live, a tombstone (``alive = false``) where either
  side is dead or absent. Existing view rows are NEVER read — the same
  merge-on-read discipline ``TokenIndex`` uses, and for the same
  reason (any broad window touches most shards; rewrite-affected-shards
  degenerates to a full rewrite);
- reads resolve the winner per key by highest ``seq`` and drop dead
  winners; single-base-layer shards serve without the resolve;
  per-shard layer counts are bounded by targeted folds (``compact_at``).

State versions are immutable layer directories plus an atomic pointer
(crash mid-refresh leaves the previous version intact; a replayed
refresh recomputes the identical layer and converges). Windows that are
not feed-serveable on either side (base rewrite, major compaction,
rollback — the feed's resync contract) fall back to a full rebuild at
the pinned heads; source-table minor folds serve transparently.

Scale story at the 10^10-row design point: steady-state refresh reads
two O(changes) image feeds plus the unchanged-side values for the
window's keys (bucket-pruned snapshot reads joined to a broadcast key
set — row-group pruning applies on the sorted-write stats), shuffles
O(changes) rows once to shard the layer write, and touches no existing
view bytes. A 1k-key window against a 10^10-row pair of tables costs
~1k point reads and one tiny layer append.

Reference analogue: the reference materializes its joined view (records
+ Entrez annotations) by re-running the whole join stage over every
record (``scripts/05_json_to_entrez.py:324-328`` re-annotates the full
set); here the joined view advances in O(changes).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import PAYLOAD_COLS
from .shardstore import ShardedLayerStore
from .table import CowTable

# A-side payload carried verbatim; B contributes `note` (its text).
VIEW_COLS = PAYLOAD_COLS + ["note"]

VIEW_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.LongType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("note", T.StringType()),
])

_STORED_SCHEMA = T.StructType(
    list(VIEW_SCHEMA.fields)
    + [T.StructField("alive", T.BooleanType()),
       T.StructField("seq", T.LongType()),
       T.StructField("shard", T.LongType())]
)

_A_PAY = ["role", "text", "tool", "ts"]


class JoinView(ShardedLayerStore):
    """Materialized ``A ⋈ B on (conv_id, turn_idx)``, maintained from both
    tables' image feeds. Single-writer (one maintainer process), like the
    engine's other derived tables; layer entries are ``{"p": relpath,
    "base": bool}`` and storage mechanics live in
    :class:`ShardedLayerStore`."""

    def __init__(self, root: str, n_shards: int = 16,
                 compact_at: int = 8) -> None:
        self._init_store(root, n_shards, compact_at)

    # --- manifest (same atomic-pointer discipline as TokenIndex) ---------

    def _stored_schema(self) -> T.StructType:
        return _STORED_SCHEMA

    def _sort_cols(self) -> list[str]:
        return ["shard", "conv_id", "turn_idx"]

    def cursors(self) -> tuple[int, int] | None:
        ptr = self._pointer()
        if ptr is None:
            return None
        return ptr["snapshot_a"], ptr["snapshot_b"]

    def _flip(self, snap_a: int, snap_b: int,
              shards: dict[int, list[dict]], seq: int) -> None:
        self._flip_pointer(
            {"snapshot_a": int(snap_a), "snapshot_b": int(snap_b),
             "seq": int(seq)}, shards)

    # --- reads ------------------------------------------------------------

    @staticmethod
    def _resolve(raw: DataFrame) -> DataFrame:
        """Winner per key = highest seq (each refresh emits at most one
        row per key, so seq alone is decisive); drop dead winners."""
        win = (
            raw.groupBy("conv_id", "turn_idx")
            .agg(F.max_by(
                F.struct(*(_A_PAY + ["note", "alive"])),
                F.col("seq")).alias("_w"))
        )
        return (win.filter(F.col("_w.alive"))
                .select("conv_id", "turn_idx",
                        *[F.col(f"_w.{c}").alias(c)
                          for c in _A_PAY + ["note"]]))

    def read(self, spark: SparkSession,
             shards: list[int] | None = None) -> DataFrame:
        """The resolved view. Single-base-layer shards (post-bootstrap /
        post-fold steady state) serve without the resolve."""
        lays = self.shard_layers()
        if shards is not None:
            lays = {k: v for k, v in lays.items() if k in shards}
        direct = [v[0]["p"] for v in lays.values()
                  if len(v) == 1 and v[0]["base"]]
        layered = [lay["p"] for v in lays.values()
                   if not (len(v) == 1 and v[0]["base"]) for lay in v]
        out = None
        if direct:
            out = (self._read_layers(spark, direct)
                   .select("conv_id", "turn_idx", *(_A_PAY + ["note"])))
        if layered:
            res = self._resolve(self._read_layers(spark, layered))
            out = res if out is None else out.unionByName(res)
        if out is None:
            return spark.createDataFrame([], VIEW_SCHEMA)
        return out

    # --- writes -----------------------------------------------------------

    def _shard_col(self):
        return F.pmod(F.xxhash64("conv_id"), F.lit(self.n_shards))

    def _joined_full(self, spark: SparkSession, a: CowTable, b: CowTable,
                     snap_a: int, snap_b: int) -> DataFrame:
        left = a.read(spark, snapshot_id=snap_a)
        right = (b.read(spark, snapshot_id=snap_b, columns=["text"])
                 .select("conv_id", "turn_idx",
                         F.col("text").alias("note")))
        return left.join(right, ["conv_id", "turn_idx"], "inner")

    # --- refresh ----------------------------------------------------------

    def refresh(self, spark: SparkSession, a: CowTable,
                b: CowTable) -> dict[str, Any]:
        """Advance the view to both tables' current snapshots. Bootstrap
        (no pointer) and the resync fallback rebuild from one pinned join;
        the steady state appends one O(changes) delta layer."""
        a.refresh()
        b.refresh()
        sa = a.current_snapshot()
        sb = b.current_snapshot()
        if sa is None or sb is None:
            raise ValueError("both tables need snapshots; create() them")
        ta, tb = sa["snapshot_id"], sb["snapshot_id"]
        cur = self.cursors()
        if cur == (ta, tb):
            return {"refreshed": False, "cursor": cur}

        if cur is not None:
            try:
                da = (self._side_delta(spark, a, cur[0], ta, "a")
                      if cur[0] != ta else None)
                db = (self._side_delta(spark, b, cur[1], tb, "b")
                      if cur[1] != tb else None)
            except ValueError:
                da = db = False  # unservable window -> rebuild
            if da is not False:
                return self._refresh_incremental(spark, a, b, ta, tb,
                                                 da, db)

        joined = self._joined_full(spark, a, b, ta, tb)
        stored = (joined
                  .withColumn("alive", F.lit(True))
                  .withColumn("seq", F.lit(0).cast("long"))
                  .withColumn("shard", self._shard_col()))
        written = self._write_layer(stored)
        self._flip(ta, tb, {k: [{"p": p, "base": True}]
                            for k, p in written.items()}, seq=0)
        return {"refreshed": True, "cursor": (ta, tb),
                "mode": "bootstrap" if cur is None else "rebuild",
                "shards_written": len(written)}

    @staticmethod
    def _side_delta(spark: SparkSession, t: CowTable, frm: int, to: int,
                    side: str) -> DataFrame:
        """Net per-key change of one side: the image window minus the
        pre-images — one row per key, ``{side}_alive`` false on delete."""
        cols = None if side == "a" else ["text"]
        imgs = t.read_changes_with_images(spark, frm, to_snapshot=to,
                                          columns=cols)
        net = imgs.filter(F.col("_change_type") != "update_preimage")
        alive = (F.col("_change_type") != "delete").alias(f"{side}_alive")
        if side == "a":
            return net.select(
                "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
                *_A_PAY, alive)
        return net.select(
            "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
            F.col("text").alias("note"), alive)

    def _lookup(self, spark: SparkSession, t: CowTable, snap: int,
                keys: DataFrame, side: str) -> DataFrame:
        """Pinned values of ``keys`` on the side that did NOT change:
        bucket-pruned snapshot read inner-joined to the (broadcast) key
        set. Returns the same shape as ``_side_delta`` (found keys only —
        absence means the side is dead for that key)."""
        buckets = [
            r[0] for r in keys.select(
                F.pmod(F.xxhash64("conv_id"), F.lit(t.n_buckets))
                .cast("int").alias("b")).distinct().collect()
        ]
        if not buckets:
            return None
        cols = None if side == "a" else ["text"]
        live = t.read(spark, buckets=sorted(buckets), snapshot_id=snap,
                      columns=cols)
        hit = live.join(F.broadcast(keys), ["conv_id", "turn_idx"], "inner")
        if side == "a":
            return hit.select("conv_id", "turn_idx", *_A_PAY,
                              F.lit(True).alias("a_alive"))
        return hit.select("conv_id", "turn_idx",
                          F.col("text").alias("note"),
                          F.lit(True).alias("b_alive"))

    def _refresh_incremental(self, spark: SparkSession, a: CowTable,
                             b: CowTable, ta: int, tb: int,
                             da: DataFrame | None,
                             db: DataFrame | None) -> dict[str, Any]:
        ptr = self._pointer()
        seq = ptr["seq"] + 1
        # the net windows are O(changes) and each feeds several consumers
        # below (key sets, anti-joins, the lookup key broadcast, the final
        # union) — without a persist Spark re-derives the whole image-feed
        # plan (after-side reduce + before-side bucket reads + join) once
        # per consumer
        if da is not None:
            da = da.persist()
        if db is not None:
            db = db.persist()
        keys_a = (da.select("conv_id", "turn_idx") if da is not None
                  else None)
        keys_b = (db.select("conv_id", "turn_idx") if db is not None
                  else None)

        # the unchanged side's current values for the other side's keys
        a_side = da
        if keys_b is not None:
            need_a = (keys_b if keys_a is None
                      else keys_b.join(keys_a, ["conv_id", "turn_idx"],
                                       "left_anti"))
            la = self._lookup(spark, a, ta, need_a, "a")
            if la is not None:
                a_side = la if a_side is None else a_side.unionByName(la)
        b_side = db
        if keys_a is not None:
            need_b = (keys_a if keys_b is None
                      else keys_a.join(keys_b, ["conv_id", "turn_idx"],
                                       "left_anti"))
            lb = self._lookup(spark, b, tb, need_b, "b")
            if lb is not None:
                b_side = lb if b_side is None else b_side.unionByName(lb)

        if a_side is None and b_side is None:
            # both feeds net-empty (e.g. pure maintenance commits)
            self._flip(ta, tb, self.shard_layers(), seq=ptr["seq"])
            return {"refreshed": True, "cursor": (ta, tb),
                    "mode": "incremental", "shards_delta": 0,
                    "shards_folded": 0}

        empty_a = spark.createDataFrame([], T.StructType(
            [T.StructField("conv_id", T.StringType()),
             T.StructField("turn_idx", T.LongType())]
            + [f for f in VIEW_SCHEMA.fields if f.name in _A_PAY]
            + [T.StructField("a_alive", T.BooleanType())]))
        empty_b = spark.createDataFrame([], T.StructType(
            [T.StructField("conv_id", T.StringType()),
             T.StructField("turn_idx", T.LongType()),
             T.StructField("note", T.StringType()),
             T.StructField("b_alive", T.BooleanType())]))
        a_side = a_side if a_side is not None else empty_a
        b_side = b_side if b_side is not None else empty_b

        # affected keys = keys(ΔA) ∪ keys(ΔB); alive iff both sides live
        delta = (
            a_side.join(b_side, ["conv_id", "turn_idx"], "full_outer")
            .select(
                "conv_id", "turn_idx", *_A_PAY, "note",
                (F.coalesce(F.col("a_alive"), F.lit(False))
                 & F.coalesce(F.col("b_alive"), F.lit(False))).alias("alive"),
                F.lit(seq).cast("long").alias("seq"))
            .withColumn("shard", self._shard_col())
        )
        written = self._write_layer(delta)
        for side in (da, db):
            if side is not None:
                side.unpersist()
        shards = self.shard_layers()
        for s, p in written.items():
            shards.setdefault(s, []).append({"p": p, "base": False})
        self._flip(ta, tb, shards, seq=seq)
        over = [s for s, lays in shards.items()
                if len(lays) > self.compact_at]
        folded = self.compact_shards(spark, over) if over else 0
        return {"refreshed": True, "cursor": (ta, tb),
                "mode": "incremental", "shards_delta": len(written),
                "shards_folded": folded}

    # --- maintenance --------------------------------------------------------

    def compact_shards(self, spark: SparkSession, shards: list[int]) -> int:
        """Fold the named shards' stacks into one base layer each (resolve
        winners, drop tombstones — seqs are strictly ordered refreshes,
        nothing below a winner can resurrect). Other shards untouched."""
        ptr = self._pointer()
        if ptr is None or not shards:
            return 0
        lays = self.shard_layers()
        targets = [s for s in shards if s in lays]
        if not targets:
            return 0
        paths = [lay["p"] for s in targets for lay in lays[s]]
        resolved = (
            self._resolve(self._read_layers(spark, paths))
            .withColumn("alive", F.lit(True))
            .withColumn("seq", F.lit(ptr["seq"]).cast("long"))
            .withColumn("shard", self._shard_col())
        )
        written = self._write_layer(resolved)
        for s in targets:
            if s in written:
                lays[s] = [{"p": written[s], "base": True}]
            else:
                lays.pop(s, None)  # every row tombstoned away
        self._flip(ptr["snapshot_a"], ptr["snapshot_b"], lays,
                   seq=ptr["seq"])
        return len(targets)
