"""SCD2 key-version history, maintained O(changes) from the raw change feed.

``HistoryTable`` keeps, for every table key, the LSN-ordered chain of
versions the table ever stored — the slowly-changing-dimension type-2
shape (``valid_from`` / ``valid_to`` validity intervals) that powers
audit ("what did this turn say when?"), point-in-time training-set
reconstruction, and **key-level time travel at arbitrary LSN**, finer
than snapshot retention allows: ``expire_snapshots`` can drop every old
snapshot and ``as_of`` still reconstructs any past state.

The design exploits a closure property instead of doing any work:
``valid_to`` of a version is simply the next version's ``valid_from``,
so the history table never *closes* an interval — it is **append-only**
(versions at their LSN), and the interval endpoints are derived at read
time by one ``lead()`` window over the key. Maintenance therefore never
reads existing history (no merge, no rewrite, no tombstones), and a
refresh is exactly one O(changes) feed read plus one sharded layer
append. Compare the textbook SCD2 MERGE, which re-reads the dimension
to close open rows on every load.

Granularity contract (stated, not hidden): versions are the rows the
TABLE stored — i.e. per-(key, micro-batch) winners, since ingest
LWW-reduces each batch before writing its layer. An intra-batch
superseded event was never observable in the table and is not a
version. Likewise a minor fold compresses any *unconsumed* window to
per-key winners (the feed's documented contract); refreshing at least
once per ingest commit preserves full stored-version granularity.
Windows the feed cannot serve at all (base rewrite, major compaction,
rollback) degrade gracefully: the refresh splices the semantic
``diff`` of the window — net winner-granularity versions with correct
endpoint state — and reports ``source='diff'``.

Reads:

- ``read()`` — the full chain: payload + ``valid_from`` (the version's
  LSN), ``valid_to`` (next version's LSN; NULL = still current),
  ``deleted`` (the version is a tombstone), ``is_current``.
- ``as_of(lsn)`` — the live table state as of any LSN: versions with
  ``valid_from <= lsn < coalesce(valid_to, +inf)`` and not deleted.
- ``key_history(conv_id)`` — one key's chain, pruned DRIVER-side to its
  shard (pure-Python xxh64 twin of ``F.xxhash64``, zero Spark jobs) and
  row-group-pruned within it (layers are written sorted by conv_id).

Scale story at the 10^10-row design point: refresh shuffles O(changes)
rows once (the shard write), touches no existing history bytes, and the
layer count per shard is bounded by targeted folds (``compact_at``) —
the same merge-on-read discipline as ``TokenIndex``/``JoinView``. The
full-chain read is one hash exchange on the key (the two windows share
the partitioning); ``as_of`` pays the same single exchange; a single
key's history is an O(shard/‖files‖) pruned scan.

State versions are immutable layer directories plus an atomic pointer:
a crash mid-refresh leaves the previous version intact, and a replayed
refresh recomputes the identical layer (duplicates collapse at read by
(key, valid_from), newest ``seq`` wins — re-delivered rows are verbatim
by the feed's contract).

Reference analogue: the reference keeps no history at all — a record
overwritten by its re-run pipeline is gone (``scripts/05_json_to_entrez.py``
re-annotates in place). Here every stored version of every key stays
reconstructable, at any LSN, from O(changes) maintenance.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import KEY_COLS, PAYLOAD_COLS, PAYLOAD_FIELDS, SYS_DELETED, SYS_LSN
from .shardstore import ShardedLayerStore
from .table import CowTable
from .xxhash import bucket_of

_NON_KEY_PAYLOAD = [c for c in PAYLOAD_COLS if c not in KEY_COLS]

_STORED_SCHEMA = T.StructType(
    [T.StructField(c, t) for c, t in PAYLOAD_FIELDS]
    + [T.StructField("valid_from", T.LongType()),
       T.StructField("deleted", T.BooleanType()),
       T.StructField("seq", T.LongType()),
       T.StructField("shard", T.LongType())]
)

READ_COLS = PAYLOAD_COLS + ["valid_from", "valid_to", "deleted", "is_current"]


def shard_of_key(conv_id: str, n_shards: int) -> int:
    """Driver-side shard of a conversation — bit-identical to the Spark
    side's ``pmod(xxhash64(conv_id), n_shards)``: the SAME pinned twin
    the table's bucket pruning uses (delegation, not a re-derivation, so
    the two can never drift)."""
    return bucket_of(conv_id, n_shards)


class HistoryTable(ShardedLayerStore):
    """Append-only sharded version history, advanced in O(changes).
    Single-writer (one maintainer process), like the engine's other
    derived tables; layer entries are plain relpaths (the history never
    tombstones, so no base/delta distinction) and storage mechanics live
    in :class:`ShardedLayerStore`."""

    def __init__(self, root: str, n_shards: int = 16,
                 compact_at: int = 8) -> None:
        self._init_store(root, n_shards, compact_at)

    # --- manifest -------------------------------------------------------

    def _stored_schema(self) -> T.StructType:
        return _STORED_SCHEMA

    def _sort_cols(self) -> list[str]:
        return ["shard", "conv_id", "turn_idx", "valid_from"]

    def cursor(self) -> int | None:
        ptr = self._pointer()
        return None if ptr is None else ptr["snapshot_id"]

    def _flip(self, snapshot_id: int, shards: dict[int, list[str]],
              seq: int) -> None:
        self._flip_pointer(
            {"snapshot_id": int(snapshot_id), "seq": int(seq)}, shards)

    # --- reads ----------------------------------------------------------

    def read(self, spark: SparkSession,
             shards: list[int] | None = None) -> DataFrame:
        """The version chain with derived interval endpoints. One hash
        exchange on the key serves both windows (the dedup and the
        ``lead``): duplicates of a (key, valid_from) — fold re-delivery,
        replayed refreshes — collapse to the newest ``seq``'s row, then
        ``valid_to`` = the next version's ``valid_from``."""
        lays = self.shard_layers()
        if shards is not None:
            lays = {k: v for k, v in lays.items() if k in shards}
        raw = self._read_layers(
            spark, [p for ps in lays.values() for p in ps])
        w_dedup = (Window.partitionBy(*KEY_COLS)
                   .orderBy(F.col("valid_from").asc(), F.col("seq").desc()))
        w_lead = Window.partitionBy(*KEY_COLS).orderBy("valid_from")
        return (
            raw
            .withColumn("_prev_vf", F.lag("valid_from").over(w_dedup))
            .filter(F.col("_prev_vf").isNull()
                    | (F.col("_prev_vf") != F.col("valid_from")))
            .withColumn("valid_to", F.lead("valid_from").over(w_lead))
            .withColumn("is_current",
                        F.col("valid_to").isNull() & ~F.col("deleted"))
            .select(*READ_COLS)
        )

    def as_of(self, spark: SparkSession, lsn: int) -> DataFrame:
        """The live table state as of an arbitrary LSN — time travel finer
        than snapshot granularity, and independent of snapshot retention:
        versions whose interval covers ``lsn``, tombstones dropped."""
        return (
            self.read(spark)
            .filter((F.col("valid_from") <= F.lit(int(lsn)))
                    & (F.col("valid_to").isNull()
                       | (F.col("valid_to") > F.lit(int(lsn))))
                    & ~F.col("deleted"))
            .select(*PAYLOAD_COLS)
        )

    def key_history(self, spark: SparkSession, conv_id: str,
                    turn_idx: int | None = None) -> DataFrame:
        """One conversation's chain: shard computed driver-side (no Spark
        job plans any other shard), conv_id-sorted files row-group-prune
        inside it."""
        out = self.read(
            spark, shards=[shard_of_key(conv_id, self.n_shards)]
        ).filter(F.col("conv_id") == conv_id)
        if turn_idx is not None:
            out = out.filter(F.col("turn_idx") == int(turn_idx))
        return out

    # --- writes ---------------------------------------------------------

    def _versions_from_feed(self, feed: DataFrame, seq: int) -> DataFrame:
        """Stored-row versions from the raw change feed: every row the
        window's delta layers hold IS a version at its LSN (tombstones
        carry null payloads, exactly as stored)."""
        return feed.select(
            *PAYLOAD_COLS,
            F.col(SYS_LSN).alias("valid_from"),
            F.coalesce(F.col(SYS_DELETED), F.lit(False)).alias("deleted"),
            F.lit(seq).cast("long").alias("seq"),
            F.pmod(F.xxhash64("conv_id"), F.lit(self.n_shards))
            .alias("shard"),
        )

    def _versions_from_diff(self, spark: SparkSession, table: CowTable,
                            cur: int, target: int, seq: int) -> DataFrame:
        """Resync splice for a non-feed-serveable window: the semantic
        ``diff`` (works across any rewrite) gives net winner-granularity
        versions — inserts/updates carry the target snapshot's payload
        (key-equi join against the pinned read), deletes carry nulls like
        stored tombstones.

        ``diff``'s ``new_lsn`` cannot be trusted as the version's
        ``valid_from`` unguarded: a purged tombstone diffs as ``delete``
        with new_lsn NULL (the key is simply absent at the target), and a
        rollback restores a row at its OLD lsn — below versions already
        in the chain, which would leave the undone version looking
        current. So each spliced version's valid_from is clamped strictly
        above the key's prior chain max: the resync path already pays an
        O(window) diff, so re-reading the affected keys' prior maxima is
        proportionate (the steady-state feed path still never reads
        existing history)."""
        d = table.diff(spark, cur, to_snapshot=target).select(
            *KEY_COLS, "change_type", "new_lsn")
        live = table.read(spark, snapshot_id=target).select(
            *KEY_COLS,
            *[F.col(c).alias(f"_l_{c}") for c in _NON_KEY_PAYLOAD])
        # prior per-key chain max (keys + valid_from only — the parquet
        # scan is column-pruned; payloads never read)
        prior = (
            self._read_layers(
                spark, [p for ps in self.shard_layers().values() for p in ps])
            .select(*KEY_COLS, "valid_from")
            .groupBy(*KEY_COLS)
            .agg(F.max("valid_from").alias("_prior_max"))
        )
        types = dict(PAYLOAD_FIELDS)
        valid_from = F.when(
            F.col("new_lsn") > F.coalesce(F.col("_prior_max"), F.lit(-1)),
            F.col("new_lsn"),
        ).otherwise(F.coalesce(F.col("_prior_max"), F.lit(-1)) + 1)
        return (
            d.join(live, on=KEY_COLS, how="left_outer")
            .join(prior, on=KEY_COLS, how="left_outer")
            .select(
                *KEY_COLS,
                *[F.when(F.col("change_type") != "delete",
                         F.col(f"_l_{c}")).cast(types[c]).alias(c)
                  for c in _NON_KEY_PAYLOAD],
                valid_from.alias("valid_from"),
                (F.col("change_type") == "delete").alias("deleted"),
                F.lit(seq).cast("long").alias("seq"),
                F.pmod(F.xxhash64("conv_id"), F.lit(self.n_shards))
                .alias("shard"),
            )
        )

    # --- refresh --------------------------------------------------------

    def refresh(self, spark: SparkSession, table: CowTable) -> dict[str, Any]:
        """Advance the history to the table's current snapshot.

        Bootstrap (no cursor) records the live winners as the chain's
        opening versions (pre-bootstrap history is unknowable — winner
        granularity, like any late-attached consumer); the steady state
        appends one O(changes) layer from the raw feed; non-serveable
        windows splice the semantic diff. Existing history is never
        read; shards whose layer count exceeds ``compact_at`` fold."""
        snap = table.current_snapshot()
        if snap is None:
            raise ValueError("table has no snapshots; create() it first")
        target = snap["snapshot_id"]
        cur = self.cursor()
        if cur == target:
            return {"refreshed": False, "cursor": cur}
        ptr = self._pointer()
        seq = 0 if ptr is None else ptr["seq"] + 1

        if cur is None:
            raw = table.read_raw(spark, snapshot_id=target)
            versions = self._versions_from_feed(raw, seq)
            source = "bootstrap"
        else:
            try:
                feed = table.read_changes_since(spark, cur,
                                                to_snapshot=target)
                versions = self._versions_from_feed(feed, seq)
                source = "feed"
            except ValueError:
                versions = self._versions_from_diff(spark, table, cur,
                                                    target, seq)
                source = "diff"

        written = self._write_layer(versions)
        shards = self.shard_layers()
        for s, p in written.items():
            shards.setdefault(s, []).append(p)
        self._flip(target, shards, seq=seq)
        over = [s for s, lays in shards.items() if len(lays) > self.compact_at]
        folded = self.compact_shards(spark, over) if over else 0
        return {"refreshed": True, "cursor": target, "source": source,
                "shards_written": len(written), "shards_folded": folded}

    # --- maintenance ------------------------------------------------------

    def compact_shards(self, spark: SparkSession,
                       shards: list[int] | None = None) -> int:
        """Fold each listed shard's layers into one (all if None): the
        (key, valid_from) duplicates collapse to the newest seq's row —
        byte-identical read results, bounded layer counts. Immutable
        output + pointer flip; superseded inputs GC'd by the flip."""
        lays = self.shard_layers()
        targets = {s: ps for s, ps in lays.items()
                   if (shards is None or s in shards) and len(ps) > 1}
        if not targets:
            return 0
        raw = self._read_layers(
            spark, [p for ps in targets.values() for p in ps])
        # shard is a hive partition column of the layer dirs, not stored in
        # the files — recompute it (same expression the write used)
        folded = (
            raw.groupBy(*KEY_COLS, "valid_from")
            .agg(F.max_by(
                F.struct(*_NON_KEY_PAYLOAD, "deleted", "seq"),
                F.col("seq")).alias("_w"))
            .select(*KEY_COLS,
                    *[F.col(f"_w.{c}").alias(c) for c in _NON_KEY_PAYLOAD],
                    "valid_from", F.col("_w.deleted").alias("deleted"),
                    F.col("_w.seq").alias("seq"),
                    F.pmod(F.xxhash64("conv_id"), F.lit(self.n_shards))
                    .alias("shard"))
        )
        written = self._write_layer(folded)
        merged = dict(lays)
        for s in targets:
            merged[s] = [written[s]] if s in written else []
        ptr = self._pointer()
        self._flip(ptr["snapshot_id"], merged, seq=ptr["seq"])
        return len(targets)
