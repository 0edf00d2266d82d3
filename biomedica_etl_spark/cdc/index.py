"""Incrementally-maintained inverted token index over the transcripts table.

A search-index maintainer is the canonical CDF consumer that NEEDS row
images: when a turn's text changes, the index must retract the OLD text's
postings — information the live table cannot provide without a rescan.
``TokenIndex`` keeps a postings table ``(token, conv_id, turn_idx, tf)``
in sync with a ``CowTable`` by consuming ``read_changes_with_images``,
and is ITSELF a merge-on-read table over postings — the same LSM
discipline the main table uses for conversations, because the same
read-amplification argument applies:

- postings are hash-sharded on ``pmod(xxhash64(token), n_shards)`` with
  the driver-side pure-Python hash twin for jobless shard pruning on term
  lookups;
- a refresh NEVER rewrites existing postings. It appends one O(changes)
  delta layer per touched shard: additions ``(token, key, tf, seq)`` from
  the post-images, and per-``(token, key)`` tombstones (``tf = 0``) from
  the pre-image/delete tokens. This matters because a window touching a
  small fraction of KEYS routinely touches most of the VOCABULARY (hash
  sharding spreads any broad vocabulary over every shard — measured at
  bench scale: a 3-commit DML window hit 64/64 shards), so a
  rewrite-affected-shards design degenerates to rewriting the whole
  index on every refresh; the delta-layer design stays O(changes)
  regardless of vocabulary spread;
- reads resolve layers per ``(token, conv_id, turn_idx)`` by the highest
  ``(seq, tf)`` — ``seq`` is the refresh sequence number, strictly
  ordered, and the ``tf`` tie-break lets a same-window retraction and
  re-addition of the same token coexist in one layer (the addition
  wins). Winners with ``tf = 0`` are dropped. Shards that hold a single
  base layer skip the resolve entirely (the bootstrap/compaction fast
  path);
- per-shard layer counts are bounded: ``refresh`` folds any shard whose
  layer list exceeds ``compact_at`` into one base layer (tombstones
  dropped — seqs are strictly ordered, nothing below can resurrect),
  touching only those shards. The exact trade the main table's tiered
  minor folds make;
- state versions are immutable layer directories + an atomic pointer
  file; a crash mid-refresh leaves the previous version intact and a
  replayed refresh converges to the identical state;
- when the commit chain since the cursor is not feed-serveable (major
  compaction, rollback — the feed's documented resync contract),
  ``refresh`` falls back to a full rebuild at the target snapshot. Minor folds of the SOURCE table serve transparently and
  never force a rebuild.

Scale story at the 10^10-row design point: steady-state refresh = one
O(changes) image-feed read (payload pruned to ``text``), one
generated-column explode + hash aggregate, one partitioned append —
no read of existing postings at all; maintenance cost is amortized and
per-shard; term lookups prune to their shards driver-side and
row-group-prune on token-sorted files. A refresh, shard fold or lookup
whose read set fits ``LOCAL_MAX_BYTES`` on disk (the window's feed files
plus the touched buckets' files for an incremental refresh) runs the
same steps on the driver in Arrow and starts no Spark job, since at that
size a Spark job's fixed cost dwarfs the work; a larger one keeps the
Spark plan above.

Reference analogue: the reference rebuilds derived search structure by
re-running the whole extract chain (``scripts/02_extract_media.py``
re-filters everything); here the derived structure advances in
O(changes).

Tokenization is deliberately SQL-expressible (lower + split on
non-alphanumeric runs, empty tokens dropped, per-row term frequency) so
the DuckDB oracle can recompute the index from the replayed final state.
"""

from __future__ import annotations

import glob
import os
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import SYS_DELETED, SYS_LSN
from .shardstore import ShardedLayerStore
from .table import CowTable, fits_local
from .xxhash import xxh64_signed

# One split regex, mirrored verbatim in the oracle SQL. Java's split drops
# trailing empty strings while DuckDB's string_split_regex keeps them, so
# BOTH sides filter token <> '' — the only row the engines disagree on.
TOKEN_SPLIT = "[^a-z0-9]+"

POSTING_SCHEMA = T.StructType([
    T.StructField("token", T.StringType()),
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.LongType()),
    T.StructField("tf", T.LongType()),
])

# stored layer rows additionally carry the refresh sequence number
_STORED_SCHEMA = T.StructType(
    POSTING_SCHEMA.fields + [T.StructField("seq", T.LongType())])
_STORED_ARROW = pa.schema([
    ("token", pa.string()), ("conv_id", pa.string()),
    ("turn_idx", pa.int64()), ("tf", pa.int64()), ("seq", pa.int64())])


def shard_of(token: str, n_shards: int) -> int:
    """Driver-side shard of a token — bit-identical to the Spark-side
    ``pmod(xxhash64(token), n_shards)`` (pinned by the xxhash twin test
    corpus), so a term lookup prunes to one shard with zero Spark jobs."""
    return xxh64_signed(token.encode("utf-8")) % n_shards


def postings_of(df: DataFrame, n_shards: int) -> DataFrame:
    """(token, conv_id, turn_idx, tf, shard) postings of a keyed DataFrame
    with a ``text`` column. Pure generated-column work: lower + split +
    explode + hash-aggregate — no UDF, stays in WholeStageCodegen."""
    return (
        df.select(
            "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
            F.explode(F.split(F.lower(F.col("text")), TOKEN_SPLIT))
            .alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token", "conv_id", "turn_idx")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .withColumn("shard", F.pmod(F.xxhash64("token"), F.lit(n_shards)))
    )


# the stored columns a refresh reads from the table on the driver
_IMAGE_ARROW = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int64()), ("text", pa.string()),
    (SYS_LSN, pa.int64()), (SYS_DELETED, pa.bool_())])
_KEYS = ["conv_id", "turn_idx"]


def _winners(files: list[str]) -> pa.Table:
    """Per-key max-``_lsn`` rows of ``files`` (``_IMAGE_ARROW`` columns)."""
    from ..sources.datasource import (
        _last_per_key,
        _read_stored_arrow,
        _take_capped,
    )

    tab = _read_stored_arrow(files, schema=_IMAGE_ARROW)
    return _take_capped(tab, _last_per_key(tab, _KEYS, [SYS_LSN]))


def postings_arrow(tab: pa.Table, n_shards: int, seq: int) -> pa.Table:
    """``postings_of`` on the driver: ``(token, conv_id, turn_idx, tf,
    seq, shard)`` of an Arrow table with ``conv_id, turn_idx, text`` and
    optionally a bool ``is_add``. With ``is_add`` the rows are grouped on
    it too and a retraction (``is_add`` false) gets ``tf = 0``, as
    ``_refresh_incremental``'s Spark plan does.

    Tokens match Spark's ``split(lower(text), TOKEN_SPLIT)``. Over every
    Unicode scalar value, Arrow's ``utf8_lower`` then RE2 split and
    Spark's ``lower`` then Java split differ at exactly one: U+0130
    lowers to a bare ``i`` in Arrow but to ``i`` plus U+0307 in Spark,
    which then splits the token. Spelling U+0130 out as that pair first
    closes the gap (``tests/test_index_local_refresh.py``)."""
    cols = [c for c in tab.column_names if c != "text"]
    parts = []
    for batch in tab.to_batches():
        # per record batch: list_parent_indices counts from each chunk
        text = pc.replace_substring(batch.column("text"), "\u0130", "i\u0307")
        split = pc.split_pattern_regex(pc.utf8_lower(text), TOKEN_SPLIT)
        token = pc.list_flatten(split)
        keep = pc.not_equal(token, "")
        rows = pc.filter(pc.list_parent_indices(split), keep)
        parts.append(pa.table(
            [batch.column(c).take(rows) for c in cols]
            + [pc.filter(token, keep)], names=cols + ["token"]))
    toks = (pa.concat_tables(parts) if parts
            else pa.table({c: tab[c].slice(0, 0) for c in cols}
                          | {"token": pa.array([], pa.string())}))
    counted = toks.group_by(["token"] + cols).aggregate([([], "count_all")])
    tf = counted["count_all"]
    if "is_add" in cols:
        tf = pc.if_else(counted["is_add"], tf, pa.scalar(0, pa.int64()))
    token = counted["token"]
    distinct = pc.unique(token)
    of_token = np.array([shard_of(t, n_shards) for t in distinct.to_pylist()],
                        np.int32)
    shard = of_token[pc.index_in(token, value_set=distinct).to_numpy()]
    return pa.table({
        "token": token, "conv_id": counted["conv_id"],
        "turn_idx": counted["turn_idx"], "tf": tf,
        "seq": pa.array(np.full(counted.num_rows, seq, np.int64)),
        "shard": shard})


def _images(feed: list[str], pre: list[str]) -> pa.Table:
    """The text images an incremental refresh tokenizes, on the driver:
    ``conv_id, turn_idx, text, is_add``. The net winner per key of the
    feed files is left-joined to the pre-image winner per key of the
    touched buckets, and emitted by ``read_changes_with_images``'s rule:
    a change is effective when it beats the pre-image's ``_lsn`` (or
    there is none); an effective change adds its post-image if the new
    row is live and retracts its pre-image if the old row was."""
    net = _winners(feed)
    # a winner with a null tombstone flag emits nothing under that rule
    net = net.filter(pc.is_valid(net[SYS_DELETED]))
    old = _winners(pre).rename_columns(
        _KEYS + ["p_text", "p_lsn", "p_deleted"])
    j = net.join(old, keys=_KEYS, join_type="left outer")
    effective = pc.or_(pc.is_null(j["p_lsn"]),
                       pc.fill_null(pc.greater(j[SYS_LSN], j["p_lsn"]), False))
    add = pc.and_(effective, pc.invert(j[SYS_DELETED]))
    drop = pc.and_(effective,
                   pc.invert(pc.fill_null(j["p_deleted"], True)))
    keys = j.select(_KEYS)
    adds = keys.append_column("text", j["text"]).filter(add)
    drops = keys.append_column("text", j["p_text"]).filter(drop)
    return pa.concat_tables([adds, drops]).append_column("is_add", pa.array(
        np.arange(adds.num_rows + drops.num_rows) < adds.num_rows))


class TokenIndex(ShardedLayerStore):
    """Sharded merge-on-read inverted index, advanced in O(changes).
    Layer entries are ``{"p": relpath, "base": bool}`` (base =
    bootstrap/compaction output: unique keys, no tombstones); storage
    mechanics live in :class:`ShardedLayerStore`."""

    def __init__(self, root: str, n_shards: int = 16,
                 compact_at: int = 8) -> None:
        self._init_store(root, n_shards, compact_at)

    # --- manifest -------------------------------------------------------

    def _stored_schema(self) -> T.StructType:
        return _STORED_SCHEMA

    def _sort_cols(self) -> list[str]:
        # token-major so term lookups row-group-prune on token stats
        return ["shard", "token", "conv_id", "turn_idx"]

    def cursor(self) -> int | None:
        ptr = self._pointer()
        return None if ptr is None else ptr["snapshot_id"]

    def _flip(self, snapshot_id: int, shards: dict[int, list[dict]],
              seq: int) -> None:
        self._flip_pointer(
            {"snapshot_id": int(snapshot_id), "seq": int(seq)}, shards)

    # --- reads ----------------------------------------------------------

    @staticmethod
    def _resolve(raw: DataFrame) -> DataFrame:
        """Winner per (token, key) = highest (seq, tf); drop tombstones.
        The tf tie-break makes a same-seq retraction + re-addition of the
        same token resolve to the addition, so one delta layer per window
        suffices (no within-window anti-join)."""
        return (
            raw.groupBy("token", "conv_id", "turn_idx")
            .agg(F.max_by(F.col("tf"),
                          F.struct(F.col("seq"), F.col("tf"))).alias("tf"))
            .filter(F.col("tf") > 0)
        )

    def read(self, spark: SparkSession,
             shards: list[int] | None = None) -> DataFrame:
        """The resolved postings, optionally pruned to a shard list.
        Shards holding a single base layer are served directly (no
        shuffle — the common state after bootstrap or compaction); only
        multi-layer shards pay the resolve."""
        lays = self.shard_layers()
        if shards is not None:
            lays = {k: v for k, v in lays.items() if k in shards}
        direct = [v[0]["p"] for v in lays.values()
                  if len(v) == 1 and v[0]["base"]]
        layered = [lay["p"] for v in lays.values()
                   if not (len(v) == 1 and v[0]["base"]) for lay in v]
        out = None
        if direct:
            out = self._read_layers(spark, direct).drop("seq")
        if layered:
            res = self._resolve(self._read_layers(spark, layered))
            out = res if out is None else out.unionByName(res)
        if out is None:
            return spark.createDataFrame([], POSTING_SCHEMA)
        return out

    def lookup(self, spark: SparkSession, tokens: list[str]) -> DataFrame:
        """Postings of the given terms. Shards computed DRIVER-side with
        the pure-Python xxh64 twin (microseconds, no job), so a 3-term
        query against a 10^10-posting index reads at most 3 shards;
        within a shard the token-sorted files row-group-prune on the
        ``token`` min/max stats.

        When the shards' layers total at most ``LOCAL_MAX_BYTES`` on disk
        the lookup is answered on the driver in Arrow and returned as a
        local relation (no Spark job): each shard's layers are read with
        the ``token in tokens`` filter, a single base layer is served
        as is, and a layered shard resolves by the same rule as
        ``_resolve``. Larger shards keep the Spark plan."""
        tokens = list(tokens)
        shards = sorted({shard_of(t, self.n_shards) for t in tokens})
        lays = {k: v for k, v in self.shard_layers().items() if k in shards}
        files = self._shard_files(lays)
        if not fits_local([f for fs in files.values() for f in fs]):
            return self.read(spark, shards=shards).filter(
                F.col("token").isin(tokens))
        from ..sources.datasource import _read_stored_arrow, _to_dataframe

        names = POSTING_SCHEMA.names
        parts = []
        for k, v in lays.items():
            tab = _read_stored_arrow(files[k], schema=_STORED_ARROW,
                                     filters=[("token", "in", tokens)])
            if not (len(v) == 1 and v[0]["base"]):
                tab = self._resolve_arrow(tab)
            parts.append(tab.select(names))
        return _to_dataframe(
            spark, pa.concat_tables(parts) if parts
            else _STORED_ARROW.empty_table().select(names), POSTING_SCHEMA)

    def _shard_files(self, lays: dict[int, list[dict]]) -> dict[int, list[str]]:
        return {k: [f for lay in v for f in sorted(glob.glob(
            os.path.join(self.root, lay["p"], "*.parquet")))]
            for k, v in lays.items()}

    @staticmethod
    def _resolve_arrow(tab: pa.Table) -> pa.Table:
        """``_resolve`` on the driver, over ``_STORED_ARROW`` rows."""
        from ..sources.datasource import _last_per_key, _take_capped

        rows = _last_per_key(tab, ["token", "conv_id", "turn_idx"],
                             ["seq", "tf"])
        return _take_capped(tab, rows[tab["tf"].take(rows).to_numpy() > 0])

    # --- refresh --------------------------------------------------------

    def refresh(self, spark: SparkSession, table: CowTable) -> dict[str, Any]:
        """Advance the index to the table's current snapshot.

        Bootstrap (no cursor) and the resync fallback rebuild every shard
        from one pruned full scan; the steady state appends one O(changes)
        delta layer across the touched shards — existing postings are
        never read, let alone rewritten — then folds any shard whose
        layer count exceeds ``compact_at``.

        Each route first sizes its read set from the file inventory
        (``fits_local``). One of at most ``LOCAL_MAX_BYTES`` is read and
        tokenized on the driver in Arrow (``postings_arrow``) and written
        with no Spark job; a larger one keeps its Spark plan. Both write
        the same postings."""
        snap = table.current_snapshot()
        if snap is None:
            raise ValueError("table has no snapshots; create() it first")
        target = snap["snapshot_id"]
        cur = self.cursor()
        if cur == target:
            return {"refreshed": False, "cursor": cur}

        if cur is not None:
            try:
                feed = table.changed_files(cur, to_snapshot=target)
            except ValueError:
                feed = None  # not feed-serveable -> rebuild below
            if feed is not None:
                return self._refresh_incremental(spark, table, cur, target,
                                                 feed)

        # bootstrap / rebuild: postings of the full live state, pinned to
        # the target snapshot so concurrent ingest cannot leak rows past
        # the cursor being recorded
        files = table._files_for(snap, None) + table._delta_files_for(snap, None)
        if fits_local(files):
            live = _winners(files)
            live = live.filter(pc.invert(pc.fill_null(live[SYS_DELETED], True)))
            posts = postings_arrow(live.select(["conv_id", "turn_idx", "text"]),
                                   self.n_shards, seq=0)
        else:
            posts = postings_of(
                table.read(spark, snapshot_id=target, columns=["text"]),
                self.n_shards).withColumn("seq", F.lit(0).cast("long"))
        written = self._write_layer(posts)
        self._flip(target, {k: [{"p": p, "base": True}]
                            for k, p in written.items()}, seq=0)
        return {"refreshed": True, "cursor": target,
                "mode": "bootstrap" if cur is None else "rebuild",
                "shards_written": len(written)}

    def _refresh_incremental(self, spark: SparkSession, table: CowTable,
                             cur: int, target: int,
                             feed: list[str]) -> dict[str, Any]:
        ptr = self._pointer()
        seq = ptr["seq"] + 1
        before = table.snapshot_by_id(cur)
        touched = table.touched_buckets(before,
                                        table.snapshot_by_id(target))
        pre = (table._files_for(before, touched)
               + table._delta_files_for(before, touched))
        if fits_local(feed + pre):
            delta = postings_arrow(_images(feed, pre), self.n_shards, seq)
        else:
            delta = self._delta_of(table.read_changes_with_images(
                spark, cur, to_snapshot=target, columns=["text"]), seq)
        written = self._write_layer(delta)
        shards = self.shard_layers()
        for s, p in written.items():
            shards.setdefault(s, []).append({"p": p, "base": False})
        self._flip(target, shards, seq=seq)
        over = [s for s, lays in shards.items()
                if len(lays) > self.compact_at]
        folded = self.compact_shards(spark, over) if over else 0
        return {"refreshed": True, "cursor": target, "mode": "incremental",
                "shards_delta": len(written), "shards_folded": folded}

    def _delta_of(self, imgs: DataFrame, seq: int) -> DataFrame:
        # ONE pass over the feed: additions from the post-images,
        # tombstones (tf=0) for every pre-image/delete token of a changed
        # key — the exact (token, key) pairs whose postings must retract,
        # known only from row images. A union of two filtered subtrees
        # would compute the feed (before-side bucket reads + join) twice;
        # grouping on the add/remove side instead keeps it one job.
        tokens = (
            imgs.select(
                "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
                F.col("_change_type").isin("insert", "update_postimage")
                .alias("is_add"),
                F.explode(F.split(F.lower(F.col("text")), TOKEN_SPLIT))
                .alias("token"))
            .filter(F.col("token") != ""))
        return (
            tokens.groupBy("token", "conv_id", "turn_idx", "is_add")
            .agg(F.count(F.lit(1)).cast("long").alias("_n"))
            .select(
                "token", "conv_id", "turn_idx",
                F.when(F.col("is_add"), F.col("_n"))
                .otherwise(F.lit(0)).cast("long").alias("tf"),
                F.pmod(F.xxhash64("token"), F.lit(self.n_shards))
                .alias("shard"),
                F.lit(seq).cast("long").alias("seq"))
        )

    # --- index-accelerated DML -------------------------------------------

    def delete_matching(self, spark: SparkSession, table: CowTable,
                        tokens: list[str],
                        batch_id: int | None = None,
                        refresh: bool = True,
                        **dml_kw: Any) -> dict[str, Any] | None:
        """Index-accelerated DELETE (the GDPR-erasure / takedown shape):
        tombstone every live row whose text contains ANY of ``tokens`` —
        **O(matched + changes since the index cursor)** end to end,
        never an O(live rows) predicate scan.

        ``delete_where("text LIKE ...")`` must read every live row
        because the predicate has to see current winners; this path
        replaces that scan with the inverted index: ``refresh`` advances
        the index O(changes) off the image feed, the term ``lookup``
        prunes driver-side to the tokens' shards (and row-group-prunes
        on token-sorted files), and the matched keys go straight into
        op='D' tombstones at a fresh LSN through the SAME merge path as
        every other DML — exactly-once under ``batch_id``, change-feed
        visible, an O(matched) delta layer. The index is exact at the
        head after the refresh (it IS the live state's tokenization), so the key set equals the predicate's matches; a
        stale cursor with ``refresh=False`` raises rather than deleting
        against an old view of the table. No table read happens at all
        (pinned by test): tombstones need keys only, payloads are typed
        nulls, and LWW makes tombstoning an already-dead key harmless.

        Reference analogue: the reference handles takedowns by re-running
        the whole filter chain over the corpus
        (``scripts/02_extract_media.py``); here it is index lookup +
        O(matched) commit.
        """
        from .merge import _fresh_lsn, mor_apply_batch
        from .schema import KEY_COLS, PAYLOAD_COLS, PAYLOAD_FIELDS

        if batch_id is not None and table.is_committed(batch_id):
            return None
        keys = self._matched_keys(spark, table, tokens, refresh)
        delete_lsn = _fresh_lsn(table)
        types = dict(PAYLOAD_FIELDS)
        changes = keys.select(
            F.lit(delete_lsn).alias("lsn"),
            F.lit("D").alias("op"),
            *KEY_COLS,
            *[F.lit(None).cast(types[c]).alias(c)
              for c in PAYLOAD_COLS if c not in KEY_COLS],
        )
        return mor_apply_batch(spark, table, changes, batch_id,
                               pre_reduced=True, **dml_kw)

    def _matched_keys(self, spark: SparkSession, table: CowTable,
                      tokens: list[str], refresh: bool) -> DataFrame:
        """The distinct keys whose text contains any of ``tokens``, from
        the index (exact at the head after a refresh). A stale cursor with
        ``refresh=False`` raises rather than running DML against an old
        view of the table."""
        from .schema import KEY_COLS

        if refresh:
            self.refresh(spark, table)
        head = table.current_snapshot()["snapshot_id"]
        if self.cursor() != head:
            raise ValueError(
                f"index cursor {self.cursor()} is behind table head "
                f"{head}; refresh the index (or pass refresh=True)")
        return self.lookup(spark, tokens).select(*KEY_COLS).distinct()

    def update_matching(self, spark: SparkSession, table: CowTable,
                        tokens: list[str], assignments: dict[str, Any],
                        batch_id: int | None = None,
                        refresh: bool = True,
                        **dml_kw: Any) -> dict[str, Any] | None:
        """Index-accelerated UPDATE (the redaction / targeted-fix-up
        shape): rewrite every live row whose text contains ANY of
        ``tokens`` with ``assignments`` (Column or SQL-string exprs over
        the row's current values, same contract as ``update_where``) —
        **O(matched + changes since the index cursor)** end to end.

        ``update_where`` must scan every live row to evaluate its
        predicate; here the matched-key set comes from the shard-pruned
        term lookup, and the payload read (updates need current values,
        unlike deletes) touches ONLY the matched keys' buckets: the
        bucket list is a bounded driver-side collect (<= n_buckets ints),
        the read rides the native Arrow fold (one partition per bucket,
        zero shuffle), and a LEFT SEMI against the matched keys makes it
        exact inside those buckets. A 100-row redaction against a
        10^10-row table reads ~100 point rows, not the table. Full-row
        op='U' events commit at a fresh LSN through the ordinary DML
        merge path — exactly-once under ``batch_id``, change-feed
        visible, an O(matched) delta layer.

        Reference analogue: the reference's record fix-ups re-run the
        whole annotate stage over every record
        (``scripts/05_json_to_entrez.py:324-330``); here a targeted
        fix-up is index lookup + O(matched) read + O(matched) commit.
        """
        from .merge import (_assignment_value, _fresh_lsn,
                            _native_live_read, _validate_assignments,
                            mor_apply_batch)
        from .schema import KEY_COLS, PAYLOAD_COLS, target_change_schema
        from .table import bucket_expr

        _validate_assignments(assignments)
        if batch_id is not None and table.is_committed(batch_id):
            return None
        # the lookup is used twice (bucket collect + semi join): persist
        # so the shard read + resolve runs once
        keys = self._matched_keys(spark, table, tokens, refresh).persist()
        try:
            buckets = sorted(
                r["b"] for r in keys.select(
                    bucket_expr(KEY_COLS[0], table.n_buckets).alias("b"))
                .distinct().collect())
            update_lsn = _fresh_lsn(table)
            if buckets:
                tgt = _native_live_read(spark, table, buckets=buckets)
                changes = (
                    tgt.join(keys, on=KEY_COLS, how="left_semi")
                    .select(
                        F.lit(update_lsn).alias("lsn"),
                        F.lit("U").alias("op"),
                        *KEY_COLS,
                        *[_assignment_value(assignments, c).alias(c)
                          for c in PAYLOAD_COLS if c not in KEY_COLS],
                    )
                )
            else:  # no term matches: commit an empty (fenced) batch
                changes = spark.createDataFrame([], target_change_schema())
            return mor_apply_batch(spark, table, changes, batch_id,
                                   pre_reduced=True, **dml_kw)
        finally:
            keys.unpersist()

    # --- maintenance ----------------------------------------------------

    def compact_shards(self, spark: SparkSession,
                       shards: list[int]) -> int:
        """Fold the given shards' layer stacks into one base layer each
        (resolve winners, drop tombstones — safe: seqs are strictly
        ordered refreshes, nothing below a winner can resurrect). Touches
        ONLY the named shards; every other shard's layers are carried
        forward untouched. Returns the number of shards folded."""
        ptr = self._pointer()
        if ptr is None or not shards:
            return 0
        lays = self.shard_layers()
        targets = [s for s in shards if s in lays]
        if not targets:
            return 0
        files = self._shard_files({s: lays[s] for s in targets})
        if fits_local([f for fs in files.values() for f in fs]):
            from ..sources.datasource import _read_stored_arrow

            parts = []
            for s in targets:
                tab = self._resolve_arrow(
                    _read_stored_arrow(files[s], schema=_STORED_ARROW))
                parts.append(tab.set_column(
                    tab.schema.get_field_index("seq"), "seq",
                    pa.array(np.full(tab.num_rows, ptr["seq"], np.int64)))
                    .append_column("shard", pa.array(
                        np.full(tab.num_rows, s, np.int32))))
            resolved = pa.concat_tables(parts)
        else:
            paths = [lay["p"] for s in targets for lay in lays[s]]
            resolved = (
                self._resolve(self._read_layers(spark, paths))
                .withColumn("shard",
                            F.pmod(F.xxhash64("token"), F.lit(self.n_shards)))
                .withColumn("seq", F.lit(ptr["seq"]).cast("long"))
            )
        written = self._write_layer(resolved)
        for s in targets:
            if s in written:
                lays[s] = [{"p": written[s], "base": True}]
            else:
                lays.pop(s, None)  # every posting tombstoned away
        self._flip(ptr["snapshot_id"], lays, seq=ptr["seq"])
        return len(targets)
