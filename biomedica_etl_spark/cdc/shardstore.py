"""Shared mechanics of the sharded merge-on-read derived-table stores.

``TokenIndex``, ``JoinView``, and ``HistoryTable`` all keep their state
as immutable per-shard layer directories plus one atomic JSON pointer,
for the same reasons the main table does (crash = previous version
intact; replayed refresh converges; flip-time GC collects superseded
layers and crash orphans under the single-writer discipline). This
mixin is that machinery, written once:

- ``_pointer`` / ``_pointer_path``: the JSON pointer,
- ``shard_layers``: shard -> ordered layer list (entries are either
  plain relpaths or ``{"p": relpath, ...}`` dicts — ``_entry_path``
  normalizes),
- ``_flip_pointer(payload, shards)``: temp + fsync + atomic rename,
  then GC of every ``d-*/shard=*`` dir the new manifest does not
  reference,
- ``_read_layers``: schema'd parquet read of layer paths
  (``_stored_schema()`` supplies the schema — partition columns are not
  stored in the files and read back as typed nulls),
- ``_write_layer``: a fresh immutable container holding one file per
  shard sorted by ``_sort_cols()``, written from a ``DataFrame`` through
  one uncounted ``repartition(shard)`` exchange (AQE sizes it by bytes)
  or from a ``pyarrow.Table`` on the driver with no Spark job; returns
  shard -> written relpath.

Subclasses keep their public API and semantics; only the storage
mechanics live here, so a fix to the crash/GC behavior applies to every
derived table at once.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class ShardedLayerStore:
    """Mixin: requires ``self.root`` and ``self.n_shards``."""

    # --- subclass knobs ---------------------------------------------------

    def _stored_schema(self) -> T.StructType:
        raise NotImplementedError

    def _sort_cols(self) -> list[str]:
        """Within-partition sort of written layer files (first element
        must be 'shard')."""
        raise NotImplementedError

    # --- construction -------------------------------------------------------

    def _init_store(self, root: str, n_shards: int, compact_at: int) -> None:
        self.root = root
        self.n_shards = n_shards
        self.compact_at = compact_at
        os.makedirs(root, exist_ok=True)
        # attach semantics: read the pointer once so an existing store's
        # recorded shard count is adopted BEFORE any driver-side shard
        # computation can use the constructor default
        self._pointer()

    # --- pointer ------------------------------------------------------------

    def _pointer_path(self) -> str:
        return os.path.join(self.root, "pointer.json")

    def _pointer(self) -> dict[str, Any] | None:
        p = self._pointer_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            ptr = json.load(f)
        # the on-disk layout is authoritative: layers were hash-routed and
        # pruning must use the SAME modulus, so a store attached with a
        # different constructor value silently routing lookups to the
        # wrong shards is the failure mode this adoption removes (the
        # constructor arg only sizes a store that does not exist yet;
        # resharding is a rebuild, not an attach-time choice)
        stored = ptr.get("n_shards")
        if stored is not None and int(stored) != self.n_shards:
            self.n_shards = int(stored)
        return ptr

    def shard_layers(self) -> dict[int, list[Any]]:
        """shard -> ordered layer list; absent shard = empty."""
        ptr = self._pointer()
        if ptr is None:
            return {}
        return {int(k): v for k, v in ptr["shards"].items()}

    @staticmethod
    def _entry_path(lay: Any) -> str:
        return lay["p"] if isinstance(lay, dict) else lay

    def _flip_pointer(self, payload: dict[str, Any],
                      shards: dict[int, list[Any]]) -> None:
        tmp = self._pointer_path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({**payload,
                       "n_shards": self.n_shards,
                       "shards": {str(k): v for k, v in shards.items()}}, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._pointer_path())
        # GC: single-writer discipline — after the atomic flip every
        # layer dir the new manifest does not reference (superseded
        # versions and crash orphans alike) is garbage, as is any
        # pointer tmp file left by a crash between write and rename
        referenced = {self._entry_path(lay)
                      for lays in shards.values() for lay in lays}
        for entry in os.listdir(self.root):
            cont = os.path.join(self.root, entry)
            if entry.startswith("pointer.json.tmp-"):
                try:
                    os.unlink(cont)
                except OSError:
                    pass
                continue
            if not (entry.startswith("d-") and os.path.isdir(cont)):
                continue
            for sub in os.listdir(cont):
                rel = f"{entry}/{sub}"
                if sub.startswith("shard=") and rel not in referenced:
                    shutil.rmtree(os.path.join(cont, sub),
                                  ignore_errors=True)
            if not os.listdir(cont):
                try:
                    os.rmdir(cont)
                except OSError:
                    pass

    # --- layer I/O ----------------------------------------------------------

    def _read_layers(self, spark: SparkSession,
                     paths: list[str]) -> DataFrame:
        if not paths:
            return spark.createDataFrame([], self._stored_schema())
        return spark.read.schema(self._stored_schema()).parquet(
            *[os.path.join(self.root, p) for p in sorted(paths)])

    def _write_layer(self, stored: Any) -> dict[int, str]:
        """Write stored rows (with a ``shard`` column) into a fresh
        immutable container dir, one file per shard sorted by
        ``_sort_cols()`` so reads row-group-prune. Returns shard ->
        relpath for shards with rows.

        ``stored`` is a ``DataFrame`` (one uncounted exchange, which AQE
        sizes, then a partitioned Spark write) or a ``pyarrow.Table``,
        written on the driver with no Spark job: one sort, then one zstd
        file per shard, with no ``shard`` column in the file as a
        partitioned write leaves none."""
        cont = f"d-{uuid.uuid4().hex}"
        out = os.path.join(self.root, cont)
        if isinstance(stored, DataFrame):
            (stored
             .repartition("shard")
             .sortWithinPartitions(*self._sort_cols())
             .write.partitionBy("shard").parquet(out))
            return {int(sub.split("=", 1)[1]): f"{cont}/{sub}"
                    for sub in os.listdir(out) if sub.startswith("shard=")}
        import numpy as np
        import pyarrow.parquet as pq

        tab = stored.sort_by([(c, "ascending") for c in self._sort_cols()])
        shard = tab["shard"].to_numpy()
        tab = tab.drop_columns(["shard"])
        starts = np.flatnonzero(np.diff(shard, prepend=-1))  # shard runs
        written: dict[int, str] = {}
        for lo, hi in zip(starts, [*starts[1:], len(shard)]):
            rel = f"{cont}/shard={int(shard[lo])}"
            os.makedirs(os.path.join(self.root, rel))
            pq.write_table(tab.slice(lo, hi - lo), os.path.join(
                self.root, rel, f"part-00000-{uuid.uuid4().hex}.parquet"),
                compression="zstd")
            written[int(shard[lo])] = rel
        return written
