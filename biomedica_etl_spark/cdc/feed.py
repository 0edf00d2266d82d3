"""Exactly-once consumer cursor over the CDF image feed.

``read_changes_with_images`` answers "what changed between two snapshots";
this module adds the CONSUMER side: a durable cursor with the Kafka
poll/commit discipline, so an external maintainer (search index, replica,
retractable aggregate outside the engine) can drain the feed incrementally
and never lose or double-apply a window across its own crashes.

Reference analogue: the reference's stage-to-stage handoff is "diff the
completed-logs, process the gap, append to the completed-logs"
(``src/pmc_oa/download_batch.py:246-316``) — the same cursor-advance-after-
work discipline, here made transactional against snapshot ids.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import PAYLOAD_COLS
from .table import CowTable


class ImageFeedCursor:
    """Durable poll/commit cursor over ``read_changes_with_images``.

    Protocol::

        cur = ImageFeedCursor(state_dir)
        cur.initialize(table)            # once: derived state bootstraps
                                         # from a full read at this snapshot
        ...
        out = cur.poll(spark, table)     # None if nothing new
        if out is not None:
            df, token = out
            apply(df)                    # consumer-side work
            cur.commit(token)            # advance; ONLY now is the window
                                         # consumed

    Semantics:

    - ``poll`` pins the window ``(cursor, current snapshot]`` at call
      time, so ingest landing mid-processing never tears the batch; the
      returned ``token`` names the window's end snapshot.
    - a crash (or any failure) between ``poll`` and ``commit`` loses
      nothing: the next ``poll`` re-serves the SAME window — at-least-once
      delivery, and exactly-once effect when the consumer applies the
      batch idempotently or transactionally with the token (the image
      feed's net semantics make plain upsert/delete application
      idempotent by construction).
    - ``commit`` with a stale token (not the last polled window) raises —
      the consumer must not skip a window.
    - a window that is not feed-serveable (base rewrite, major compaction,
      rollback inside it) raises the feed's resync ``ValueError``; the
      consumer rebuilds its derived state from a full read and calls
      ``reset(snapshot_id)`` to jump the cursor to the snapshot it rebuilt
      at. Minor folds are served transparently (the feed's fold proof).

    State is one JSON file, atomic-rename updates — same commit discipline
    as the engine's own metadata.
    """

    def __init__(self, state_dir: str) -> None:
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)
        self._pending: int | None = None

    def _path(self) -> str:
        return os.path.join(self.state_dir, "cursor.json")

    def cursor(self) -> int | None:
        p = self._path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)["snapshot_id"]

    def _write(self, snapshot_id: int) -> None:
        tmp = self._path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"snapshot_id": int(snapshot_id)}, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._path())

    def initialize(self, table: CowTable) -> int:
        """Set the cursor to the table's current snapshot (the consumer
        bootstraps its derived state from a full read AT this snapshot —
        pin it with ``table.read(spark, snapshot_id=...)``). Idempotent:
        an existing cursor is left untouched."""
        cur = self.cursor()
        if cur is not None:
            return cur
        snap = table.current_snapshot()
        if snap is None:
            raise ValueError("table has no snapshots; create() it first")
        self._write(snap["snapshot_id"])
        return snap["snapshot_id"]

    def poll(self, spark: SparkSession, table: CowTable,
             columns: list[str] | None = None
             ) -> tuple[DataFrame, int] | None:
        """The next unconsumed image window, or ``None`` when the cursor
        is at the table head. Returns ``(images_df, token)``; the df is
        the pinned ``read_changes_with_images(cursor, token, columns)``.
        Re-polling before ``commit`` re-serves the same window."""
        cur = self.cursor()
        if cur is None:
            raise ValueError("cursor not initialized; call initialize()")
        table.refresh()
        head = table.current_snapshot()["snapshot_id"]
        if head <= cur:
            self._pending = None
            return None
        df = table.read_changes_with_images(spark, cur, to_snapshot=head,
                                            columns=columns)
        self._pending = head
        return df, head

    def commit(self, token: int) -> None:
        """Advance the cursor to ``token`` — the window is consumed. Only
        the last polled window may be committed."""
        if self._pending is None or token != self._pending:
            raise ValueError(
                f"token {token} is not the last polled window "
                f"({self._pending}); poll() before commit()")
        self._write(token)
        self._pending = None

    def reset(self, snapshot_id: int) -> None:
        """Jump the cursor after an out-of-band rebuild (the resync path:
        a base rewrite / compaction / rollback made the window unservable,
        the consumer re-derived its state from a full read pinned at
        ``snapshot_id``)."""
        self._write(snapshot_id)
        self._pending = None


def replicate_window(spark: SparkSession, cursor: ImageFeedCursor,
                     src: CowTable, dst: CowTable) -> dict[str, Any] | None:
    """One exactly-once replication cycle: poll the next image window from
    ``src``, apply it to ``dst`` through the ordinary merge path, commit
    the cursor. Returns ``None`` when the cursor is at the head.

    The window's images are re-expressed as change events — postimages
    and inserts as ``op='U'`` at their winning LSN, deletes as ``op='D'``
    (pre-images dropped; the feed's net semantics make the remaining rows
    one-per-key, so the apply skips the identity LWW reduce) — and
    committed with ``batch_id = the window token``. That makes the
    poll-apply-commit cycle exactly-once END TO END across consumer
    crashes: a crash after the apply but before the cursor commit
    re-serves the same window, whose batch id is already committed on
    ``dst``, so the replayed apply FENCES to a no-op (zero new snapshots)
    and only the cursor advances. ``dst`` must be maintained solely by
    this replication stream (single-writer; window tokens are the batch-id
    namespace).

    The result dict carries ``token`` and ``fenced`` (True when the apply
    was a replayed no-op)."""
    from .merge import mor_apply_batch

    out = cursor.poll(spark, src)
    if out is None:
        return None
    df, token = out
    ev = (
        df.filter(F.col("_change_type") != "update_preimage")
        .select(
            F.col("_lsn").alias("lsn"),
            F.when(F.col("_change_type") == "delete", "D")
            .otherwise("U").alias("op"),
            *PAYLOAD_COLS)
    )
    res = mor_apply_batch(spark, dst, ev, batch_id=token, pre_reduced=True)
    cursor.commit(token)
    return {"token": token, "fenced": res is None}


def replicate_until_drained(spark: SparkSession, cursor: ImageFeedCursor,
                            src: CowTable, dst: CowTable) -> list[dict]:
    """Drain the feed into ``dst``: repeat ``replicate_window`` until the
    cursor reaches the head. Returns the per-window results."""
    results = []
    while True:
        r = replicate_window(spark, cursor, src, dst)
        if r is None:
            return results
        results.append(r)


def apply_images(state: dict[tuple, dict], rows: list[Any]) -> None:
    """Reference consumer: fold an image batch into a key->row dict
    (upsert postimage/insert, drop delete, ignore preimage). Idempotent —
    re-applying the same batch is a no-op — so a poll/commit consumer
    using it is exactly-once end to end. Used by tests and usable as the
    template for real consumers."""
    for r in rows:
        k = (r["conv_id"], r["turn_idx"])
        t = r["_change_type"]
        if t in ("insert", "update_postimage"):
            state[k] = {c: r[c] for c in r.asDict()
                        if c not in ("_change_type", "_lsn")}
        elif t == "delete":
            state.pop(k, None)
