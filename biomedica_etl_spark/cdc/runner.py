"""Micro-batch apply loop: tail -> align schema -> LWW reduce -> MERGE -> commit.

The engine's driver loop — reference analogue is the per-batch SLURM job
chain (``scripts/03_download_batch_ftp.sh:36-60``) with diff-based resume.
Each iteration:

1. ``pending_batches`` (checkpoint anti-join) picks the next uncommitted
   micro-batch;
2. the batch is read with **partition pruning** — only its
   ``schema_id=K/batch_id=N`` directory is listed/scanned — as a Spark
   DataFrame, or, for a MOR batch whose files fit ``LOCAL_MAX_BYTES``,
   into an Arrow table on the driver;
3. the epoch's physical schema is aligned to the target schema
   (schema evolution, metadata-only);
4. the batch is staged — MOR: mor_stage_batch LWW-reduces it into an
   uncommitted delta layer, with no Spark job for an Arrow batch; COW:
   the changes themselves — and committed in batch order: mor_commit_staged
   or merge_batch (LWW reduce + COW rewrite of the affected buckets)
   commits one snapshot and appends per-partition lineage;
5. an audit, when set, publishes or aborts the staged commit
   (write-audit-publish); then derived stores refresh and at-threshold
   buckets fold.

``run`` is the one apply loop. It stages up to ``pipeline_depth`` batches
ahead and commits them in order, so depth 1 is sequential; at any depth it
applies ``pending()[:max_batches]``. ``stage_next_batch`` is the same
stage and commit for one batch, left staged for a multi-table
transaction.

Crash anywhere before the snapshot rename leaves only an unreferenced
staging dir; restart re-derives pending work from the checkpoint and
re-applies — exactly-once by fencing, value-idempotent by max-LSN merge.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .checkpoint import pending_batches, planned_batches
from .lineage import append_lineage
from .merge import (
    compact,
    compact_layers,
    merge_batch,
    mor_commit_staged,
    mor_stage_batch,
)
from .schema import (
    CHANGE_COLS,
    SchemaRegistry,
    align_to_target,
    target_change_arrow_schema,
    target_change_schema,
)
from .table import ConcurrentCommitError, CowTable, fits_local


class _TrackedPool:
    """ThreadPoolExecutor wrapper that keeps every submitted future.

    ``ThreadPoolExecutor.shutdown(wait=True)`` does NOT re-raise task
    exceptions — an async lineage emit that crashed would be silently
    swallowed and its rows lost with no signal. The drain calls
    ``result()`` on each future so any failure surfaces to the caller."""

    def __init__(self, pool: Any) -> None:
        self.pool = pool
        self.futures: list[Any] = []

    def submit(self, fn: Any, *args: Any, **kwargs: Any) -> Any:
        fut = self.pool.submit(fn, *args, **kwargs)
        self.futures.append(fut)
        return fut

    def drain(self) -> None:
        self.pool.shutdown(wait=True)
        for fut in self.futures:
            fut.result()  # re-raises the first task exception
        self.futures.clear()


class _AsyncSlot:
    """One lazily-created maintenance thread holding at most one in-flight
    job — the async-compaction and derived-maintenance discipline shared:
    a busy slot means the caller skips and catches up on a later commit,
    so maintenance never queues behind itself. ``reap``/``drain`` clear
    the slot BEFORE re-raising a job failure, so a failed round surfaces
    exactly once instead of wedging every subsequent call on the same
    stale exception, and ``drain`` shuts the pool down so long-lived
    drivers don't leak one parked thread per runner."""

    def __init__(self, name: str) -> None:
        self.name = name
        self.pool: Any = None
        self.future: Any = None

    @property
    def busy(self) -> bool:
        return self.future is not None

    def reap(self) -> bool:
        """Consume a FINISHED future (re-raising its failure after
        clearing the slot); True iff one was consumed. A still-running
        future is left in place."""
        if self.future is None or not self.future.done():
            return False
        fut, self.future = self.future, None
        fut.result()
        return True

    def submit(self, fn: Any, *args: Any) -> None:
        if self.pool is None:
            from concurrent.futures import ThreadPoolExecutor

            self.pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix=self.name)
        self.future = self.pool.submit(fn, *args)

    def drain(self) -> None:
        """Block on the in-flight job (slot cleared before any re-raise),
        then stop the thread; the next submit re-creates it lazily."""
        try:
            if self.future is not None:
                fut, self.future = self.future, None
                fut.result()
        finally:
            if self.pool is not None:
                self.pool.shutdown(wait=True)
                self.pool = None


def read_batch(
    spark: SparkSession, log_dir: str, batch_id: int, schema_id: int,
    registry: SchemaRegistry,
) -> DataFrame:
    path = os.path.join(log_dir, f"schema_id={schema_id}", f"batch_id={batch_id}")
    df = spark.read.schema(registry.get(schema_id)).parquet(path)
    return align_to_target(df)


def read_log_events(
    spark: SparkSession, log_dir: str, registry: SchemaRegistry | None = None,
) -> DataFrame:
    """Every change event of a generated log as ONE schema-aligned frame
    (the epochs' int-width/added-column drift resolved by the registry +
    ``align_to_target``, which plain ``mergeSchema`` parquet reads refuse
    to merge). Batch fencing is deliberately absent — this is the bulk
    export/fixture read, not the exactly-once apply path."""
    from functools import reduce as _reduce

    registry = registry or SchemaRegistry()
    parts = []
    for sdir in sorted(os.listdir(log_dir)):
        if not sdir.startswith("schema_id="):
            continue
        sid = int(sdir.split("=", 1)[1])
        for bdir in sorted(os.listdir(os.path.join(log_dir, sdir))):
            if bdir.startswith("batch_id="):
                parts.append(read_batch(spark, log_dir,
                                        int(bdir.split("=", 1)[1]),
                                        sid, registry))
    if not parts:
        raise ValueError(f"no schema_id=*/batch_id=* dirs under {log_dir}")
    return _reduce(lambda a, b: a.unionByName(b), parts)


@dataclass
class RunResult:
    batches_applied: list[int] = field(default_factory=list)
    batches_skipped: list[int] = field(default_factory=list)
    # write-audit-publish: batches whose staged commit the audit gate
    # rejected; they were aborted, stay UNcommitted, and replay after
    # remediation (reason strings parallel the ids)
    batches_rejected: list[int] = field(default_factory=list)
    reject_reasons: list[str] = field(default_factory=list)
    rows_upserted: int = 0
    rows_deleted: int = 0


class CdcRunner:
    def __init__(
        self,
        spark: SparkSession,
        log_dir: str,
        table_root: str,
        n_buckets: int = 16,
        mode: str = "cow",
        compact_every: int = 8,
        shuffle_salts: int = 4,
        async_lineage: bool = False,
        pipeline_depth: int = 1,
        max_records_per_file: int = 0,
        audit: Any = None,
        commit_retries: int = 3,
        async_compact: bool = False,
        compact_mode: str = "major",
        fold_tier_bytes: int = 0,
        maintain: list[Any] | None = None,
        maintain_every: int = 1,
        async_maintain: bool = False,
    ) -> None:
        """mode='cow': read-optimized, each batch rewrites affected buckets.
        mode='mor': write-optimized (Iceberg-v2-style merge-on-read), each
        batch appends an O(delta) layer; layers fold into the base whenever
        any bucket accumulates ``compact_every`` of them.

        ``pipeline_depth`` > 1 (MOR only) overlaps micro-batches the way a
        streaming engine does: up to that many batches' stages are in
        flight at once (distinct MOR layers are write-independent), while
        snapshot COMMITS stay strictly in batch order — so exactly-once
        fencing and the checkpoint contract are unchanged. This fills the
        scheduler gaps between jobs (driver-side planning, commit fsyncs)
        with the next batch's executor work. At depth 1 (the default)
        each batch is staged only after the previous one's commit, folds
        and refreshes have returned: the loop is sequential."""
        if mode not in ("cow", "mor"):
            raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
        self.spark = spark
        self.log_dir = log_dir
        self.table = CowTable(table_root, n_buckets=n_buckets)
        self.table.create()
        self.mode = mode
        self.compact_every = compact_every
        self.shuffle_salts = shuffle_salts
        # lineage is derived data (recomputable from committed layer files),
        # so its read-back/append may overlap the next batch's wide job;
        # run() drains the executor before returning
        self.async_lineage = async_lineage
        self._lineage_pool = None
        if pipeline_depth > 1 and mode != "mor":
            raise ValueError("pipeline_depth > 1 requires mode='mor' "
                             "(COW batches read the previous batch's output)")
        # write-audit-publish: audit(spark, table) -> bool | (bool, reason)
        # runs against table.read(spark, snapshot_id="staged") after each
        # batch's STAGED commit; True publishes (fencing engages then),
        # False aborts — the batch stays pending for remediation. An audit
        # gate serializes commits by construction, so it is incompatible
        # with pipelined staging.
        if audit is not None and pipeline_depth > 1:
            raise ValueError("audit gating requires pipeline_depth=1 "
                             "(publish/abort must interleave with commits)")
        self.audit = audit
        self.pipeline_depth = pipeline_depth
        # optimistic-concurrency loser policy: on ConcurrentCommitError the
        # runner refresh()es its table handle and re-runs the commit (up to
        # this many times) instead of surfacing the race to the caller —
        # two runners feeding the same table from disjoint batch ranges
        # both make progress. Exactly-once is unchanged: after the refresh
        # the fencing check turns a same-batch replay into a no-op.
        self.commit_retries = commit_retries
        self.commit_races_retried = 0  # observability: races absorbed
        # async maintenance: compaction of at-threshold buckets runs on a
        # dedicated thread in the FAIR pool "maintenance", CONCURRENT with
        # the next batches' applies, through its OWN table handle — the
        # optimistic-concurrency commit (compact's metadata-only retry +
        # this runner's commit_retries) is the only coordination needed.
        # This is the lakehouse steady-state shape: ingest never stops for
        # maintenance; maintenance consumes capacity ingest leaves idle.
        self.async_compact = async_compact
        # threshold-fold strategy: 'major' folds layers INTO THE BASE
        # (O(bucket) rewrite — read-optimized end state), 'minor' folds
        # layers into ONE merged layer and never touches the base
        # (O(delta) — the 100 TB steady-state choice, where the base
        # dwarfs the deltas; run `compact` explicitly when a full fold is
        # wanted). Both honor the bounded-layer invariant: after a fold
        # the bucket is at 1 layer (minor) or 0 (major).
        if compact_mode not in ("major", "minor"):
            raise ValueError(
                f"compact_mode must be 'major' or 'minor', got {compact_mode!r}")
        if compact_mode == "minor" and compact_every < 2:
            # a minor fold leaves ONE merged layer, so a bucket can never
            # get below 1 — a threshold of 1 would re-fold forever
            raise ValueError("compact_mode='minor' requires compact_every >= 2")
        self.compact_mode = compact_mode
        # size-tiered minor folds: >0 folds only layers at most this many
        # bytes (the fresh tier) so a grown merged layer is never re-read;
        # -1 self-tunes the tier from the freshest append's size at each
        # fold; total layer count is bounded by the collapse threshold
        # below. See merge.compact_layers(tier_max_bytes).
        self.fold_tier_bytes = fold_tier_bytes
        # read-amplification bound for tiered mode: a bucket whose TOTAL
        # layer count (large tier included) reaches 3x the fold threshold
        # gets a full fold even when its fresh tier is quiet
        self.fold_tier_collapse_at = 3 * compact_every
        self._maint_slot = _AsyncSlot("maintenance")
        self._maint_table: CowTable | None = None
        self.compactions_run = 0
        # derived-table maintenance riding the ingest loop: each entry is
        # a maintainer — an object with .refresh(spark, table) (TokenIndex,
        # HistoryTable, RollupTable) or a bare callable (spark, table) ->
        # Any (e.g. a JoinView closed over its second table). Refreshes
        # run after every ``maintain_every``-th applied batch, inline or
        # (async_maintain) on a dedicated thread in the FAIR "maintenance"
        # pool through its own table handle — the same
        # ingest-never-stops-for-maintenance shape as async compaction.
        # All refreshes for a runner execute on ONE thread at a time, so
        # the stores' single-writer discipline holds. run() drains and
        # finishes with a catch-up refresh, so after run() every
        # maintainer is at the table head.
        self.maintainers = list(maintain or [])
        if maintain_every < 1:
            raise ValueError(f"maintain_every must be >= 1, got {maintain_every}")
        self.maintain_every = maintain_every
        self.async_maintain = async_maintain
        self._derived_slot = _AsyncSlot("derived-maintain")
        self._derived_table: CowTable | None = None
        self._applies_since_maintain = 0
        self.maintenance_refreshes = 0  # observability: refresh rounds run
        # O7 shard sizing: cap rows per written data file (0 = uncapped)
        self.max_records_per_file = max_records_per_file
        self.registry = SchemaRegistry()
        self.lineage_dir = os.path.join(table_root, "_lineage")
        self.quarantine_dir = os.path.join(table_root, "_quarantine")

    def _changes(self, batch_id: int, schema_id: int) -> Any:
        """One log batch's changes. A MOR batch whose files fit
        ``LOCAL_MAX_BYTES`` is read on the driver into an Arrow table in
        the target change schema (missing ``tool`` padded with nulls,
        ``turn_idx`` widened, ``ts`` tagged UTC), which
        ``mor_stage_batch`` stages without a Spark job; otherwise
        ``read_batch``'s DataFrame."""
        if self.mode == "mor":
            path = os.path.join(self.log_dir, f"schema_id={schema_id}",
                                f"batch_id={batch_id}")
            # the files Spark reads: it skips names that start with "_"
            # or ".", such as _SUCCESS and checksums
            files = sorted(os.path.join(path, f) for f in os.listdir(path)
                           if not f.startswith(("_", "."))
                           and os.path.isfile(os.path.join(path, f)))
            if fits_local(files):
                from ..sources.datasource import _read_stored_arrow

                return _read_stored_arrow(
                    files, schema=target_change_arrow_schema())
        return read_batch(self.spark, self.log_dir, batch_id, schema_id,
                          self.registry)

    def pending(self) -> list[int]:
        return pending_batches(self.spark, self.log_dir, self.table)

    def _retry_commit(self, fn: Any) -> Any:
        """Run ``fn`` (a closure ending in a snapshot commit); on
        ``ConcurrentCommitError`` refresh the table handle and re-run,
        bounded by ``commit_retries``. COW retries re-PLAN against the new
        current snapshot (the old plan's bucket reads are stale); MOR
        commit-only retries are metadata-only since a staged delta layer is
        parent-independent. Both apply paths begin with an is_committed
        fence, so a batch the winning writer already applied replays as a
        no-op rather than double-committing."""
        for attempt in range(self.commit_retries + 1):
            try:
                return fn()
            except ConcurrentCommitError:
                if attempt == self.commit_retries:
                    raise
                self.commit_races_retried += 1
                self.table.refresh()

    def _stage(self, batch_id: int, schema_id: int) -> Any:
        """Stage one batch. A MOR batch's delta layer is written to an
        uncommitted dir (``mor_stage_batch``; None when the batch is
        already committed). A COW batch's stage is only its changes,
        since its merge must read the previous batch's output."""
        changes = self._changes(batch_id, schema_id)
        if self.mode == "cow":
            return changes
        return mor_stage_batch(
            self.spark, self.table, changes, batch_id,
            shuffle_salts=self.shuffle_salts,
            quarantine_dir=self.quarantine_dir,
            max_records_per_file=self.max_records_per_file,
        )

    def _commit(self, batch_id: int, staged: Any,
                wap: bool) -> dict[str, Any] | None:
        """Commit a staged batch: the snapshot dict, or None when the
        batch was already committed. A staged MOR layer is
        parent-independent, so a retry after a lost race re-commits the
        metadata only; a COW retry re-plans its merge against the new
        current snapshot."""
        if self.mode == "cow":
            return merge_batch(
                self.spark, self.table, staged, batch_id,
                lineage_dir=self.lineage_dir,
                shuffle_salts=self.shuffle_salts,
                lineage_executor=self._lineage_pool,
                quarantine_dir=self.quarantine_dir,
                max_records_per_file=self.max_records_per_file,
                wap=wap,
            )
        if staged is None:
            return None
        return mor_commit_staged(
            self.spark, self.table, staged,
            lineage_dir=self.lineage_dir,
            lineage_executor=self._lineage_pool,
            wap=wap,
        )

    def run(self, max_batches: int | None = None) -> RunResult:
        """Apply ``pending()[:max_batches]`` in batch order.

        Up to ``pipeline_depth`` batches are staged ahead on a thread pool
        (Spark job submission is thread-safe and staged layers land in
        distinct uncommitted dirs). This thread commits the head of the
        window in batch order, then runs the audit hook, derived
        maintenance and threshold folds, and only then stages the next
        batch. So at depth 1 the loop is sequential: batch k+1 is not
        staged until batch k's commit, fold and refresh have returned.
        A batch the audit rejects counts against ``max_batches`` and
        stays pending."""
        from collections import deque
        from concurrent.futures import ThreadPoolExecutor

        if self.async_lineage and self._lineage_pool is None:
            self._lineage_pool = _TrackedPool(ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="lineage"
            ))
        schema_of = dict(planned_batches(self.log_dir))
        result = RunResult()

        def stage(batch_id: int) -> Any:
            # one scheduler pool per pipeline slot: with FAIR mode (set in
            # session.py) the in-flight batches' jobs share executor slots
            # instead of queueing FIFO — batch k+1's map stage runs inside
            # batch k's reduce stragglers and commit gaps
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"stage-{batch_id % self.pipeline_depth}"
            )
            return self._stage(batch_id, schema_of[batch_id])

        with ThreadPoolExecutor(
            max_workers=self.pipeline_depth, thread_name_prefix="stage"
        ) as pool:
            window: deque = deque()
            for batch_id in self.pending()[:max_batches]:
                window.append((batch_id, pool.submit(stage, batch_id)))
                if len(window) >= self.pipeline_depth:
                    self._commit_head(*window.popleft(), result)
            while window:
                self._commit_head(*window.popleft(), result)
        self.drain_maintenance()
        self.drain_derived()
        if self._lineage_pool is not None:
            self._lineage_pool.drain()
            self._lineage_pool = None
        return result

    def _commit_head(self, batch_id: int, future: Any,
                     result: RunResult) -> None:
        """Commit the window's head on the caller's thread, then the
        audit hook, derived maintenance and threshold folds."""
        staged = future.result()  # re-raises staging failures in order
        wap = self.audit is not None
        snap = self._retry_commit(lambda: self._commit(batch_id, staged, wap))
        if wap and snap is not None:
            snap = self._publish_audited(batch_id, snap, result)
            if snap is None:
                return
        if snap is None:
            result.batches_skipped.append(batch_id)
        else:
            result.batches_applied.append(batch_id)
            result.rows_upserted += snap["summary"].get("rows_upserted", 0)
            result.rows_deleted += snap["summary"].get("rows_deleted", 0)
            self._maybe_maintain()
        self._maybe_compact()

    def _publish_audited(self, batch_id: int, snap: dict[str, Any],
                         result: RunResult) -> dict[str, Any] | None:
        """The write-audit-publish hook: publish a staged commit the audit
        passes (its lineage deferred until now) and return the published
        snapshot; abort one it rejects and record why (None)."""
        verdict = self.audit(self.spark, self.table)
        ok, reason = (verdict if isinstance(verdict, tuple)
                      else (bool(verdict), ""))
        if not ok:
            self.table.abort_staged()
            result.batches_rejected.append(batch_id)
            result.reject_reasons.append(reason)
            return None
        # NOT retried on ConcurrentCommitError: a staged snapshot froze its
        # parent + carried-forward dirs at stage time, so re-publishing
        # after another writer's commit would drop that writer's buckets
        # (lost update). Audit-gated ingest is single-writer by contract —
        # surface the race instead.
        pub = self.table.publish_staged()
        rows = snap.get("_lineage_rows")
        if rows:
            if self._lineage_pool is not None:
                self._lineage_pool.submit(
                    append_lineage, self.lineage_dir, rows,
                    snapshot_id=pub["snapshot_id"])
            else:
                append_lineage(self.lineage_dir, rows,
                               snapshot_id=pub["snapshot_id"])
        return pub

    def _run_fold(self, table: CowTable, buckets: list[int]) -> None:
        """One threshold fold under the configured strategy. ``compact``
        folds into the base (O(bucket rows)); ``compact_layers`` merges
        the layers only (O(delta rows)) — base bytes never read."""
        if self.compact_mode == "minor":
            return compact_layers(
                self.spark, table,
                shuffle_salts=self.shuffle_salts,
                max_records_per_file=self.max_records_per_file,
                buckets=buckets,
                tier_max_bytes=self.fold_tier_bytes,
                tier_collapse_at=(self.fold_tier_collapse_at
                                  if self.fold_tier_bytes else 0))
        else:
            return compact(self.spark, table,
                           shuffle_salts=self.shuffle_salts,
                           max_records_per_file=self.max_records_per_file,
                           buckets=buckets)

    def _maybe_compact(self) -> None:
        """Fold at-threshold buckets: inline (blocking the apply loop) by
        default, or on the maintenance thread when ``async_compact``."""
        if self.async_compact and self._maint_slot.reap():
            # a fold landed through the maintenance handle: refresh the
            # apply loop's view so threshold checks see the dropped layers
            # (otherwise every subsequent commit re-submits redundant
            # folds for buckets that are already clean)
            self.table.refresh()
        if self.table.max_delta_layers() < self.compact_every:
            return
        buckets = self._buckets_at_threshold()
        if not buckets:
            return
        if not self.async_compact:
            if self._retry_commit(
                    lambda: self._run_fold(self.table, buckets)) is not None:
                self.compactions_run += 1
            return
        if self._maint_slot.busy:
            return  # one maintenance job at a time; catch up next commit
        self._maint_slot.submit(self._compact_async, buckets)

    def _compact_async(self, buckets: list[int]) -> None:
        # own handle: CowTable caches are not thread-safe, and the apply
        # loop's handle must keep planning against ITS view (the commit CAS
        # + commit_retries reconcile the two views, in either direction)
        if self._maint_table is None:
            self._maint_table = CowTable(self.table.root)
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", "maintenance")
        self._maint_table.refresh()
        if self._run_fold(self._maint_table, buckets) is not None:
            self.compactions_run += 1

    def drain_maintenance(self) -> None:
        """Block until the in-flight async compaction (if any) lands, then
        fold any buckets still at threshold (layers that accrued while the
        last fold was in flight) so the end state honors the bounded-layer
        invariant the threshold promises."""
        if not self._maint_slot.busy:
            self._maint_slot.drain()  # stop the idle thread, if created
            return
        self._maint_slot.drain()
        self.table.refresh()
        buckets = (self._buckets_at_threshold()
                   if self.table.max_delta_layers() >= self.compact_every
                   else [])
        if buckets:
            if self._retry_commit(
                    lambda: self._run_fold(self.table, buckets)) is not None:
                self.compactions_run += 1

    # --- derived-table maintenance ---------------------------------------

    def _refresh_maintainers(self, table: CowTable) -> None:
        for m in self.maintainers:
            fn = m.refresh if hasattr(m, "refresh") else m
            fn(self.spark, table)
        self.maintenance_refreshes += 1

    def _maybe_maintain(self) -> None:
        """Refresh the registered maintainers every ``maintain_every``-th
        applied batch: inline (blocking the apply loop) by default, or on
        the derived-maintenance thread when ``async_maintain`` — in which
        case a still-running refresh is simply allowed to finish (the
        next applied batch re-checks), so refreshes never queue up behind
        each other and freshness degrades gracefully under load instead
        of stalling ingest."""
        if not self.maintainers:
            return
        self._applies_since_maintain += 1
        if self._applies_since_maintain < self.maintain_every:
            return
        if not self.async_maintain:
            self._refresh_maintainers(self.table)
            self._applies_since_maintain = 0
            return
        self._derived_slot.reap()  # surface a failed round exactly once
        if self._derived_slot.busy:
            return  # refresh in flight; catch up on a later commit
        self._applies_since_maintain = 0
        self._derived_slot.submit(self._maintain_async)

    def _maintain_async(self) -> None:
        # own handle (CowTable caches are not thread-safe); refreshed so
        # the maintainers see every commit up to the moment the thread
        # runs — each store pins its own target snapshot internally
        if self._derived_table is None:
            self._derived_table = CowTable(self.table.root)
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", "maintenance")
        self._derived_table.refresh()
        self._refresh_maintainers(self._derived_table)

    def drain_derived(self) -> None:
        """Block until the in-flight async refresh (if any) lands, then
        run one catch-up refresh on the caller's thread so every
        maintainer ends at the table head (a no-op per store whose cursor
        is already there)."""
        self._derived_slot.drain()
        if self.maintainers:
            self._refresh_maintainers(self.table)
            self._applies_since_maintain = 0

    def _buckets_at_threshold(self) -> list[int]:
        """Partial-compaction target set: only buckets whose layer count
        reached compact_every are rewritten; cold buckets keep their (few)
        layers and pay nothing — the bin-pack maintenance discipline."""
        snap = self.table.current_snapshot() or {}
        return sorted(
            int(b) for b, ds in snap.get("delta_dirs", {}).items()
            if len(ds) >= self.compact_every
        )

    def read_quarantine(self, batch_id: int | None = None) -> DataFrame:
        """Quarantined (invalid) raw events, with the ``batch_id`` they
        arrived in — the read half of the reference's error-log -> fix ->
        retry loop (``scripts/05c_remaining_json.py:31-66``; error CSVs at
        ``src/pmc_oa/download_batch.py:123-139``). Rows are in the aligned
        target change schema exactly as they failed the validity gate."""
        import glob

        pattern = (f"batch_id={batch_id}" if batch_id is not None
                   else "batch_id=*")
        dirs = sorted(glob.glob(os.path.join(self.quarantine_dir, pattern)))
        if not dirs:
            schema = target_change_schema().add("batch_id", "long")
            return self.spark.createDataFrame([], schema)
        return self.spark.read.option(
            "basePath", self.quarantine_dir
        ).parquet(*dirs)

    def reinject(self, fixed: DataFrame, batch_id: int) -> None:
        """Re-inject repaired events as a NEW change-log micro-batch at the
        newest schema epoch. The normal pending -> apply loop then picks it
        up under the full exactly-once contract — no side door into the
        table. Callers assign FRESH lsns (above the applied watermark) so
        the repaired values win LWW; the quarantined batch's original id
        stays committed and can never replay. Refuses ids already planned
        or committed (a re-fix cycle uses a new id each time, the
        file-roll discipline of ``src/pmc_oa/build_json.py:125-157``)."""
        planned = {b for b, _ in planned_batches(self.log_dir)}
        if batch_id in planned or self.table.is_committed(batch_id):
            raise ValueError(
                f"batch_id {batch_id} already planned or committed — "
                "re-injection needs a fresh batch id"
            )
        epoch = self.registry.max_epoch
        out = os.path.join(
            self.log_dir, f"schema_id={epoch}", f"batch_id={batch_id}"
        )
        if os.path.exists(out):
            raise ValueError(f"log dir for batch_id {batch_id} already exists")
        # stage + atomic rename: a crash mid-write must never leave a
        # partial batch dir that planned_batches would pick up and apply
        stage = out + ".stage"
        align_to_target(fixed).select(*CHANGE_COLS).write.mode(
            "overwrite"
        ).parquet(stage)
        os.rename(stage, out)

    def read_lineage(self) -> DataFrame:
        """The per-(batch, bucket) metrics table — reconciles against
        snapshot summaries (tests pin sum-vs-delta equality)."""
        from .lineage import read_lineage

        return read_lineage(self.spark, self.lineage_dir)

    def reconcile_lineage(self) -> dict[str, Any]:
        """Backfill lineage rows lost to a crash between a snapshot commit
        and its lineage append — see ``lineage.reconcile_lineage``."""
        from .lineage import reconcile_lineage

        return reconcile_lineage(self.spark, self.table, self.lineage_dir)

    def delete_where(self, predicate: Any,
                     batch_id: int | None = None) -> dict[str, Any] | None:
        """Predicate delete against this runner's table, riding the runner's
        configured merge plan and lineage — see ``merge.delete_where``.
        MOR runners append an O(matched) tombstone layer (change-feed
        visible); COW runners rewrite the affected buckets (the physical-
        erase half, completed by ``expire_snapshots`` + orphan GC)."""
        from .merge import delete_where

        return self._retry_commit(lambda: delete_where(
            self.spark, self.table, predicate, mode=self.mode,
            batch_id=batch_id, lineage_dir=self.lineage_dir,
            shuffle_salts=self.shuffle_salts,
            max_records_per_file=self.max_records_per_file,
        ))

    def update_where(self, predicate: Any, assignments: dict[str, Any],
                     batch_id: int | None = None) -> dict[str, Any] | None:
        """Predicate update against this runner's table, riding the runner's
        configured merge plan and lineage — see ``merge.update_where``."""
        from .merge import update_where

        return self._retry_commit(lambda: update_where(
            self.spark, self.table, predicate, assignments, mode=self.mode,
            batch_id=batch_id, lineage_dir=self.lineage_dir,
            shuffle_salts=self.shuffle_salts,
            max_records_per_file=self.max_records_per_file,
        ))

    def merge_into(self, source: DataFrame,
                   matched_update: dict[str, Any] | str | None = "source",
                   matched_update_condition: Any | None = None,
                   matched_delete_condition: Any | None = None,
                   insert_unmatched: bool = True,
                   insert_condition: Any | None = None,
                   batch_id: int | None = None,
                   prune_buckets: bool = True) -> dict[str, Any] | None:
        """MERGE INTO this runner's table from a source DataFrame, riding
        the runner's configured merge plan and lineage — see
        ``merge.merge_into`` for the clause semantics and the bucket-pruned
        join plan."""
        from .merge import merge_into

        return self._retry_commit(lambda: merge_into(
            self.spark, self.table, source,
            matched_update=matched_update,
            matched_update_condition=matched_update_condition,
            matched_delete_condition=matched_delete_condition,
            insert_unmatched=insert_unmatched,
            insert_condition=insert_condition,
            mode=self.mode, batch_id=batch_id,
            lineage_dir=self.lineage_dir,
            shuffle_salts=self.shuffle_salts,
            max_records_per_file=self.max_records_per_file,
            prune_buckets=prune_buckets,
        ))

    def stage_next_batch(self) -> dict[str, Any] | None:
        """Stage (write-audit-publish) the next pending log batch WITHOUT
        publishing it — the participant half of a multi-table transaction
        (``cdc/txn.py``): stage on every participant runner, then
        ``TransactionCoordinator.commit_all`` publishes all-or-nothing.
        Data is fully written (the ordinary O(delta) merge plan); readers,
        fencing, and the snapshot chain see nothing until publication.
        Returns the staged snapshot dict, or None when nothing is pending.
        Lineage is deferred by the WAP contract — after the transaction
        commits, ``reconcile_lineage()`` backfills it exactly. The stage
        and commit are ``run``'s, with no audit."""
        pend = self.pending()
        if not pend:
            return None
        batch_id = pend[0]
        staged = self._stage(batch_id,
                             dict(planned_batches(self.log_dir))[batch_id])
        return self._commit(batch_id, staged, wap=True)

    def final_state(self) -> DataFrame:
        """Live table ordered by the pass-gate stable ordering."""
        return self.table.read(self.spark).orderBy("conv_id", "turn_idx")

    def summary(self) -> dict[str, Any]:
        snaps = self.table.snapshots()
        out = {
            "snapshots": len(snaps),
            "committed_batches": sorted(self.table.committed_batch_ids()),
        }
        if self.maintainers:
            out["maintenance_refreshes"] = self.maintenance_refreshes
        return out
