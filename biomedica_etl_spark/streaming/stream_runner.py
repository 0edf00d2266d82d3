"""Structured Streaming front-end for the CDC apply loop.

The batch runner (cdc/runner.py) is the deterministic, testable loop the
reference's SLURM chain maps to; this module is the continuous variant: a
``readStream`` file source tails the change-log directory (one stream per
schema epoch, unioned after alignment) and ``foreachBatch`` funnels every
micro-batch through the exact same LWW-reduce -> merge -> snapshot-commit
machinery, so both entry points share one correctness story. Every
apply-shaped stream (``stream_apply``, ``stream_apply_debezium`` plain or
``txn_aware``) runs one foreachBatch body, ``_start_apply_stream``, with
its per-epoch apply passed in; after the apply it folds only the buckets
at the layer threshold (``CowTable.buckets_at_threshold``, the runner's
rule) and runs the in-loop maintainers.

Exactly-once: Structured Streaming's own checkpoint guarantees each file is
delivered in exactly one micro-batch with a stable ``batch_id`` (epoch id);
our snapshot fencing makes replayed epochs (after a crash between sink
commit and stream checkpoint) structural no-ops. Because the merge is
max-LSN order-independent, how files happen to group into micro-batches
cannot change the converged table.

At scale the same topology runs against a Kafka/binlog source: swap the
file source for ``spark.readStream.format("kafka")`` + payload decode; the
foreachBatch body is unchanged.
"""

from __future__ import annotations

import glob
import os
from functools import partial
from functools import reduce as _reduce

from pyspark.sql import DataFrame, SparkSession

from ..cdc.merge import compact, mor_apply_batch
from ..cdc.schema import SchemaRegistry, align_to_target
from ..cdc.table import CowTable

# streaming commits are fenced in their own id space so they can never
# collide with batch-runner commits on the same table
STREAM_BATCH_BASE = 1_000_000_000


def _epoch_streams(
    spark: SparkSession, log_dir: str, registry: SchemaRegistry,
    max_files_per_trigger: int | None,
) -> list[DataFrame]:
    streams = []
    for d in sorted(glob.glob(os.path.join(log_dir, "schema_id=*"))):
        epoch = int(os.path.basename(d).split("=")[1])
        reader = spark.readStream.schema(registry.get(epoch))
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        streams.append(align_to_target(reader.parquet(os.path.join(d, "batch_id=*"))))
    return streams


def stream_apply(
    spark: SparkSession,
    log_dir: str,
    table_root: str,
    checkpoint_dir: str,
    n_buckets: int = 16,
    compact_every: int = 8,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    maintain: list | None = None,
    maintain_every: int = 1,
):
    """Tail the log as a stream and apply micro-batches to the table.

    With ``available_now=True`` (default) processes everything currently in
    the log and stops — deterministic and testable; with False it runs
    until ``query.stop()``. Returns the streaming query handle.

    ``maintain``: derived-table maintainers (objects with
    ``refresh(spark, table)`` or bare callables — the CdcRunner contract)
    refreshed inline every ``maintain_every``-th epoch inside
    ``foreachBatch`` (epochs serialize, so the stores' single-writer
    discipline holds). A cadence > 1 can leave the stores short of head
    when the stream drains mid-cycle; run one explicit refresh after
    ``awaitTermination`` when head-at-drain matters (refreshes are
    cursor-fenced no-ops when already there).
    """
    registry = SchemaRegistry()
    table = CowTable(table_root, n_buckets=n_buckets)
    table.create()
    streams = _epoch_streams(spark, log_dir, registry, max_files_per_trigger)
    if not streams:
        raise ValueError(f"no schema_id=* dirs under {log_dir}")
    unioned = _reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), streams)
    return _start_apply_stream(spark, unioned, table, table_root,
                               compact_every, maintain, maintain_every,
                               checkpoint_dir, available_now)


def _start_apply_stream(
    spark: SparkSession, events: DataFrame, table: CowTable,
    table_root: str, compact_every: int,
    maintain: list | None, maintain_every: int,
    checkpoint_dir: str, available_now: bool, apply=None,
):
    """Shared tail of every apply-shaped stream: foreachBatch hands each
    epoch to ``apply(batch_df, batch_id)`` under the fenced id
    ``STREAM_BATCH_BASE + epoch_id`` (default: the plain MOR apply),
    folds the buckets at the layer threshold, and runs the optional
    in-loop derived maintenance."""
    if apply is None:
        apply = partial(mor_apply_batch, spark, table,
                        lineage_dir=os.path.join(table_root, "_lineage"),
                        quarantine_dir=os.path.join(table_root, "_quarantine"))
    epochs_seen = {"n": 0}

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        apply(batch_df, STREAM_BATCH_BASE + epoch_id)
        buckets = table.buckets_at_threshold(compact_every)
        if buckets:
            compact(spark, table, buckets=buckets)
        if maintain:
            epochs_seen["n"] += 1
            if epochs_seen["n"] % max(maintain_every, 1) == 0:
                for m in maintain:
                    fn = m.refresh if hasattr(m, "refresh") else m
                    fn(spark, table)

    writer = (
        events.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_apply_debezium(
    spark: SparkSession,
    ndjson_dir: str,
    table_root: str,
    checkpoint_dir: str,
    n_buckets: int = 16,
    compact_every: int = 8,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    maintain: list | None = None,
    maintain_every: int = 1,
    txn_aware: bool = False,
):
    """Tail a directory of Debezium-envelope NDJSON files as a stream and
    apply micro-batches through the same merge machinery as
    ``stream_apply`` — the topology a Kafka+Debezium deployment runs,
    with the file source standing in for the Kafka reader (swap in
    ``format("kafka")`` and ``col("value").cast("string")``; the parse
    and the foreachBatch body are unchanged).

    Parsing is ``cdc/envelope.parse_debezium`` — one JVM-side
    ``from_json`` per line inside the stream's own plan, so poisoned
    envelopes degrade to the merge gate's quarantine exactly as in
    batch. Exactly-once: file-source checkpointing + the engine's fenced
    ``STREAM_BATCH_BASE + epoch_id`` commit ids, so a crash between sink
    commit and stream checkpoint replays an epoch into a structural
    no-op.

    ``txn_aware=True`` adds atomic transaction visibility: each epoch
    runs ``envelope.apply_txn_batch``, the same step
    ``ingest_debezium_txn`` runs per file. The epoch's events plus the
    carried-over pending split by transaction completeness, only
    complete transactions apply, and the new pending state is published
    as ``pending-<batch id>`` AFTER the fenced apply. A replayed epoch
    (crash after the apply, before the stream checkpoint advanced)
    re-reads the newest pending below its own id — its ORIGINAL input
    state — and replays into a fenced no-op. Only the two newest pending
    states are kept: only the last uncheckpointed epoch can replay."""
    from ..cdc.envelope import apply_txn_batch, parse_debezium

    table = CowTable(table_root, n_buckets=n_buckets)
    table.create()
    reader = spark.readStream
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    lines = reader.text(os.path.join(ndjson_dir, "*.ndjson"))
    events = parse_debezium(lines, value_col="value",
                            with_transaction=txn_aware)
    apply = None
    if txn_aware:
        state_dir = os.path.join(table_root, "_txn_pending")
        os.makedirs(state_dir, exist_ok=True)
        apply = partial(apply_txn_batch, spark, table, state_dir=state_dir,
                        quarantine_dir=os.path.join(table_root, "_quarantine"),
                        lineage_dir=os.path.join(table_root, "_lineage"),
                        keep_pending=2)
    return _start_apply_stream(spark, events, table, table_root,
                               compact_every, maintain, maintain_every,
                               checkpoint_dir, available_now, apply)


def stream_merge(
    spark: SparkSession,
    source_stream: DataFrame,
    table_root: str,
    checkpoint_dir: str,
    n_buckets: int = 16,
    matched_update="source",
    matched_update_condition=None,
    matched_delete_condition=None,
    insert_unmatched: bool = True,
    insert_condition=None,
    order_col: str | None = "lsn",
    available_now: bool = True,
    batch_id_base: int = 2_000_000_000,
):
    """Streaming MERGE INTO: the Delta ``foreachBatch`` merge pattern as a
    first-class surface. Each micro-batch of ``source_stream`` is merged
    into the table with the given clause matrix (see ``merge.merge_into``
    for semantics — per-clause conditions over the ``s.``/``t.`` join
    namespace, delete evaluated first, bucket-pruned target read).

    ``order_col`` (default ``lsn``): a micro-batch may carry several
    events per key, but MERGE requires one source row per key — when the
    column is present the batch is pre-reduced to its max-``order_col``
    row per key (the same LWW discipline as ingest, scoped to the batch);
    pass ``None`` if the source is already one-row-per-key. Exactly-once:
    each epoch merges under ``batch_id_base + epoch_id``, so a replayed
    epoch (crash between sink write and checkpoint commit) fences into a
    no-op — the same discipline as ``stream_apply``. Namespace the base
    per query when several streaming merges target one table.

    Returns the streaming query handle."""
    from pyspark.sql import functions as F

    from ..cdc.merge import merge_into
    from ..cdc.schema import KEY_COLS
    from ..sources.datasource import register_data_sources

    # register BEFORE the stream starts: the micro-batch engine clones the
    # session at query start, and the clone must inherit the pushdown conf
    # the native cowtable reader requires (merge_into's target read)
    register_data_sources(spark)
    table = CowTable(table_root, n_buckets=n_buckets)
    table.create()

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        # plan against the micro-batch's own (cloned) session — conf set on
        # the outer session after stream start would not reach it
        sess = batch_df.sparkSession
        register_data_sources(sess)
        src = batch_df
        if order_col is not None and order_col in src.columns:
            others = [c for c in src.columns if c not in KEY_COLS]
            src = (src.groupBy(*KEY_COLS)
                   .agg(F.max_by(F.struct(*others), F.col(order_col))
                        .alias("_w"))
                   .select(*KEY_COLS,
                           *[F.col(f"_w.{c}").alias(c) for c in others]))
        table.refresh()  # commits land between epochs; re-read metadata
        merge_into(
            sess, table, src,
            matched_update=matched_update,
            matched_update_condition=matched_update_condition,
            matched_delete_condition=matched_delete_condition,
            insert_unmatched=insert_unmatched,
            insert_condition=insert_condition,
            batch_id=batch_id_base + epoch_id,
        )

    writer = (
        source_stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_windowed_counts(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    query_name: str,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    max_files_per_trigger: int = 1,
):
    """Streaming tumbling-window aggregation with late-data semantics.

    The §2.8 watermark contract as a first-class operator: event-time
    windows accumulate state across micro-batches, the watermark trails
    max(ts) by the lateness bound, APPEND mode emits a window exactly once
    — when the watermark passes its end — and an event arriving after its
    window closed is DROPPED (bounded state: the store never holds closed
    windows). ``maxFilesPerTrigger=1`` makes each source file one
    micro-batch so watermark advancement between batches is testable.

    Sink is an in-memory table named ``query_name`` (swap for any sink at
    scale; the agg state store and semantics are identical).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ])
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("total"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"), "n_events", "total")
    )
    return (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    query_name: str,
    watermark: str = "30 minutes",
    max_files_per_trigger: int = 1,
):
    """Streaming dedup of an at-least-once event feed:
    ``dropDuplicatesWithinWatermark`` on ``event_id`` emits each event
    exactly once while keeping only O(watermark-horizon) keys of state —
    the ingest-side dedup a CDC tail needs when the transport redelivers
    (reference analogue: the at-least-once FTP fetch made safe by
    idempotent apply, SURVEY S4/§2.8; plain ``dropDuplicates`` would hold
    every id ever seen and OOM an unbounded stream). A duplicate arriving
    within the horizon is dropped; state for ids older than the watermark
    is evicted, which is the documented (and correct) bounded-memory
    trade: a redelivery later than the lateness bound is the downstream
    max-LSN merge's job, exactly like this engine's batch path."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ])
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    deduped = src.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"])
    return (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_enrich(
    spark: SparkSession,
    src_dir: str,
    dim_path: str,
    checkpoint_dir: str,
    query_name: str,
    max_files_per_trigger: int = 1,
):
    """Stream-static enrichment: the reference's Entrez field-add
    (``scripts/05_json_to_entrez.py:303-330``, SURVEY S8/J4) in streaming
    form — each micro-batch of the event stream broadcast-joins a STATIC
    dimension table (left outer, unmatched rows pass through with NULLs,
    exactly the reference's tolerant enrichment). Spark re-plans the
    static side per micro-batch, so a dim refresh between triggers is
    picked up without restarting the query; the join never shuffles the
    stream (broadcast, map-side)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ])
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    dim = spark.read.parquet(dim_path)  # static side, re-read per trigger
    enriched = src.join(
        F.broadcast(dim), src.event_id % 10 == dim.decile, "left_outer"
    ).select("event_id", "ts", "value",
             F.coalesce("label", F.lit("unknown")).alias("label"))
    return (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_sessionize(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    query_name: str,
    gap_minutes: int = 30,
    watermark: str = "30 minutes",
    max_files_per_trigger: int = 1,
):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    event-time SESSIONIZATION of a per-user event stream.

    The transcript-pipeline op Spark's built-ins don't express directly
    (``session_window`` covers windowed aggs; this demonstrates the
    arbitrary-state path the brief calls out): per-user state holds the
    open session (start, last ts, count); a batch's events extend it or —
    when the gap is exceeded — close it (emitting the finished session) and
    open a new one; an event-time timeout fires once the WATERMARK passes
    last+gap, flushing sessions that simply stopped receiving events.
    State per key is O(1) (one open session), emission is append-mode
    exactly-once, and the grouping shuffle is the only wide edge.

    Arrow batches in, Arrow batches out (§2.9) — per-key pandas work is
    vectorized min/max/diff, no per-row Python.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = gap_minutes * 60 * 1000
    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.IntegerType()),
    ])
    state_schema = T.StructType([
        T.StructField("start", T.LongType()),
        T.StructField("last", T.LongType()),
        T.StructField("n", T.IntegerType()),
    ])

    def _row(user_id: int, start_ms: int, last_ms: int, n: int) -> pd.DataFrame:
        return pd.DataFrame({
            "user_id": [user_id],
            "session_start": [pd.Timestamp(start_ms, unit="ms")],
            "session_end": [pd.Timestamp(last_ms, unit="ms")],
            "n_events": [n],
        })

    def _sessionize(key, pdfs, state: GroupState):
        user_id = key[0]
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield _row(user_id, start, last, n)
            return
        ts_ms: list[int] = []
        for pdf in pdfs:
            ts_ms.extend((pdf["ts"].astype("int64") // 1_000_000).tolist())
        ts_ms.sort()
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = ts_ms[0], ts_ms[0] - 1, 0  # -1: first event "extends"
        for t in ts_ms:
            if n and t - last > gap_ms:
                yield _row(user_id, start, last, n)
                start, n = t, 0
            last = max(last, t)
            n += 1
        state.update((start, last, n))
        state.setTimeoutTimestamp(last + gap_ms)

    src = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    sessions = (
        src.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"))
        .applyInPandasWithState(
            _sessionize, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    return (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
