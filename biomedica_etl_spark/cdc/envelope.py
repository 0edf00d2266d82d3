"""Debezium-style CDC envelope interop (parse / emit / ingest).

Real binlog/WAL tails rarely arrive as clean columnar change events: the
standard transport is a JSON *envelope* per change — Debezium's
``{before, after, source{lsn, ts_ms}, op: c|u|d|r}`` shape (Maxwell and
Canal are minor variations) — streamed through Kafka one record per row
change. This module closes the loop between that wire format and the
engine's columnar change events:

- :func:`parse_debezium` — envelope JSON -> the engine's change-event
  frame (``target_change_schema``), entirely JVM-side (``from_json`` +
  conditional projection; no Python touches a row). Malformed lines and
  unknown op codes surface as invalid events the merge path's existing
  quarantine gate (``merge._valid_pred``) routes out, so a poisoned
  envelope is never fatal; the ingest entry points below default their
  quarantine dir to ``<table>/_quarantine`` so it is never silently
  dropped either (row-level capture, not just a counter — callers
  invoking the merge path directly must pass ``quarantine_dir``
  themselves to get the same record).
- :func:`parse_debezium_with_rejects` — the same parse plus an explicit
  dead-letter split that keeps the RAW line and a reject reason, for
  pipelines that want a DLQ topic instead of the engine quarantine.
- :func:`to_debezium` — the inverse: the table's CDF image feed
  (``read_changes_with_images``) rendered as Debezium envelopes, one
  record per net key change, updates carrying both images (the
  REPLICA IDENTITY FULL shape). ``to_json`` omits null fields, exactly
  like Debezium omits ``before`` for inserts and ``after`` for deletes.
- :func:`write_debezium_log` — deterministic NDJSON materialization of a
  generated change log (pure pyarrow + ``json.dumps``; no Spark, no wall
  clock) so a DuckDB oracle can parse the identical bytes.
- :func:`ingest_debezium` / :func:`ingest_debezium_txn` — micro-batched
  envelope ingest over one NDJSON file loop: one file per batch, parsed
  and applied through the ordinary MOR merge with the file's trailing
  digits (else its sorted position) as the fenced ``batch_id`` —
  replaying a file a second time is a committed-batch no-op
  (exactly-once), same as the parquet runner.
- :func:`apply_txn_batch` — the transactional per-batch step (carried-
  over pending read, :func:`txn_split`, fenced apply, ``pending-<id>``
  publish) that ``ingest_debezium_txn`` runs per file and
  ``stream_apply_debezium(txn_aware=True)`` runs per epoch; pending ids
  are the fenced batch ids on both, ordered as integers.

Scale: parsing is one ``from_json`` per line inside WholeStageCodegen —
no shuffle of its own; the apply inherits the merge path's single
exchange. Emission is the image feed's O(changes) plan plus one
``groupBy (key, lsn)`` to pair update pre/post images (single shuffle).

Reference analogue: the reference's per-article JSON records with
retry/error-row side files (``src/pmc_oa/download_batch.py:123-139``,
``scripts/05_json_to_entrez.py:324-398``) — here the record format is
the industry CDC envelope and the error path is transactional.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import PAYLOAD_FIELDS, SYS_DELETED, SYS_LSN, align_to_target
from .table import CowTable

# Row-image fields as they appear inside the envelope JSON. Timestamps
# travel as epoch MICROseconds (``ts_us``) — Debezium's MicroTimestamp
# encoding — so the wire format is integer-exact and oracle-friendly.
_IMAGE_FIELDS: list[tuple[str, T.DataType]] = [
    ("conv_id", T.StringType()),
    ("turn_idx", T.LongType()),
    ("role", T.StringType()),
    ("text", T.StringType()),
    ("tool", T.StringType()),
    ("ts_us", T.LongType()),
]

SOURCE_NAME = "biomedica-etl-spark"


def _image_struct() -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in _IMAGE_FIELDS])


def debezium_value_schema() -> T.StructType:
    """Spark schema of one envelope record's value. The optional
    ``transaction`` block is Debezium's transaction metadata (emitted
    with ``provide.transaction.metadata``): ``id`` names the source
    transaction, ``event_count`` its total event count (known at commit
    time — the binlog reader emits after commit), ``total_order`` the
    event's position within it."""
    return T.StructType([
        T.StructField("before", _image_struct(), True),
        T.StructField("after", _image_struct(), True),
        T.StructField("source", T.StructType([
            T.StructField("lsn", T.LongType(), True),
            T.StructField("ts_ms", T.LongType(), True),
            T.StructField("db", T.StringType(), True),
            T.StructField("table", T.StringType(), True),
        ]), True),
        T.StructField("op", T.StringType(), True),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField("transaction", T.StructType([
            T.StructField("id", T.StringType(), True),
            T.StructField("total_order", T.LongType(), True),
            T.StructField("event_count", T.LongType(), True),
        ]), True),
    ])


def _parsed(df: DataFrame, value_col: str):
    val = F.from_json(F.col(value_col), debezium_value_schema())
    # Deletes carry the image in ``before`` (after is null); everything
    # else reads ``after``. 'r' is Debezium's snapshot-read op — an insert
    # for replay purposes.
    img = F.when(val["op"] == "d", val["before"]).otherwise(val["after"])
    op = (
        F.when(val["op"].isin("c", "r"), F.lit("I"))
        .when(val["op"] == "u", F.lit("U"))
        .when(val["op"] == "d", F.lit("D"))
        .otherwise(F.lit(None).cast("string"))
    )
    return val, img, op


def _events_select(val, img, op) -> list:
    return [
        val["source"]["lsn"].alias("lsn"),
        op.alias("op"),
        img["conv_id"].alias("conv_id"),
        img["turn_idx"].alias("turn_idx"),
        img["role"].alias("role"),
        img["text"].alias("text"),
        img["tool"].alias("tool"),
        F.timestamp_micros(img["ts_us"]).alias("ts"),
    ]


def parse_debezium(df: DataFrame, value_col: str = "value",
                   with_transaction: bool = False) -> DataFrame:
    """Envelope JSON lines -> engine change events (target schema).

    A line that fails to parse, names an unknown op, or lacks key/lsn
    yields an event the merge gate quarantines (null op / null key /
    null lsn all fail ``_valid_pred``) — poisoned input degrades to the
    quarantine side-channel, never a crash and never a silent drop.

    ``with_transaction=True`` appends ``_txn_id`` / ``_txn_order`` /
    ``_txn_total`` from the envelope's transaction metadata block (null
    for events outside any transaction); the merge path drops the extra
    columns, so only transaction-aware consumers
    (``ingest_debezium_txn``) read them. ``_txn_order`` (the event's
    position within its transaction) is what makes the completeness
    check duplicate-tolerant under at-least-once delivery — see
    :func:`txn_split`.
    """
    val, img, op = _parsed(df, value_col)
    cols = list(_events_select(val, img, op))
    if with_transaction:
        cols += [val["transaction"]["id"].alias("_txn_id"),
                 val["transaction"]["total_order"].alias("_txn_order"),
                 val["transaction"]["event_count"].alias("_txn_total")]
    return align_to_target(df.select(*cols))


def parse_debezium_with_rejects(
    df: DataFrame, value_col: str = "value"
) -> tuple[DataFrame, DataFrame]:
    """Dead-letter-queue split: ``(events, rejects)``.

    ``rejects`` keeps the RAW envelope line plus a ``reject_reason``
    (``corrupt_json`` / ``unknown_op`` / ``missing_key`` /
    ``invalid_key`` / ``missing_lsn``) — the Kafka-DLQ shape, where a
    consumer republishes
    the raw record for offline repair. ``events`` holds only clean rows,
    so a caller using this split can apply without the quarantine dir.
    Both sides are projections of ONE parse — Catalyst collapses the
    shared ``from_json`` into each scan; no extra job.
    """
    val, img, op = _parsed(df, value_col)
    reason = (
        F.when(val.isNull() | (val["op"].isNull() & val["before"].isNull()
                               & val["after"].isNull() & val["source"].isNull()),
               F.lit("corrupt_json"))
        .when(op.isNull(), F.lit("unknown_op"))
        .when(img["conv_id"].isNull() | img["turn_idx"].isNull(),
              F.lit("missing_key"))
        # mirror merge._valid_pred EXACTLY: the split's contract is that
        # the clean side applies without the quarantine dir, so anything
        # the merge gate would quarantine must land here instead (the
        # negative-turn_idx case was found by the parser fuzz property)
        .when(img["turn_idx"] < 0, F.lit("invalid_key"))
        .when(val["source"]["lsn"].isNull(), F.lit("missing_lsn"))
    )
    tagged = df.select(F.col(value_col).alias("raw"), reason.alias("reject_reason"),
                       *_events_select(val, img, op))
    events = align_to_target(
        tagged.filter(F.col("reject_reason").isNull()).drop("raw", "reject_reason"))
    rejects = tagged.filter(F.col("reject_reason").isNotNull()).select(
        "raw", "reject_reason")
    return events, rejects


def to_debezium(
    spark: SparkSession, table: CowTable, from_snapshot: int,
    to_snapshot: int | None = None,
) -> DataFrame:
    """Render the CDF image feed as Debezium envelopes: one JSON line per
    net key change in ``(from_snapshot, to_snapshot]``.

    Updates pair their pre/post images into ONE envelope (before+after —
    the REPLICA IDENTITY FULL shape); inserts omit ``before``, deletes
    omit ``after`` (``to_json`` drops null fields, as Debezium does).
    Plan: the image feed's O(changes) plan + one groupBy on
    ``(key, _lsn)`` to pair the two update rows — a single extra shuffle
    on a high-cardinality key.
    """
    imgs = table.read_changes_with_images(spark, from_snapshot,
                                          to_snapshot=to_snapshot)
    return envelopes_from_images(imgs)


def envelopes_from_images(imgs: DataFrame) -> DataFrame:
    """Pair a ``read_changes_with_images`` frame into Debezium envelopes
    (the shared tail of :func:`to_debezium` and :func:`relay_debezium`)."""
    payload = [c for c, _ in PAYLOAD_FIELDS if c not in ("conv_id", "turn_idx")]

    def _img_struct():
        cols = [F.col("conv_id"), F.col("turn_idx")]
        for c in payload:
            if c == "ts":
                cols.append(F.unix_micros(F.col("ts")).alias("ts_us"))
            else:
                cols.append(F.col(c))
        return F.struct(*cols)

    pre = F.when(F.col("_change_type").isin("update_preimage", "delete"),
                 _img_struct())
    post = F.when(F.col("_change_type").isin("update_postimage", "insert"),
                  _img_struct())
    paired = (
        imgs.select("conv_id", "turn_idx", F.col("_lsn"),
                    pre.alias("_pre"), post.alias("_post"))
        .groupBy("conv_id", "turn_idx", "_lsn")
        .agg(F.first("_pre", ignorenulls=True).alias("before"),
             F.first("_post", ignorenulls=True).alias("after"))
    )
    op = (
        F.when(F.col("before").isNull(), F.lit("c"))
        .when(F.col("after").isNull(), F.lit("d"))
        .otherwise(F.lit("u"))
    )
    # source.ts_ms: derived from the winning image's ts when present.
    ts_ms = (F.coalesce(F.col("after.ts_us"), F.col("before.ts_us"))
             / F.lit(1000)).cast("long")
    envelope = F.struct(
        F.col("before"), F.col("after"),
        F.struct(F.col("_lsn").alias("lsn"), ts_ms.alias("ts_ms"),
                 F.lit(SOURCE_NAME).alias("db"),
                 F.lit("transcripts").alias("table")).alias("source"),
        op.alias("op"), ts_ms.alias("ts_ms"),
    )
    return paired.select(F.to_json(envelope).alias("value"),
                         F.col("_lsn").alias("lsn"))


def maxwell_value_schema() -> T.StructType:
    """Maxwell's envelope: flat ``data``/``old`` maps, string op names,
    and the position carried as ``position`` ("file:offset") or ``xoffset``
    — we read the numeric tail of ``position`` as the LSN."""
    return T.StructType([
        T.StructField("database", T.StringType(), True),
        T.StructField("table", T.StringType(), True),
        T.StructField("type", T.StringType(), True),
        T.StructField("ts", T.LongType(), True),          # epoch seconds
        T.StructField("position", T.StringType(), True),  # "binlog.0001:4321"
        T.StructField("data", _image_struct(), True),
        T.StructField("old", _image_struct(), True),
    ])


def parse_maxwell(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Maxwell-format envelope lines -> engine change events.

    Maxwell (Zendesk's binlog tail) differs from Debezium in shape only:
    ``type`` is a word (insert/update/delete/bootstrap-insert), the row
    image is the flat ``data`` map (``old`` holds only the changed
    columns' previous values — deletes carry the full image in ``data``),
    and the binlog position rides as ``"file:offset"``. Same guarantees
    as :func:`parse_debezium`: one JVM-side ``from_json``, poisoned lines
    degrade to quarantineable events.
    """
    val = F.from_json(F.col(value_col), maxwell_value_schema())
    img = val["data"]  # Maxwell: data IS the image for every op, deletes too
    op = (
        F.when(val["type"].isin("insert", "bootstrap-insert"), F.lit("I"))
        .when(val["type"] == "update", F.lit("U"))
        .when(val["type"] == "delete", F.lit("D"))
        .otherwise(F.lit(None).cast("string"))
    )
    lsn = F.split(val["position"], ":").getItem(1).cast("long")
    return align_to_target(df.select(
        lsn.alias("lsn"),
        op.alias("op"),
        img["conv_id"].alias("conv_id"),
        img["turn_idx"].alias("turn_idx"),
        img["role"].alias("role"),
        img["text"].alias("text"),
        img["tool"].alias("tool"),
        F.timestamp_micros(img["ts_us"]).alias("ts"),
    ))


REJECT_TABLE = "_unrouted"


def route_debezium(
    df: DataFrame, tables: list[str], value_col: str = "value",
    table_field: str = "source.table",
) -> dict[str, DataFrame]:
    """Demultiplex a single envelope stream carrying several tables'
    changes (the one-topic-many-tables Kafka layout) into per-table
    change-event frames keyed by ``source.table``.

    Returns ``{table_name: events_df, REJECT_TABLE: unrouted}`` — every
    returned frame is a FILTER over one shared parse, so Catalyst
    collapses the ``from_json`` into each consumer's scan; no shuffle,
    no materialization here. Events naming none of ``tables`` (or
    unparseable lines) land under :data:`REJECT_TABLE` so a topo change
    upstream (a new table added to the topic) surfaces as routable data,
    never a silent drop.
    """
    val, img, op = _parsed(df, value_col)
    tbl = val
    for part in table_field.split("."):
        tbl = tbl[part]
    base = df.select(tbl.alias("_route"), F.col(value_col).alias("raw"),
                     *_events_select(val, img, op))
    out: dict[str, DataFrame] = {}
    for name in tables:
        out[name] = align_to_target(
            base.filter(F.col("_route") == name).drop("_route", "raw"))
    # unrouted keeps the RAW line (DLQ shape) alongside the route value
    out[REJECT_TABLE] = base.filter(
        F.col("_route").isNull() | ~F.col("_route").isin(list(tables))
    ).select("_route", "raw")
    return out


def txn_split(ev: DataFrame, prev: DataFrame | None
              ) -> tuple[DataFrame, DataFrame]:
    """Split (new events + carried-over pending) into (complete,
    incomplete) by Debezium transaction completeness: a transaction is
    complete once all ``event_count`` DISTINCT positions
    (``transaction.total_order``) of its events are present; events
    outside any transaction are complete by definition. Pure function of
    its inputs — the crash-replay determinism both transactional
    appliers rely on.

    Duplicate-tolerant by construction: under at-least-once delivery
    (the Kafka swap-in ``stream_apply_debezium`` documents) a redelivered
    event must not inflate the completeness count — ``count(*)`` would
    declare a transaction complete before all DISTINCT events arrived
    and apply it torn. ``countDistinct(_txn_order)`` counts each
    position once no matter how often it is redelivered. Envelopes whose
    transaction block lacks ``total_order`` (all-null orders for a txn)
    fall back to the raw count — the best decidable criterion for that
    wire dialect, correct under exactly-once transports. A transaction
    whose total is unknown (no ``event_count`` on any of its events:
    Debezium's own data-event shape) is undecidable here and stays
    incomplete: every input row lands on exactly one side.

    The carried-over pending side is deduplicated on
    ``(_txn_id, _txn_order)`` so redelivery cannot grow the pending
    state unboundedly; duplicates of the same position are verbatim
    re-sends under the CDC contract, so dropping either is
    value-identical.
    """
    from pyspark.sql import Window

    if prev is not None:
        ev = ev.unionByName(prev)
    # Window-based split, ONE shuffle, both outputs plain filters over a
    # single tagged frame. (The earlier groupBy + broadcast semi/anti
    # formulation fanned the apply into a union of join branches and
    # measured ~4.7x the plain ingest; this shape measures ~2.5x.)
    # Partition key: the transaction id, with rows OUTSIDE any
    # transaction salted to a deterministic per-row key — their
    # completeness is constant-true, so they need no co-location, and
    # without the salt a mostly-non-transactional stream would funnel
    # every bare row through ONE window task (the skew bomb this
    # engine salts everywhere else).
    key = F.coalesce(
        F.col("_txn_id"),
        F.concat(F.lit("~"),
                 F.xxhash64("lsn", "conv_id", "turn_idx").cast("string")))
    w = Window.partitionBy(key)
    n_pos = F.size(F.array_distinct(
        F.collect_list("_txn_order").over(w)))
    n_all = F.count(F.lit(1)).over(w)
    tot = F.max("_txn_total").over(w)
    # NULL (unknown total) is pending: both filters must see every row
    done = (F.col("_txn_id").isNull()
            | F.when(n_pos > 0, n_pos >= tot).otherwise(n_all >= tot))
    tagged = ev.withColumn("_done", F.coalesce(done, F.lit(False)))
    complete = tagged.filter("_done").drop("_done")
    # dedup only rows that HAVE a position: null orders (the count-based
    # dialect) must not collapse a whole transaction into one row
    incomplete = (
        tagged.filter("NOT _done").drop("_done")
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("_txn_id", "_txn_order")
            .orderBy(F.col("lsn"))))
        .filter(F.col("_txn_order").isNull() | (F.col("_rn") == 1))
        .drop("_rn")
    )
    return complete, incomplete


def pending_txn_schema() -> T.StructType:
    from .schema import target_change_schema

    return T.StructType(
        list(target_change_schema().fields)
        + [T.StructField("_txn_id", T.StringType(), True),
           T.StructField("_txn_order", T.LongType(), True),
           T.StructField("_txn_total", T.LongType(), True)])


def _pending_ids(state_dir: str) -> list[int]:
    """Ids of the published pending states (``_DONE`` present), ordered
    as integers: a zero-padded name sorts wrong once an id outgrows its
    padding."""
    return sorted(
        int(d.split("-", 1)[1]) for d in os.listdir(state_dir)
        if d.startswith("pending-") and "." not in d
        and os.path.exists(os.path.join(state_dir, d, "_DONE")))


def _pending_path(state_dir: str, batch_id: int) -> str:
    return os.path.join(state_dir, f"pending-{batch_id:09d}")


def _read_pending_before(spark: SparkSession, state_dir: str,
                         batch_id: int) -> DataFrame | None:
    """The newest published pending state with an id below ``batch_id``:
    the carry-over a batch (or its replay) starts from."""
    prior = [i for i in _pending_ids(state_dir) if i < batch_id]
    if not prior:
        return None
    return spark.read.schema(pending_txn_schema()).parquet(
        _pending_path(state_dir, prior[-1]))


def _publish_pending(state_dir: str, batch_id: int, incomplete: DataFrame,
                     keep: int | None) -> None:
    """Write ``pending-<batch_id>`` (stage, ``_DONE``, rename), then drop
    all but the ``keep`` newest published states (``None`` keeps all)."""
    import shutil

    final = _pending_path(state_dir, batch_id)
    stage = final + f".stage-{os.getpid()}"
    incomplete.write.mode("overwrite").parquet(stage)
    with open(os.path.join(stage, "_DONE"), "w") as fh:
        fh.write("ok")
    if os.path.isdir(final):
        shutil.rmtree(final, ignore_errors=True)
    os.rename(stage, final)
    if keep is not None:
        for old in _pending_ids(state_dir)[:-keep]:
            shutil.rmtree(_pending_path(state_dir, old), ignore_errors=True)


def apply_txn_batch(
    spark: SparkSession, table: CowTable, events: DataFrame, batch_id: int,
    state_dir: str, quarantine_dir: str | None = None,
    lineage_dir: str | None = None, keep_pending: int | None = None,
) -> None:
    """One transactional batch: split ``events`` (parsed with
    ``with_transaction=True``) plus the newest pending state published
    below ``batch_id`` by transaction completeness, apply the complete
    side as the fenced batch ``batch_id``, then publish the incomplete
    side as ``pending-<batch_id>``.

    Crash-safe by determinism: the split is a pure function of its two
    immutable inputs, so a crash anywhere replays into the identical
    complete set (the apply fences on the batch id) and the identical
    pending state. ``keep_pending`` bounds the published states kept; a
    replay reads the newest one strictly below its own id, so two
    suffice when only the last batch can replay."""
    from .merge import mor_apply_batch

    prev = _read_pending_before(spark, state_dir, batch_id)
    # persist: the split's two outputs are filters over one window-tagged
    # frame, consumed by separate actions (the apply, the pending write);
    # without it each re-runs the parse over the whole batch
    ev = events.persist()
    try:
        complete, incomplete = txn_split(ev, prev)
        mor_apply_batch(spark, table,
                        complete.drop("_txn_id", "_txn_order", "_txn_total"),
                        batch_id, lineage_dir=lineage_dir,
                        quarantine_dir=quarantine_dir)
        table.refresh()
        # publish pending AFTER the fenced apply: a crash in between
        # replays the identical deterministic split into a fenced no-op
        _publish_pending(state_dir, batch_id, incomplete, keep_pending)
    finally:
        ev.unpersist()


def _ingest_files(
    spark: SparkSession, ndjson_dir: str, table_path: str, n_buckets: int,
    quarantine_dir: str | None, state_dir: str | None,
) -> CowTable:
    """The NDJSON file loop of both ingest front-ends: one file = one
    fenced batch, transactional when ``state_dir`` is given. The batch id
    is the file name's trailing digits (``batch-00003.ndjson``), else the
    file's sorted position; both are stable across re-runs, which is all
    fencing needs. Resume skips a batch whose apply is committed and,
    when transactional, whose pending state is published."""
    from .merge import mor_apply_batch

    table = CowTable(table_path, n_buckets=n_buckets)
    table.create()
    if quarantine_dir is None:
        quarantine_dir = os.path.join(table_path, "_quarantine")
    if state_dir is not None:
        os.makedirs(state_dir, exist_ok=True)
    files = sorted(f for f in os.listdir(ndjson_dir)
                   if not f.startswith((".", "_"))
                   and not f.endswith((".crc", ".tmp")))
    for pos, f in enumerate(files):
        digits = f.rsplit(".", 1)[0].rsplit("-", 1)[-1]
        batch_id = int(digits) if digits.isdigit() else pos
        if table.is_committed(batch_id) and (
                state_dir is None or os.path.exists(os.path.join(
                    _pending_path(state_dir, batch_id), "_DONE"))):
            continue
        lines = spark.read.text(os.path.join(ndjson_dir, f))
        if state_dir is None:
            mor_apply_batch(spark, table, parse_debezium(lines), batch_id,
                            quarantine_dir=quarantine_dir)
            table.refresh()
        else:
            apply_txn_batch(spark, table,
                            parse_debezium(lines, with_transaction=True),
                            batch_id, state_dir, quarantine_dir=quarantine_dir)
    return table


def ingest_debezium_txn(
    spark: SparkSession, ndjson_dir: str, table_path: str,
    n_buckets: int = 8, state_dir: str | None = None,
    quarantine_dir: str | None = None,
) -> CowTable:
    """Transaction-boundary-aware envelope ingest: a source transaction
    becomes visible ATOMICALLY or not at all — never torn across
    micro-batch commits.

    Debezium's transaction metadata (``transaction.id`` +
    ``event_count`` on every data event) makes completeness decidable:
    a transaction is complete in the accumulated stream once all
    ``event_count`` of its events have arrived. Each NDJSON file is one
    fenced micro-batch through :func:`apply_txn_batch`: the file's events
    plus the carried-over incomplete-transaction events split into
    complete (all counted, plus events outside any transaction) and
    incomplete; the complete set applies, the incomplete set is published
    as ``pending-<batch_id>``. Readers at ANY snapshot see only whole
    transactions — the guarantee a downstream consumer needs to join
    tables consistently off a one-topic stream.

    Pending state is keyed by ``batch_id`` — the SAME derivation as the
    commit fence — not by the file's sorted position: if processed files
    are archived/removed between runs, positions shift but batch ids do
    not, so the first remaining file still finds the carried-over events
    published by its predecessor. Every published state is kept.
    Deferral is safe under LWW: a deferred event applies later at its
    original LSN, and max-LSN resolution is order-independent. A
    transaction without ``event_count`` never completes and stays
    pending (see :func:`txn_split`).

    Quarantine: defaults to ``<table_path>/_quarantine`` (matching
    ``stream_apply``) so a poisoned envelope always leaves a row-level
    record; pass an explicit empty string only if you genuinely want
    counter-only accounting.

    Scale: the pending set is bounded by in-flight transactions (the
    tail of the current batch), not history; the completeness check is
    one window over ``_txn_id`` (``txn_split``) on ``O(batch + pending)``
    rows.
    """
    return _ingest_files(
        spark, ndjson_dir, table_path, n_buckets, quarantine_dir,
        state_dir or os.path.join(table_path, "_txn_pending"))


def relay_debezium(
    spark: SparkSession, cursor, table: CowTable, out_dir: str,
    max_windows: int | None = None, min_window_bytes: int = 0,
    flush: bool = True,
) -> list[dict[str, Any]]:
    """Crash-safe CDC relay: drain unconsumed feed windows as Debezium
    envelope NDJSON files — the engine acting as a Debezium SERVER, the
    emission twin of ``feed.replicate_window``'s consumption.

    One poll/write/commit cycle per window: the pinned image window
    ``(cursor, token]`` pairs into envelopes, lands as
    ``window-<token>.ndjson`` via write-then-atomic-rename, and only then
    does the cursor commit. A crash between the write and the commit
    re-serves the SAME window into the SAME filename (idempotent
    overwrite), so a downstream ``ingest_debezium`` — whose batch ids
    come from those filenames — sees each window exactly once no matter
    where the relay died. Empty windows (every change lost LWW) still
    emit their file and advance, so the output directory is a gapless
    record of consumed tokens. Unservable windows raise the feed's
    resync contract (the consumer re-bootstraps from
    ``to_debezium_snapshot`` and ``cursor.reset``).

    Every result row has the same keys: ``token`` (the emitted window's
    token; None when deferred), ``lines`` and ``bytes`` (the rendered
    window) and ``deferred``.

    Small-window coalescing (``min_window_bytes > 0``, effective ONLY with
    ``flush=False``): a low-traffic table tailed frequently would
    otherwise emit one tiny file per relay cycle. With ``flush=False`` a
    window whose rendered bytes fall below the floor is DEFERRED —
    nothing is emitted, the call returns, and the cursor does NOT commit,
    so the next relay cycle's poll serves the strictly larger superset
    window ``(same cursor, new head]``; windows fold forward until the
    floor is reached. This preserves every contract for free: the token record
    stays gapless (each emitted file still covers exactly
    ``(previous emitted token, its token]``), exactly-once still rides
    the same poll-reserve/commit discipline, and replica state is
    byte-identical because the coalesced window's net image feed equals
    the concatenation of the small windows' net changes under LWW.
    ``flush=True`` (the default) emits every window, below the floor or
    not, so ``min_window_bytes`` does nothing there: a tailing daemon
    passes ``flush=False`` on every cycle and ``flush=True`` on its
    shutdown / timer so deferral cannot starve a quiet table forever.
    """
    import glob as _glob
    import shutil as _shutil
    import uuid as _uuid

    os.makedirs(out_dir, exist_ok=True)
    results: list[dict[str, Any]] = []
    while max_windows is None or len(results) < max_windows:
        out = cursor.poll(spark, table)
        if out is None:
            return results
        imgs, token = out
        env = envelopes_from_images(imgs).select("value")
        stage = os.path.join(out_dir, f".stage-{_uuid.uuid4().hex}")
        # one file per window: a change window is delta-sized by
        # construction, so the single-task coalesce is bounded by the
        # window, never the table
        env.coalesce(1).write.mode("overwrite").text(stage)
        parts = _glob.glob(os.path.join(stage, "part-*"))
        staged = parts[0] if parts else None
        size = os.path.getsize(staged) if staged else 0
        n = 0
        if staged:
            with open(staged) as f:
                n = sum(1 for _ in f)
        if min_window_bytes > 0 and size < min_window_bytes and not flush:
            # defer: no emission, no commit — the window re-serves grown
            _shutil.rmtree(stage, ignore_errors=True)
            results.append({"token": None, "lines": n, "bytes": size,
                            "deferred": True})
            return results
        final = os.path.join(out_dir, f"window-{token:08d}.ndjson")
        if staged:
            os.replace(staged, final)
        else:  # empty window: no part file written, emit the empty record
            with open(os.path.join(stage, "empty"), "w") as f:
                f.flush()
            os.replace(os.path.join(stage, "empty"), final)
        _shutil.rmtree(stage, ignore_errors=True)
        cursor.commit(token)
        results.append({"token": token, "lines": n, "bytes": size,
                        "deferred": False})
    return results


def envelopes_with_txn(events: DataFrame, txn_events: int = 25) -> DataFrame:
    """Render engine change events (``lsn, op, conv_id, turn_idx, role,
    text[, tool], ts``) as Debezium envelopes WITH transaction metadata,
    entirely JVM-side — the bench/cluster-scale twin of
    ``write_debezium_log(txn_events=...)``'s driver-side byte-exact
    renderer (that one exists for DuckDB oracles; this one for volume).

    Transaction assignment is a pure function of the LSN: transaction
    ``t-<lsn div k>`` with ``total_order = (lsn mod k) + 1`` — distinct
    positions within a transaction by construction — and ``event_count``
    = the transaction's ACTUAL distinct-LSN count (Debezium semantics:
    the connector reads the binlog after commit, so it knows the true
    count; LSN gaps from filtered tables make it less than k). Every
    transaction is completable once all its events are delivered, and
    any file split that cuts an lsn-contiguous block tears a transaction
    for the txn-aware appliers to defer.

    Plan: one ``groupBy(_tid)`` over O(events) rows (k-fold reduction),
    broadcast the O(events/k) counts back, one ``to_json`` projection —
    no Python per row. Returns ``(value, lsn)`` like
    :func:`envelopes_from_images`.
    """
    k = int(txn_events)
    cols = set(events.columns)
    tool = F.col("tool") if "tool" in cols else F.lit(None).cast("string")
    img = F.struct(
        F.col("conv_id"), F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("role"), F.col("text"), tool.alias("tool"),
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    tid = F.expr(f"lsn div {k}")
    counts = (events.groupBy(tid.alias("_tid"))
              .agg(F.count_distinct("lsn").alias("_cnt")))
    j = events.withColumn("_tid", tid).join(F.broadcast(counts), "_tid")
    op = (F.when(F.col("op") == "I", F.lit("c"))
          .when(F.col("op") == "U", F.lit("u"))
          .when(F.col("op") == "D", F.lit("d"))
          .otherwise(F.lower(F.col("op"))))
    ts_ms = (F.unix_micros(F.col("ts")) / F.lit(1000)).cast("long")
    envelope = F.struct(
        F.when(F.col("op") == "D", img).alias("before"),
        F.when(F.col("op") != "D", img).alias("after"),
        F.struct(F.col("lsn"), ts_ms.alias("ts_ms"),
                 F.lit(SOURCE_NAME).alias("db"),
                 F.lit("transcripts").alias("table")).alias("source"),
        op.alias("op"), ts_ms.alias("ts_ms"),
        F.struct(
            F.concat(F.lit("t-"), F.col("_tid")).alias("id"),
            (F.col("lsn") % k + 1).alias("total_order"),
            F.col("_cnt").alias("event_count"),
        ).alias("transaction"),
    )
    return j.select(F.to_json(envelope).alias("value"), F.col("lsn"))


def to_debezium_snapshot(
    spark: SparkSession, table: CowTable, snapshot_id: int | None = None,
) -> DataFrame:
    """Debezium's INITIAL-SNAPSHOT stream: every live row as an ``op='r'``
    read envelope at its winning LSN — what a connector emits before
    switching to the tail, and what bootstraps a downstream replica
    through the wire format. Parsing these and applying yields exactly
    the source's live state (reads map to inserts; LSNs are faithful, so
    tailing the same source later resolves correctly by LWW)."""
    payload = [c for c, _ in PAYLOAD_FIELDS if c not in ("conv_id", "turn_idx")]
    raw = table.read_raw(spark, snapshot_id=snapshot_id).filter(
        ~F.col(SYS_DELETED))
    img_cols = [F.col("conv_id"), F.col("turn_idx")]
    for c in payload:
        img_cols.append(F.unix_micros(F.col("ts")).alias("ts_us")
                        if c == "ts" else F.col(c))
    ts_ms = (F.unix_micros(F.col("ts")) / F.lit(1000)).cast("long")
    envelope = F.struct(
        F.struct(*img_cols).alias("after"),
        F.struct(F.col(SYS_LSN).alias("lsn"), ts_ms.alias("ts_ms"),
                 F.lit(SOURCE_NAME).alias("db"),
                 F.lit("transcripts").alias("table")).alias("source"),
        F.lit("r").alias("op"), ts_ms.alias("ts_ms"),
    )
    return raw.select(F.to_json(envelope).alias("value"))


def write_debezium_log(log_dir: str, out_dir: str,
                       txn_events: int = 0) -> int:
    """Deterministically materialize a generated change log as NDJSON
    envelope files, one ``batch-%05d.ndjson`` per source batch dir.

    Pure pyarrow + ``json.dumps(sort_keys)`` over the (already
    deterministic, seeded) generator output — no Spark, no wall clock —
    so the Spark ingest and the DuckDB oracle can read byte-identical
    files regardless of which side materializes first. Insert/update
    envelopes carry ``after`` only (the WAL doesn't know the previous
    image — Debezium's default REPLICA IDENTITY); deletes carry a
    key-only ``before``, like the raw feed's null-payload tombstones.
    Returns the number of envelope lines written.

    ``txn_events=k`` (k > 0) adds Debezium transaction metadata: every
    k consecutive events (by GLOBAL position across the whole log) form
    one transaction — so a batch-file boundary not aligned to k splits
    a transaction across adjacent files, exactly the tear
    ``ingest_debezium_txn`` must defer. The tail transaction's
    ``event_count`` is its true (smaller) size; ids and counts are pure
    functions of position, keeping the byte-determinism property.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    batches = sorted(
        (int(b.split("=", 1)[1]), os.path.join(log_dir, s, b))
        for s in os.listdir(log_dir) if s.startswith("schema_id=")
        for b in os.listdir(os.path.join(log_dir, s))
        if b.startswith("batch_id="))
    n = 0
    op_map = {"I": "c", "U": "u", "D": "d"}
    total_rows = 0
    if txn_events > 0:
        import pyarrow.parquet as _pq
        total_rows = sum(
            _pq.ParquetFile(os.path.join(bdir, f)).metadata.num_rows
            for _, bdir in batches
            for f in sorted(os.listdir(bdir)) if f.endswith(".parquet"))
    for batch_id, bdir in batches:
        tbl = pa.concat_tables(
            [pq.read_table(os.path.join(bdir, f))
             for f in sorted(os.listdir(bdir)) if f.endswith(".parquet")],
            promote_options="default")
        cols = {name: tbl.column(name).to_pylist() for name in tbl.column_names}
        ts_us = [None if v is None else int(v)
                 for v in tbl.column("ts").cast(pa.int64()).to_pylist()] \
            if "ts" in cols else [None] * tbl.num_rows
        lines = []
        for i in range(tbl.num_rows):
            eng_op = cols["op"][i]
            op = op_map.get(eng_op, eng_op.lower() if eng_op else None)
            img: dict[str, Any] = {
                "conv_id": cols["conv_id"][i],
                "turn_idx": cols["turn_idx"][i],
            }
            if op != "d":
                img.update({
                    "role": cols.get("role", [None] * tbl.num_rows)[i],
                    "text": cols.get("text", [None] * tbl.num_rows)[i],
                    "ts_us": ts_us[i],
                })
                if "tool" in cols:
                    img["tool"] = cols["tool"][i]
            env = {
                "op": op,
                "before": img if op == "d" else None,
                "after": None if op == "d" else img,
                "source": {"lsn": cols["lsn"][i],
                           "ts_ms": None if ts_us[i] is None
                           else ts_us[i] // 1000,
                           "db": SOURCE_NAME, "table": "transcripts"},
                "ts_ms": None if ts_us[i] is None else ts_us[i] // 1000,
            }
            if txn_events > 0:
                g = n + len(lines)  # global event position
                txn_id = g // txn_events
                count = min(txn_events,
                            total_rows - txn_id * txn_events)
                env["transaction"] = {
                    "id": f"txn-{txn_id:08d}",
                    "total_order": g - txn_id * txn_events + 1,
                    "event_count": count,
                }
            lines.append(json.dumps(env, sort_keys=True,
                                    separators=(",", ":")))
        path = os.path.join(out_dir, f"batch-{batch_id:05d}.ndjson")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + ("\n" if lines else ""))
        os.replace(tmp, path)
        n += len(lines)
    return n


def ingest_debezium(
    spark: SparkSession, ndjson_dir: str, table_path: str,
    n_buckets: int = 8,
    quarantine_dir: str | None = None,
) -> CowTable:
    """Micro-batched envelope ingest with exactly-once fencing.

    One NDJSON file = one micro-batch; the file name's trailing digits
    (else its sorted position) are the fenced ``batch_id``, so re-running
    over the same directory (resume after a crash, an operator
    double-invoke) re-applies nothing — the same
    idempotence contract as the parquet runner, reached through the same
    ``mor_apply_batch`` path (LWW reduce -> bucket-partitioned delta
    layer -> CAS commit).

    Quarantine defaults to ``<table_path>/_quarantine`` so a poisoned
    envelope always leaves a row-level record (the module's
    never-silently-dropped contract), not just a metrics counter.
    """
    return _ingest_files(spark, ndjson_dir, table_path, n_buckets,
                         quarantine_dir, None)
