"""Spark 4 Python Data Source API adapters for the transcript table.

Exposes the engine's lakehouse table through Spark's NATIVE source
interface (``pyspark.sql.datasource``, Spark 4.0+), so any consumer —
including one that knows nothing about this package — reads it with plain
``spark.read.format(...)`` / ``spark.readStream.format(...)``:

- ``cowtable`` (batch): resolved live rows of a snapshot. The driver side
  plans ONE input partition per table bucket from the manifest (no file
  listing beyond the snapshot's own dirs, no Spark job to plan); each
  executor task LWW-folds its bucket locally with pyarrow and yields
  Arrow record batches — buckets are disjoint by construction so the
  fold needs no shuffle at all, which is exactly why the table buckets
  on ``xxhash64(conv_id)`` in the first place. Options: ``root``
  (required), ``snapshot_id`` (time travel), ``tombstones=true`` (emit
  unresolved system columns instead of live rows).
- ``cowtable_changes`` (streaming): the table's change feed as a
  Structured Streaming source. Offsets are snapshot ids — the stream
  tails the commit chain exactly like the engine tails a WAL: each
  micro-batch serves the delta files the snapshots in ``(start, end]``
  appended, one partition per (snapshot, bucket-layer dir). A commit
  that rewrites history in place (major compaction, rollback)
  cannot be served incrementally; the source then fails the batch with
  the same resync contract ``CowTable.read_changes_since`` documents.
  Options: ``root`` (required), ``start_snapshot_id`` (default: the
  table's genesis snapshot).

Scale notes: planning is manifest-driven and O(commits in range) on the
driver; the batch reader, the change-feed stream reader, and both writers
all move data as Arrow record batches with zero Python row loops (the LWW
fold is pure Arrow compute — §2.9 discipline), and the batch
source parallelizes across all buckets. The change feed additionally
takes ``max_rows_per_batch`` to split a backfill-sized delta burst across
micro-batches (offsets carry an intra-snapshot file position), so a
single micro-batch is never O(backlog); row budgeting reads parquet
footers only.

Deployment note: Spark unpickles these classes inside executor PYTHON
WORKER processes, so the package must be importable there — exactly what
``spark-submit --py-files dist/biomedica_etl_spark.zip`` (see
``scripts/package.sh``) or a cluster-wide pip install provides. A
driver-side ``sys.path`` hack is NOT enough (verified: workers raise
ModuleNotFoundError without the zip/PYTHONPATH).

Reference analogue: the reference exposes its final corpus only as files
on disk (``scripts/06_serilaize_to_webdataset_parallel.py``); here the
table is a first-class Spark source either way — state or feed.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pds
import pyarrow.parquet as pq
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from ..cdc.schema import PAYLOAD_FIELDS, SYS_DELETED, SYS_LSN
from ..cdc.table import CowTable, _is_layer_fold, stored_schema


def _arrow_schema(with_sys: bool) -> pa.Schema:
    """Arrow shape Spark expects for the declared read schema (timestamps
    as int64 micros, UTC session basis)."""
    spark_to_arrow = {
        "string": pa.string(),
        "bigint": pa.int64(),
        "timestamp": pa.timestamp("us"),
        "boolean": pa.bool_(),
    }
    fields = [(n, spark_to_arrow[t.simpleString()]) for n, t in PAYLOAD_FIELDS]
    if with_sys:
        fields += [(SYS_LSN, pa.int64()), (SYS_DELETED, pa.bool_())]
    return pa.schema(fields)


def _stored_write_schema() -> pa.Schema:
    """The stored shape as the engine writes it: ``ts`` as tz-aware UTC
    micros, which Spark reads as the same instant under any session
    time zone."""
    return pa.schema([pa.field("ts", pa.timestamp("us", tz="UTC"))
                      if f.name == "ts" else f for f in _arrow_schema(True)])


def _read_stored_arrow(files: list[str], filters: list | None = None,
                       schema: pa.Schema | None = None) -> pa.Table:
    """Read parquet files into one Arrow table, normalized to ``schema``
    (default: the table's stored shape, ts cast to us; old INT96 files
    land as ns; the runner passes the target change schema to read a log
    batch).

    ``filters`` (pyarrow DNF, e.g. ``[("conv_id", "=", c)]``) prunes row
    groups by their min/max statistics and then drops non-matching rows,
    so a point read decodes only the row groups that can hold its key.

    Pre-evolution files may lack later-added payload columns; they are
    padded with typed nulls — mirroring how the engine's own Spark reader
    (``spark.read.schema(stored_schema())``) tolerates them — so the
    native source never breaks on a table the engine itself reads fine.

    The files are scanned as ONE dataset with ``schema`` as its schema,
    which pads, casts and filters every file in the same pass; a point
    read that touches a few small files then pays one scan's set-up, not
    one per file (a two-file index shard: 1.7 ms per filtered read
    before, 0.67 ms after, 4 vCPUs). Rows keep file order, then in-file
    order."""
    target = schema if schema is not None else _arrow_schema(True)
    if not files:
        return target.empty_table()
    return pds.dataset(files, format="parquet", schema=target).to_table(
        filter=None if filters is None else pq.filters_to_expression(filters))


# Largest output chunk the fold gathers in one piece: far under Arrow's
# 2 GiB int32-offset ceiling, so no gathered chunk overflows however the
# winners' sizes skew (a single row over the cap gets a chunk of its
# own; it fit one int32 chunk on the way in), and the record batches a
# fold task hands Spark stay moderately sized.
_TAKE_CAP_BYTES = 256 << 20


def _row_bytes(tab: pa.Table) -> np.ndarray:
    """In-memory bytes of each row: value plus offset bytes of the
    variable-width columns, the byte width of the others. Reads offsets
    only, never string data."""
    out = np.zeros(tab.num_rows, np.int64)
    for col in tab.columns:
        if pa.types.is_string(col.type) or pa.types.is_binary(col.type):
            out += pc.fill_null(pc.binary_length(col), 0).to_numpy() + 4
        else:
            out += max(col.type.bit_width // 8, 1)
    return out


def _take_capped(tab: pa.Table, rows: np.ndarray,
                 cap: int = _TAKE_CAP_BYTES,
                 row_bytes: np.ndarray | None = None) -> pa.Table:
    """``tab``'s rows at the indices ``rows``, in that order, gathered in
    output chunks of at most ``cap`` bytes.

    Arrow's own ``Table.take`` concatenates each multi-chunk column
    before taking: a full copy of the input per call, and an 'offset
    overflow' once a string column passes 2 GiB. ASCENDING indices are
    gathered from each input record batch separately, which copies only
    the rows kept, and a run of consecutive rows is a zero-copy slice of
    its batch. Any other order is cut into chunks of at most ``cap``
    bytes; each is gathered ascending and then permuted within itself.
    Peak memory is the input plus the rows kept. ``row_bytes``
    (``_row_bytes(tab)``) spares a caller that gathers from one table
    many times its recomputation."""
    if tab.nbytes <= cap:
        # an input under the cap cannot gather a chunk over it
        sizes = np.zeros(len(rows), np.int64)
    else:
        if row_bytes is None:
            row_bytes = _row_bytes(tab)
        sizes = row_bytes[rows]
    out = []
    if len(rows) > 1 and (rows[1:] < rows[:-1]).any():
        for j, k in _capped_runs(sizes, cap):
            part = rows[j:k]
            asc = np.sort(part)
            got = _take_capped(tab, asc, cap, row_bytes)
            out.extend(got.take(pa.array(np.searchsorted(asc, part)))
                       .to_batches())
        return pa.Table.from_batches(out, schema=tab.schema)
    batches = tab.to_batches()
    starts = np.cumsum([0] + [b.num_rows for b in batches])
    for i, batch in enumerate(batches):
        lo, hi = np.searchsorted(rows, starts[i:i + 2])
        local = rows[lo:hi] - starts[i]
        for j, k in _capped_runs(sizes[lo:hi], cap):
            part = local[j:k]
            if part[-1] - part[0] == len(part) - 1:
                out.append(batch.slice(int(part[0]), len(part)))
            else:
                out.append(batch.take(pa.array(part)))
    return pa.Table.from_batches(out, schema=tab.schema)


def _capped_runs(sizes: np.ndarray, cap: int):
    """``(start, stop)`` of consecutive runs of ``sizes`` that sum to at
    most ``cap``; an item over the cap gets a run of its own."""
    cum = np.cumsum(sizes)
    j = 0
    while j < len(sizes):
        k = max(j + 1, int(np.searchsorted(
            cum, (cum[j - 1] if j else 0) + cap, side="right")))
        yield j, k
        j = k


def _last_per_key(tab: pa.Table, keys: list[str], order: list[str],
                  key_order: bool = False) -> np.ndarray:
    """Row indices of the row each ``keys`` value keeps: the last one by
    ``order``. Ascending by default; ``key_order=True`` returns them in
    the sort's own ``keys`` order instead, which is a write order for
    free. Sorts the key and order columns only, never the payload. A
    null key compares unequal to its neighbours, so such rows are each
    kept, never silently dropped. The indices are ``int64``: an unsigned
    array would wrap under subtraction."""
    cols = keys + order
    idx = pc.sort_indices(tab.select(cols),
                          sort_keys=[(c, "ascending") for c in cols])
    n = len(idx)
    last = np.ones(n, dtype=bool)
    if n > 1:
        sk = tab.select(keys).take(idx)
        diff = None
        for c in keys:
            col = sk[c].combine_chunks()
            ne = pc.fill_null(pc.not_equal(col.slice(0, n - 1),
                                           col.slice(1)), True)
            diff = ne if diff is None else pc.or_(diff, ne)
        last[:-1] = diff.to_numpy(zero_copy_only=False)
    kept = idx.to_numpy().astype(np.int64)[last]
    return kept if key_order else np.sort(kept)


def _lww_fold(stored: pa.Table, tombstones: bool) -> pa.Table:
    """Vectorized per-bucket LWW resolve: newest ``_lsn`` wins per
    (conv_id, turn_idx); tombstones dropped unless requested. Bucket-local
    — disjoint key spaces make this embarrassingly parallel. ``stored`` is
    ``_read_stored_arrow``-shaped; output rows keep their input order.

    Pure Arrow: the earlier pandas form spent most of its time converting
    payload strings to object dtype and back, which made minor folds cost
    more than the shuffle they avoided. Duplicate (key, lsn) rows are
    exact duplicates by the at-least-once delivery contract, so tie order
    is value-free — same arbitrariness the JVM ``max_by`` reduce has.

    Memory-lean for a bucket carrying >2 GiB of text (a zipf-hot
    conversation — the 256M soak hit exactly this): only the key columns
    are sorted, and the winners are gathered from the int32-offset input
    in bounded chunks (``_take_capped``), so no column is ever copied or
    concatenated whole. Peak memory is the input plus the winners."""
    target = _arrow_schema(tombstones)
    rows = _last_per_key(stored, ["conv_id", "turn_idx"], [SYS_LSN])
    if not tombstones and len(rows):
        dead = pc.fill_null(stored[SYS_DELETED].take(pa.array(rows)), False)
        rows = rows[~dead.to_numpy()]
    return _take_capped(stored.select(target.names), rows)


def _to_dataframe(spark, tab: pa.Table, schema: T.StructType):
    """A driver-side Arrow result as a DataFrame. It is a local relation:
    the plan is a ``LocalTableScan`` and collecting it starts no Spark
    job. ``tab`` is cast to the Arrow shape of ``schema`` first, which
    tags a naive ``ts`` as UTC: Spark reads a naive Arrow timestamp as
    wall time in ``spark.sql.session.timeZone``, which would shift every
    value by that zone's offset.

    The relation is built as ``createDataFrame`` builds it from an Arrow
    table (the batches handed to the JVM, then ``toDataFrame``), without
    the session confs it re-reads over py4j on every call (Arrow var-type
    width, batch size, timestamp preference, time zone). A point read
    costs a few milliseconds, most of it in the JVM; on a JVM that has
    run few queries, skipping those round trips took the median index
    lookup of perfbench's ``log-backlog-indexed`` from 17.7 to 16.5 ms
    (4 seeds, 4 vCPUs)."""
    from pyspark.sql.dataframe import DataFrame
    from pyspark.sql.pandas.serializers import ArrowStreamSerializer
    from pyspark.sql.pandas.types import to_arrow_schema

    sc = spark.sparkContext
    jvm = sc._jvm
    jiter = sc._serialize_to_jvm(
        tab.cast(to_arrow_schema(schema)).to_batches(),
        ArrowStreamSerializer(),
        jvm.PythonSQLUtils.readArrowStreamFromFile,
        jvm.ArrowIteratorServer)
    df = DataFrame(jvm.PythonSQLUtils.toDataFrame(
        jiter, schema.json(), spark._jsparkSession), spark)
    df._schema = schema
    return df


def _root_of(options: dict) -> str:
    """Table root from data source options. ``root`` is the documented
    option; ``path`` is accepted as an alias so the source also works
    through the standard surfaces that spell it that way —
    ``load("/table/root")`` and SQL DDL
    (``CREATE TABLE t USING cowtable OPTIONS (path '...')``)."""
    root = options.get("root") or options.get("path")
    if not root:
        raise ValueError("cowtable sources need a 'root' (or 'path') option")
    return root


class _BucketFiles(InputPartition):
    def __init__(self, bucket: int, files: list[str]) -> None:
        self.bucket = bucket
        self.files = files


class CowTableDataSource(DataSource):
    """``spark.read.format("cowtable").option("root", ...).load()``."""

    @classmethod
    def name(cls) -> str:
        return "cowtable"

    def schema(self) -> T.StructType:
        if self.options.get("tombstones", "false").lower() == "true":
            return stored_schema()
        return T.StructType(
            [T.StructField(n, t, True) for n, t in PAYLOAD_FIELDS])

    def reader(self, schema: T.StructType) -> "CowTableReader":
        return CowTableReader(self.options)

    def writer(self, schema: T.StructType, overwrite: bool) -> "CowTableWriter":
        if overwrite:
            raise ValueError(
                "cowtable is append-only through this writer: each save() is "
                "one MOR delta commit; use the engine's compaction/rewrite "
                "ops to reorganize, and mode('append')")
        return CowTableWriter(self.options)

    def streamWriter(self, schema: T.StructType,
                     overwrite: bool) -> "CowTableStreamWriter":
        return CowTableStreamWriter(self.options)


class CowTableReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.root = _root_of(options)
        snap = options.get("snapshot_id")
        self.snapshot_id = int(snap) if snap is not None else None
        self.tombstones = options.get("tombstones", "false").lower() == "true"
        # explicit bucket prune (comma-separated ints): callers that
        # already know the touched buckets (MERGE's source-key prune)
        # restrict the planned partitions directly, without needing a
        # conv_id predicate for pushFilters to derive them from
        bucks = options.get("buckets")
        self.buckets: set[int] | None = (
            {int(b) for b in str(bucks).split(",") if b != ""}
            if bucks is not None else None)
        self._conv_filter: set | None = None

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        """Hidden-partition pruning through the Python DataSource filter
        API (Spark 4.1): an ``EqualTo``/``In`` on ``conv_id`` restricts
        ``partitions()`` to the matching buckets, computed driver-side
        with the pure-Python ``xxh64`` twin pinned bit-identical to
        ``F.xxhash64`` — the same pruning ``read_conversation`` does, now
        reachable from plain ``df.filter(col("conv_id") == ...)`` on the
        native source. Every filter is RETURNED for Spark to re-evaluate
        (a bucket holds many conversations — pruning only narrows the
        scan, it never subsumes the predicate). Non-string or unexpected
        values skip pruning rather than risk dropping a bucket."""
        from pyspark.sql.datasource import EqualTo, In

        convs: set | None = None
        for f in filters:
            vals = None
            if isinstance(f, EqualTo) and f.attribute == ("conv_id",):
                vals = {f.value}
            elif isinstance(f, In) and f.attribute == ("conv_id",):
                vals = set(f.value)
            if vals is not None:
                convs = vals if convs is None else convs & vals
        if convs is not None and all(isinstance(v, str) for v in convs):
            self._conv_filter = convs
        return filters

    def partitions(self) -> list[_BucketFiles]:
        table = CowTable(self.root)
        snap = table._resolve_snapshot(self.snapshot_id)
        if snap is None:
            return [_BucketFiles(0, [])]
        allowed: set[int] | None = self.buckets
        if self._conv_filter is not None:
            from biomedica_etl_spark.cdc.xxhash import bucket_of

            derived = {bucket_of(c, snap["n_buckets"])
                       for c in self._conv_filter}
            allowed = derived if allowed is None else allowed & derived
        per_bucket: dict[int, list[str]] = {}
        for key in ("bucket_dirs", "delta_dirs"):
            for b, d in snap.get(key, {}).items():
                if allowed is not None and int(b) not in allowed:
                    continue
                dirs = d if isinstance(d, list) else [d]
                for one in dirs:
                    per_bucket.setdefault(int(b), []).extend(sorted(
                        glob.glob(os.path.join(table.root, one, "*.parquet"))))
        if not per_bucket:
            return [_BucketFiles(0, [])]
        return [_BucketFiles(b, fs) for b, fs in sorted(per_bucket.items())]

    def read(self, partition: _BucketFiles) -> Iterator[pa.RecordBatch]:
        stored = _read_stored_arrow(partition.files)
        yield from _lww_fold(stored, self.tombstones).to_batches()


class _AppendedFiles(WriterCommitMessage):
    """Per-task result: the EXACT files this task attempt wrote. The
    driver commits only files reported by successful attempts (Iceberg's
    file-list commit discipline), so a retried task's partial output is
    never referenced — it ages out as an unreferenced dir for
    ``remove_orphaned_files``."""

    def __init__(self, files: list[tuple[int, str]], n_rows: int,
                 lsn_lo: int | None, lsn_hi: int | None) -> None:
        self.files = files  # (bucket, absolute path)
        self.n_rows = n_rows
        self.lsn_lo = lsn_lo
        self.lsn_hi = lsn_hi


def _write_change_batches(batches, root: str, n_buckets: int
                          ) -> _AppendedFiles:
    """Executor half of the append: Arrow change batches -> stored-shape
    parquet files in a task-private staging dir. Vectorized throughout —
    pandas masks for validation, one python ``xxh64`` call per DISTINCT
    conv_id (pinned bit-identical to ``F.xxhash64``), per-bucket Arrow
    writes. Invalid rows fail the task (the runner path quarantines
    instead; a direct writer is a programmatic API, so it is strict)."""
    import uuid

    import pandas as pd

    from ..cdc.xxhash import bucket_of

    task_dir = os.path.join(root, "data", f"snap-{uuid.uuid4().hex}")
    out_schema = _stored_write_schema()
    # accumulate per bucket across Arrow batches and write ONE file per
    # bucket at task end — writing inside the batch loop would emit
    # (batches x buckets) tiny files per task (Spark hands ~10k-row
    # batches, so a 10M-row partition would shatter into thousands)
    chunks: dict[int, list] = {}
    n_rows = 0
    lsn_lo: int | None = None
    lsn_hi: int | None = None
    for batch in batches:
        df = batch.to_pandas()
        if not len(df):
            continue
        for col in ("conv_id", "turn_idx", "op", "lsn"):
            if col not in df.columns:
                raise ValueError(f"cowtable append requires column {col!r}")
        bad = (
            ~df["op"].isin(["I", "U", "D"])
            | df["conv_id"].isna() | df["lsn"].isna()
            | df["turn_idx"].isna() | (df["turn_idx"] < 0)
        )
        if bad.any():
            raise ValueError(
                f"{int(bad.sum())} invalid change rows (op not in I/U/D, "
                "null key/lsn, or negative turn_idx); route dirty feeds "
                "through CdcRunner, which quarantines instead")
        out = pd.DataFrame({
            "conv_id": df["conv_id"],
            "turn_idx": df["turn_idx"].astype("int64"),
            "role": df.get("role"),
            "text": df.get("text"),
            "tool": df.get("tool"),
            "ts": df.get("ts"),
            SYS_LSN: df["lsn"].astype("int64"),
            SYS_DELETED: (df["op"] == "D"),
        })
        bucket_map = {c: bucket_of(c, n_buckets)
                      for c in out["conv_id"].unique()}
        for b, part in out.groupby(out["conv_id"].map(bucket_map)):
            # to Arrow (and to the final schema) per part, NOT at task end:
            # concat_tables preserves chunks, so a bucket accumulating
            # >2 GiB of text across batches never has to materialize a
            # single int32-offset array (the overflow class _lww_fold
            # guards against), and Arrow buffers hold the accumulated
            # strings more compactly than pandas objects would
            chunks.setdefault(int(b), []).append(
                pa.Table.from_pandas(part, preserve_index=False)
                .select(out_schema.names).cast(out_schema))
        n_rows += len(out)
        lo, hi = int(df["lsn"].min()), int(df["lsn"].max())
        lsn_lo = lo if lsn_lo is None else min(lsn_lo, lo)
        lsn_hi = hi if lsn_hi is None else max(lsn_hi, hi)
    files: list[tuple[int, str]] = []
    if chunks:
        os.makedirs(task_dir, exist_ok=True)
    for b, parts in sorted(chunks.items()):
        tab = pa.concat_tables(parts)
        path = os.path.join(task_dir, f"b{b}-{uuid.uuid4().hex}.parquet")
        pq.write_table(tab, path, compression="zstd")
        files.append((b, path))
    return _AppendedFiles(files, n_rows, lsn_lo, lsn_hi)


def _discard_staged(messages) -> None:
    import shutil

    for m in messages:
        if m is None:
            continue
        for _, path in m.files:
            shutil.rmtree(os.path.dirname(path), ignore_errors=True)


def _commit_appended(root: str, messages, batch_id: int | None,
                     writer_id: str | None = None) -> None:
    """Driver half shared by the batch writer and the streaming sink: fold
    the successful attempts' file lists into ONE delta layer dir (same-FS
    renames, no data copy) and publish it with ``commit_delta`` — the
    same manifest protocol every engine write path uses, so readers, time
    travel, fencing, expiration, and maintenance see writer appends as
    ordinary MOR layers. A fenced (already-committed) batch id discards
    the staged files and changes nothing — UNLESS the retained snapshot
    that committed this id records a DIFFERENT writer identity, which
    means two queries collided on a batch-id namespace; that is data
    loss, so it fails loudly instead of discarding."""
    table = CowTable(root)
    if batch_id is not None and table.is_committed(batch_id):
        if writer_id is not None:
            prior = next((s for s in table.snapshots()
                          if s.get("batch_id") == batch_id), None)
            prior_writer = (prior or {}).get("summary", {}).get("writer_id")
            if prior_writer is not None and prior_writer != writer_id:
                raise RuntimeError(
                    f"batch id {batch_id} was committed by a different "
                    f"writer ({prior_writer!r}, this query is {writer_id!r})"
                    " — two streaming queries collided on a batch_id "
                    "namespace; give each its own checkpointLocation or an "
                    "explicit disjoint batch_id_base instead of discarding "
                    "this query's micro-batch as a replay")
        _discard_staged(messages)
        return
    n_rows = 0
    lsn_lo: int | None = None
    lsn_hi: int | None = None
    moved: dict[int, str] = {}
    final = table.new_data_dir()
    task_dirs: set[str] = set()
    for m in messages:
        if m is None:
            continue
        n_rows += m.n_rows
        if m.lsn_lo is not None:
            lsn_lo = m.lsn_lo if lsn_lo is None else min(lsn_lo, m.lsn_lo)
        if m.lsn_hi is not None:
            lsn_hi = m.lsn_hi if lsn_hi is None else max(lsn_hi, m.lsn_hi)
        for b, path in m.files:
            d = os.path.join(final, f"bucket={b}")
            os.makedirs(d, exist_ok=True)
            os.rename(path, os.path.join(d, os.path.basename(path)))
            moved[b] = d
            task_dirs.add(os.path.dirname(path))
    for td in task_dirs:
        try:
            os.rmdir(td)
        except OSError:
            pass  # a retried attempt's unreported files: orphan GC's job
    snap = table.current_snapshot()
    base_lo, base_hi = snap.get("lsn_lo"), snap.get("lsn_hi")
    lo = base_lo if lsn_lo is None else (
        lsn_lo if base_lo is None else min(base_lo, lsn_lo))
    hi = base_hi if lsn_hi is None else (
        lsn_hi if base_hi is None else max(base_hi, lsn_hi))
    if not moved and batch_id is None:
        os.rmdir(final)
        return  # unfenced empty append: nothing to record
    summary = {"writer": "datasource", "rows_appended": n_rows}
    if writer_id is not None:
        summary["writer_id"] = writer_id
    table.commit_delta(batch_id, moved, lo, hi, summary)


class CowTableWriter(DataSourceArrowWriter):
    """``df.write.format("cowtable").option("root", ...).mode("append")
    .save()`` — one MOR delta commit per save. Input is the CHANGE shape
    (op/lsn + payload); optional ``batch_id`` option engages snapshot-id
    fencing so a re-run of the same logical batch is a structural no-op."""

    def __init__(self, options: dict) -> None:
        self.root = _root_of(options)
        self.n_buckets = int(options.get("n_buckets", 16))
        bid = options.get("batch_id")
        self.batch_id = int(bid) if bid is not None else None
        table = CowTable(self.root, n_buckets=self.n_buckets)
        if table.current_snapshot() is None:
            table.create()
        self.n_buckets = table.n_buckets

    def write(self, iterator) -> _AppendedFiles:
        return _write_change_batches(iterator, self.root, self.n_buckets)

    def commit(self, messages) -> None:
        _commit_appended(self.root, messages, self.batch_id)

    def abort(self, messages) -> None:
        _discard_staged(messages)


class CowTableStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("cowtable")`` — the table as a native
    EXACTLY-ONCE streaming sink: Structured Streaming's epoch id becomes
    the engine's fenced batch id (offset by a per-query base), so a
    micro-batch replayed after failure/restart re-stages its files but
    its commit is a structural no-op and the files are discarded — the
    same idempotent-commit discipline the north rule demands of the
    runner, available to ANY streaming query. Each epoch appends one MOR
    delta layer.

    Batch-id namespacing: two queries writing the same table (or one
    query restarted with a FRESH checkpoint) must not collide on fenced
    ids, or the second query's batches are silently discarded as
    replays. When ``batch_id_base`` is not given explicitly, the base is
    derived from a stable hash of ``checkpointLocation`` — same
    checkpoint => same base (correct replay fencing), different
    checkpoint => disjoint base. Every commit also records a
    ``writer_id`` in the snapshot summary, and a fenced commit whose
    prior snapshot carries a DIFFERENT writer_id fails loudly instead of
    discarding (see ``_commit_appended``)."""

    def __init__(self, options: dict) -> None:
        from ..cdc.xxhash import xxh64

        self.root = _root_of(options)
        self.n_buckets = int(options.get("n_buckets", 16))
        ckpt = options.get("checkpointlocation") or options.get(
            "checkpointLocation")
        bid = options.get("batch_id_base")
        if bid is not None:
            self.base = int(bid)
            self.writer_id = f"base:{self.base}"
        elif ckpt:
            # 1e6 offset clears the runner's small-int ids; 4e6 distinct
            # bases spaced 1e9 apart keep two queries disjoint for the
            # first 1e9 epochs each, well inside int64
            h = xxh64(os.path.abspath(ckpt).encode())
            self.base = 1_000_000 + (h % 4_000_000) * 1_000_000_000
            self.writer_id = f"ckpt:{os.path.abspath(ckpt)}"
        else:
            self.base = 1_000_000
            self.writer_id = "default"
        table = CowTable(self.root, n_buckets=self.n_buckets)
        if table.current_snapshot() is None:
            table.create()
        self.n_buckets = table.n_buckets

    def write(self, iterator) -> _AppendedFiles:
        return _write_change_batches(iterator, self.root, self.n_buckets)

    def commit(self, messages, batchId: int) -> None:
        _commit_appended(self.root, messages, self.base + batchId,
                         writer_id=self.writer_id)

    def abort(self, messages, batchId: int) -> None:
        _discard_staged(messages)


class _DeltaSlice(InputPartition):
    def __init__(self, files: list[str]) -> None:
        self.files = files


class CowTableChangesDataSource(DataSource):
    """``spark.readStream.format("cowtable_changes")`` — snapshot-id-offset
    change feed (Delta CDF / Iceberg incremental-scan discipline)."""

    @classmethod
    def name(cls) -> str:
        return "cowtable_changes"

    def schema(self) -> T.StructType:
        return stored_schema()

    def streamReader(self, schema: T.StructType) -> "ChangesStreamReader":
        return ChangesStreamReader(self.options)


class ChangesStreamReader(DataSourceStreamReader):
    """Offsets are ``{"snapshot_id": N}`` (snapshot fully served) or
    ``{"snapshot_id": N, "pos": K}`` (first K delta files of snapshot N
    served) — the ``pos`` form exists so ``max_rows_per_batch`` can split
    a backfill-sized delta burst across micro-batches instead of serving
    an O(backlog) batch. Emission is Arrow record batches end to end
    (pyspark >= 4.1 accepts RecordBatch iterators from stream readers),
    so no row ever crosses a Python loop."""

    def __init__(self, options: dict) -> None:
        self.root = _root_of(options)
        self._start = options.get("start_snapshot_id")
        cap = options.get("max_rows_per_batch")
        self.max_rows = int(cap) if cap is not None else None
        # anchor for capped offset planning; None after a checkpoint
        # restart until the first trigger re-establishes it (that one
        # batch serves uncapped — documented)
        self._last_end: dict | None = None

    def _table(self) -> CowTable:
        return CowTable(self.root)

    @staticmethod
    def _delta_files(table: CowTable, s: dict, parent: dict) -> list[str]:
        """Ordered new delta files of snapshot ``s`` vs its parent."""
        parent_dirs = {
            d for ds in parent.get("delta_dirs", {}).values() for d in ds}
        snap_dirs = {
            d for ds in s.get("delta_dirs", {}).values() for d in ds}
        files: list[str] = []
        for d in sorted(snap_dirs - parent_dirs):
            files.extend(sorted(glob.glob(
                os.path.join(table.root, d, "*.parquet"))))
        return files

    def initialOffset(self) -> dict:
        if self._start is not None:
            self._last_end = {"snapshot_id": int(self._start)}
        else:
            table = self._table()
            snaps = table.snapshots()
            self._last_end = {
                "snapshot_id": snaps[0]["snapshot_id"] if snaps else 0}
        return self._last_end

    def latestOffset(self) -> dict:
        table = self._table()
        cur = table.current_snapshot()
        cur_sid = cur["snapshot_id"] if cur else 0
        if self.max_rows is None:
            return {"snapshot_id": cur_sid}
        anchor = self._last_end
        if anchor is None:
            # the runner may call latestOffset() before initialOffset():
            # anchor at the configured start. After a checkpoint restart
            # this can sit BEHIND the committed offset — the first
            # partitions() call then fast-forwards the anchor (see below),
            # so at most one empty catch-up batch is planned.
            anchor = self.initialOffset()
        lo, lo_pos = anchor["snapshot_id"], anchor.get("pos")
        budget = self.max_rows
        end = dict(anchor)
        table._load_all()
        for s in table.snapshots():
            sid = s["snapshot_id"]
            if sid < lo or sid > cur_sid:
                continue
            if sid == lo and lo_pos is None:
                continue  # fully served already
            parent = (table.snapshot_by_id(s["parent_id"])
                      if s.get("parent_id") is not None else None) or {}
            files = self._delta_files(table, s, parent)
            start_idx = lo_pos if sid == lo else 0
            n = start_idx
            for f in files[start_idx:]:
                if budget <= 0:
                    break
                budget -= pq.ParquetFile(f).metadata.num_rows
                n += 1
            end = ({"snapshot_id": sid} if n >= len(files)
                   else {"snapshot_id": sid, "pos": n})
            if budget <= 0:
                break
        self._last_end = end
        return end

    def partitions(self, start: dict, end: dict) -> list[_DeltaSlice]:
        from itertools import groupby

        lo, lo_pos = start["snapshot_id"], start.get("pos")
        hi, hi_pos = end["snapshot_id"], end.get("pos")
        table = self._table()
        table._load_all()
        if table.snapshots() and table.snapshot_by_id(lo) is None:
            # after expire_snapshots dropped the start snapshot, the
            # cumulative-delta diff below would silently re-serve retained
            # snapshots' whole histories — refuse, like read_changes_since
            raise ValueError(
                f"start offset snapshot {lo} is no longer retained "
                "(expired): the change feed cannot prove which deltas were "
                "already served — resync from a full cowtable scan and "
                "restart the stream from the current snapshot")
        slices: list[_DeltaSlice] = []
        for s in table.snapshots():
            sid = s["snapshot_id"]
            if sid < lo or sid > hi:
                continue
            if sid == lo and lo_pos is None:
                continue  # fully served by a prior batch
            if s.get("parent_id") is not None:
                parent = table.snapshot_by_id(s["parent_id"])
                if parent is None:
                    raise ValueError(
                        f"snapshot {sid}'s parent {s['parent_id']} was "
                        "expired inside the offset range: the delta diff "
                        "cannot be reconstructed — resync from a full "
                        "cowtable scan")
            else:
                parent = {}
            if s["bucket_dirs"] != parent.get("bucket_dirs", {}):
                raise ValueError(
                    f"snapshot {sid} rewrote base files "
                    f"({s.get('summary', {}).get('commit_type', 'base-rewrite')}): "
                    "the change feed cannot cross it — resync from a full "
                    "cowtable scan and restart the stream from here")
            parent_dirs = {
                d for ds in parent.get("delta_dirs", {}).values() for d in ds}
            snap_dirs = {
                d for ds in s.get("delta_dirs", {}).values() for d in ds}
            if not parent_dirs <= snap_dirs and not _is_layer_fold(
                    s, parent_dirs, snap_dirs):
                # a provable minor fold (compact_layers) is served — its
                # merged layer is the folded layers' per-key max-lsn
                # winners, an equivalent change set under this feed's LWW
                # contract; anything else that drops layers is a rollback
                raise ValueError(
                    f"snapshot {sid} removed delta layers "
                    f"({s.get('summary', {}).get('commit_type', '?')}): "
                    "the change feed cannot cross a rollback — resync")
            files = self._delta_files(table, s, parent)
            lo_idx = lo_pos if sid == lo else 0
            hi_idx = hi_pos if (sid == hi and hi_pos is not None) else len(files)
            for _, grp in groupby(files[lo_idx:hi_idx], key=os.path.dirname):
                slices.append(_DeltaSlice(list(grp)))
        # keep the capped planner's anchor aligned with what was actually
        # planned; after a checkpoint restart the committed start can be
        # AHEAD of the capped end computed from the configured start —
        # fast-forward so already-served history is never re-walked
        def _key(off: dict) -> tuple:
            return (off["snapshot_id"],
                    off["pos"] if "pos" in off else float("inf"))

        self._last_end = dict(max(start, end, key=_key))
        return slices or [_DeltaSlice([])]

    def read(self, partition: _DeltaSlice) -> Iterator[pa.RecordBatch]:
        if not partition.files:
            return
        yield from _read_stored_arrow(partition.files).to_batches()

    def commit(self, end: dict) -> None:
        pass  # offsets are snapshot ids (+file pos); nothing to reclaim


def register_data_sources(spark) -> None:
    """Idempotently register both formats on a session.

    Side effect: enables ``spark.sql.python.filterPushdown.enabled`` for
    the SESSION. This is a REQUIREMENT, not an optimization toggle:
    ``CowTableReader`` implements ``pushFilters`` (hidden-bucket pruning)
    and Spark refuses to plan any pushdown-capable Python source while
    the flag is off — a session that needs it off for another source
    cannot read cowtable at all. The flag changes planning for every
    Python data source in the session, so it is set here, at the one
    entry point that opts the session into these sources."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(CowTableDataSource)
    spark.dataSource.register(CowTableChangesDataSource)
