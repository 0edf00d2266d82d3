#!/usr/bin/env python3
"""CDC ingest benchmark for biomedica_etl_spark.

Run from the repository root:

    python3 perfbench/run.py --workload log-backlog-indexed --seed 1 --seconds 20 --trace 0

Each run generates its inputs from ``--seed``, starts one Spark session
sized for this host, warms the workload's plans up on a separate small
log, then drains the workload's backlog as fast as the engine can (closed
loop, one client). The apply counts as done only when every fold and
derived store is at the table head. A single-client read phase follows,
one read per second of ``--seconds`` (at least 20), so the measured
window lasts about ``--seconds`` on a 4-core host. Outputs are checked
against ``cdc/oracle.py``. The last stdout line is one JSON object; ``--trace 1``
reports per-layer figures instead of the end-to-end ones. See NOTES.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from typing import Any

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("log-backlog", "log-backlog-indexed", "debezium-txn")
CORES = len(os.sched_getaffinity(0))
DRIVER_MEM = "3g"
N_BUCKETS = 16
INDEX_SHARDS = 16
# The runner's fold and refresh triggers. The log workloads were chosen
# on a 16-batch probe with the engine's default fold threshold of 8, where
# a bucket folds twice: once mid-run and once in the end-of-run drain.
# The log here has five batches; a threshold of 3 keeps both folds.
# The index is offered a refresh after every commit, the engine's default
# (an async round still in flight makes the runner skip, so refreshes
# never queue). The three-batch warm-up log runs the same configuration
# and folds once, which compiles the fold plan before the measured window.
COMPACT_EVERY = 3
MAINTAIN_EVERY = 1
# Reads per run: READS_PER_SECOND for each second of --seconds, at least
# MIN_READS. A fixed count keeps the work, and the operation count, a
# function of the arguments alone.
MIN_READS = 20
READS_PER_SECOND = 1
N_SCANS = 3
CLK_TCK = os.sysconf("SC_CLK_TCK")

END_TO_END = {
    "events_per_s": "1/s",
    "read_p50_ms": "ms",
    "setup_s": "s",
}
PER_LAYER = {
    "merge.mor_stage_batch.busy_s": "s",
    "merge.mor_stage_batch.calls": "count",
    "merge.mor_stage_batch.p50_s": "s",
    "merge.mor_commit_staged.busy_s": "s",
    "merge.mor_commit_staged.calls": "count",
    "merge.commit_retries": "count",
    "merge.compact_layers.busy_s": "s",
    "merge.compact_layers.calls": "count",
    "merge.compact_layers.bytes_read": "bytes",
    "merge.compact_layers.bytes_written": "bytes",
    "runner.commit_wait_s": "s",
    "runner.drain_maintenance_s": "s",
    "runner.drain_derived_s": "s",
    "runner.commit_races_retried": "count",
    "runner.compactions_run": "count",
    "runner.maintenance_refreshes": "count",
    "table.commit_delta.busy_s": "s",
    "table.layers_per_bucket_p50": "count",
    "table.layers_per_bucket_max": "count",
    "table.stored_bytes": "bytes",
    "lineage.append_lineage.busy_s": "s",
    "lineage.append_lineage.calls": "count",
    "index.refresh.busy_s": "s",
    "index.refresh.calls": "count",
    "index.refresh.shards_delta": "count",
    "index.compact_shards.busy_s": "s",
    "index.lag_snapshots_max": "count",
    "envelope.ingest_debezium_txn.self_s": "s",
    "envelope.parse_debezium.isolated_s": "s",
    "envelope.txn_split.isolated_s": "s",
    "envelope.pending_rows_max": "count",
    "envelope.quarantined_rows": "count",
    "read.busy_s": "s",
    "read.p75_ms": "ms",
    "read.live_scan_s": "s",
    "proc.cpu_util": "ratio",
    "proc.peak_rss_mb": "MB",
    "host.steal_pct": "%",
    "spark.jobs": "count",
    "trace.apply_s": "s",
    "trace.overhead_s": "s",
}
# Layers each workload must reach in the traced run (the coverage guard).
LOG_LAYERS = ["runner.run", "runner.drain_maintenance", "merge.mor_stage_batch",
              "merge.mor_commit_staged", "merge.compact_layers",
              "table.commit_delta", "lineage.append_lineage"]
COVERAGE = {
    "log-backlog": LOG_LAYERS + ["table.read_conversation"],
    "log-backlog-indexed": LOG_LAYERS + ["runner.drain_derived", "index.refresh",
                                         "index.lookup"],
    "debezium-txn": ["envelope.ingest_debezium_txn", "envelope.parse_debezium",
                     "envelope.txn_split", "merge.mor_apply_batch",
                     "merge.mor_stage_batch", "merge.mor_commit_staged",
                     "table.commit_delta", "table.read_conversation"],
}


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def configure_env(work: str) -> None:
    """Session sizing and scratch placement; must run before the JVM
    starts. Inputs, tables and Spark's scratch stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        # session.py defaults to a 48g driver, more than this host's RAM
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # the Python workers that run mapInArrow folds import the package
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
    })
    time.tzset()
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


# --- process and host counters ---------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def process_tree(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                parent[int(name)] = int(st[1])
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def cpu_seconds(pids: list[int]) -> float:
    """User+system CPU of the given processes and their reaped children."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15])
    return total / CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def steal_ticks() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


class Window:
    """CPU, steal and Spark job counts over one measured interval."""

    def __init__(self, spark: Any, jvm_pid: int) -> None:
        self.spark, self.jvm_pid = spark, jvm_pid
        self.t0, self.cpu0 = time.perf_counter(), self._cpu()
        self.steal0, self.jobs0 = steal_ticks(), self._jobs()

    def _cpu(self) -> float:
        return cpu_seconds(process_tree(self.jvm_pid)) + sum(os.times()[:2])

    def _jobs(self) -> int:
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup()
        return max(ids, default=-1)

    def close(self) -> dict[str, float]:
        wall = time.perf_counter() - self.t0
        return {
            "proc.cpu_util": (self._cpu() - self.cpu0) / (wall * CORES),
            "host.steal_pct": 100.0 * (steal_ticks() - self.steal0)
            / (wall * CLK_TCK * (os.cpu_count() or CORES)),
            "spark.jobs": self._jobs() - self.jobs0,
        }


# --- session -----------------------------------------------------------------

def start_session(work: str) -> tuple[Any, int]:
    from pyspark import SparkContext

    from biomedica_etl_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cores=CORES, extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse")})
    return spark, SparkContext._gateway.proc.pid


def stop_session(spark: Any) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (the Python worker daemon and its workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = process_tree(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a hung JVM must not outlive the run
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in tree[1:]:
        while _stat(pid) is not None and time.time() < deadline:
            time.sleep(0.05)
        if _stat(pid) is not None:
            os.kill(pid, 9)


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the JVM, its Python workers and this
    driver, each process's own high-water mark summed."""
    return sum(vm_hwm_mb(p) for p in process_tree(jvm_pid)) + vm_hwm_mb(os.getpid())


# --- workloads ---------------------------------------------------------------

class Workload:
    """One workload's inputs, apply, reads and output checks."""

    def __init__(self, name: str, seed: int, seconds: int, work: str) -> None:
        import inputs

        self.name, self.seed, self.work = name, seed, work
        self.indexed = name == "log-backlog-indexed"
        self.envelope = name == "debezium-txn"
        self.log = os.path.join(work, "log")
        self.warm_log = os.path.join(work, "log-warm")
        self.n_input = inputs.write_log(self.log, seed)
        inputs.write_log(self.warm_log, seed + 1_000_003, warmup=True)
        self.traffic = inputs.log_traffic(self.log, inputs.LOG_SHAPE.batch_size)
        self.known_defects: set[tuple[str, int]] = set()
        self.predicted: dict[str, list[dict]] = {}
        if self.envelope:
            self.ndjson = os.path.join(work, "ndjson")
            self.warm_ndjson = os.path.join(work, "ndjson-warm")
            self.n_input, native, txn_traffic = inputs.write_ndjson(
                self.log, self.ndjson, seed)
            self.traffic.update(txn_traffic, native_lsns=len(native))
            inputs.write_ndjson(self.warm_log, self.warm_ndjson, seed + 1)
            # the native dialect has no event_count, which txn_split
            # drops (ROADMAP known defect): predict the state it yields
            self.predicted_log = os.path.join(work, "log-without-native")
            inputs.write_log_without(self.log, self.predicted_log, native)
            self.predicted_state = inputs.oracle_state(self.predicted_log)
            predicted = self.predicted_state
        self.state = inputs.oracle_state(self.log)
        self.by_conv = inputs.rows_by_conv(self.state)
        if self.envelope:
            self.known_defects = {
                k for k in set(self.state) | set(predicted)
                if self.state.get(k) != predicted.get(k)}
            self.predicted = inputs.rows_by_conv(predicted)
        convs = inputs.read_convs(seed, max(MIN_READS, READS_PER_SECOND * seconds))
        if self.indexed:
            self.read_items = [f"c{i:06d}" for i in convs]
            want = set(self.read_items)
            posts = inputs.postings(list(self.state.values()))
            self.expected_posts: dict[str, set] = {t: set() for t in want}
            for (tok, conv, turn), tf in posts.items():
                if tok in want:
                    self.expected_posts[tok].add((tok, conv, turn, tf))
        else:
            self.read_items = [f"conv-{i:06d}" for i in convs]
        self.ops = 0
        self.failed = 0
        self.unexpected: list[str] = []

    # apply ---------------------------------------------------------------

    def apply(self, spark: Any, tag: str, warm: bool = False) -> tuple[Any, float]:
        """Drain the backlog into a fresh table; returns (handle, seconds)."""
        root = os.path.join(self.work, f"table-{tag}")
        if self.envelope:
            from biomedica_etl_spark.cdc import envelope

            src = self.warm_ndjson if warm else self.ndjson
            t0 = time.perf_counter()
            table = envelope.ingest_debezium_txn(spark, src, root,
                                                 n_buckets=N_BUCKETS)
            return table, time.perf_counter() - t0
        from biomedica_etl_spark.cdc.index import TokenIndex
        from biomedica_etl_spark.cdc.runner import CdcRunner

        idx = (TokenIndex(os.path.join(self.work, f"index-{tag}"),
                          n_shards=INDEX_SHARDS) if self.indexed else None)
        runner = CdcRunner(
            spark, self.warm_log if warm else self.log, root,
            n_buckets=N_BUCKETS, mode="mor", pipeline_depth=2,
            async_lineage=True, compact_mode="minor",
            compact_every=COMPACT_EVERY, async_compact=True,
            fold_tier_bytes=-1, shuffle_salts=4,
            maintain=[idx] if idx else None, maintain_every=MAINTAIN_EVERY,
            async_maintain=True)
        t0 = time.perf_counter()
        applied = runner.run().batches_applied
        seconds = time.perf_counter() - t0
        runner.index, runner.applied = idx, applied
        return runner, seconds

    @staticmethod
    def table_of(handle: Any) -> Any:
        return getattr(handle, "table", handle)

    def layout(self, handle: Any) -> dict[str, int]:
        """Folds and refreshes run, and the delta layers the reads must
        merge: async maintenance makes them depend on timing, so every
        run records them."""
        table = self.table_of(handle)
        table.refresh()
        out = {"table_layers_max": table.max_delta_layers(),
               "compactions_run": getattr(handle, "compactions_run", 0),
               "maintenance_refreshes": getattr(handle, "maintenance_refreshes", 0),
               # batches the runner reports applied that no snapshot of
               # the chain holds: a commit lost to a concurrent writer
               "lost_batches": sorted(set(getattr(handle, "applied", []))
                                      - table.committed_batch_ids())}
        if self.indexed:
            out["index_layers_max"] = max(
                (len(v) for v in handle.index.shard_layers().values()), default=0)
        return out

    # reads ---------------------------------------------------------------

    def read(self, spark: Any, handle: Any, item: str) -> list:
        if self.indexed:
            return handle.index.lookup(spark, [item]).collect()
        return self.table_of(handle).read_conversation(spark, item).collect()

    def read_phase(self, spark: Any, handle: Any,
                   limit: int | None = None) -> tuple[list[float], list]:
        lat, results = [], []
        for item in self.read_items[:limit]:
            t0 = time.perf_counter()
            rows = self.read(spark, handle, item)
            lat.append(time.perf_counter() - t0)
            results.append((item, rows))
        return lat, results

    def live_scan(self, spark: Any, handle: Any) -> float:
        t0 = time.perf_counter()
        self.table_of(handle).read(spark).write.format("noop").mode(
            "overwrite").save()
        return time.perf_counter() - t0

    # checks --------------------------------------------------------------

    def _fail(self, what: str, known: bool) -> None:
        self.failed += 1
        if not known:
            self.unexpected.append(what)

    def check_reads(self, results: list) -> None:
        import inputs

        for item, rows in results:
            self.ops += 1
            if self.indexed:
                got = {(r.token, r.conv_id, r.turn_idx, r.tf) for r in rows}
                if got != self.expected_posts[item]:
                    self._fail(f"lookup {item}", False)
                continue
            got = [inputs.row_key(r.asDict()) for r in rows]
            if got != [inputs.row_key(r) for r in self.by_conv.get(item, [])]:
                known = got == [inputs.row_key(r)
                                for r in self.predicted.get(item, [])]
                self._fail(f"read {item}", known and self.envelope)

    def check_table(self, spark: Any, handle: Any) -> None:
        """Every oracle key is one operation; it fails if its final row
        differs from ``oracle.spark_replay`` in either direction. On
        ``debezium-txn`` a failed key counts as the known defect only if
        the engine's rows for it are exactly the predicted ones (the
        replay of the log without the native-dialect events)."""
        import inputs
        from biomedica_etl_spark.cdc.oracle import FINAL_COLS, spark_replay

        table = self.table_of(handle)
        table.refresh()
        want = spark_replay(spark, self.log).select(*FINAL_COLS)
        # the live table is read once and shared by every check
        got = table.read(spark).select(*FINAL_COLS).persist()
        try:
            diff = want.exceptAll(got).union(got.exceptAll(want)).select(
                "conv_id", "turn_idx").distinct().collect()
            bad = {(r.conv_id, r.turn_idx) for r in diff}
            engine_rows: dict[tuple[str, int], list] = {}
            if self.envelope and bad:
                for r in got.collect():
                    key = (r.conv_id, r.turn_idx)
                    if key in bad:
                        engine_rows.setdefault(key, []).append(
                            inputs.row_key(r.asDict()))
            if self.indexed:
                self.check_index(spark, handle, got)
        finally:
            got.unpersist()
        self.ops += len(set(self.state) | bad)
        for key in sorted(bad):
            predicted = self.predicted_state.get(key) if self.envelope else None
            as_predicted = engine_rows.get(key, []) == (
                [inputs.row_key(predicted)] if predicted else [])
            self._fail(f"key {key}", key in self.known_defects and as_predicted)

    def check_index(self, spark: Any, runner: Any, live: Any) -> None:
        """Postings equal ``postings_of`` over the live table, per key, and
        the index cursor is at the table head."""
        from biomedica_etl_spark.cdc.index import postings_of

        idx, table = runner.index, runner.table
        cols = ["token", "conv_id", "turn_idx", "tf"]
        want = postings_of(live, idx.n_shards).select(*cols)
        got = idx.read(spark).select(*cols)
        diff = want.exceptAll(got).union(got.exceptAll(want)).select(
            "conv_id", "turn_idx").distinct().collect()
        self.ops += len(self.state) + 1
        for r in diff:
            self._fail(f"postings {(r.conv_id, r.turn_idx)}", False)
        if idx.cursor() != table.current_snapshot()["snapshot_id"]:
            self._fail("index cursor behind table head", False)


# --- per-layer figures (traced run) ------------------------------------------

def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f))
                     for f in files if f.endswith(".parquet"))
    return total


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    total = 0
    for base, _, files in os.walk(path):
        total += sum(pq.ParquetFile(os.path.join(base, f)).metadata.num_rows
                     for f in files if f.endswith(".parquet"))
    return total


def install_tracer(tr: Any) -> None:
    from biomedica_etl_spark.cdc import envelope, index, lineage, merge, runner, table

    def fold_bytes(snap: Any, _pre: Any, _spark: Any, tbl: Any, *a: Any, **k: Any) -> None:
        if snap:
            s = snap.get("summary", {})
            tr.note("fold.bytes_read", sum(
                _dir_bytes(os.path.join(tbl.root, d)) for d in s.get("folded_dirs", [])))
            tr.note("fold.bytes_written", sum(
                _dir_bytes(os.path.join(tbl.root, d)) for d in s.get("merged_dirs", [])))

    def index_lag(idx: Any, _spark: Any, tbl: Any) -> None:
        head = (tbl.current_snapshot() or {}).get("snapshot_id", 0)
        tr.note("index.lag", head - (idx.cursor() or 0))

    def shards_delta(res: Any, *_: Any, **__: Any) -> None:
        tr.note("index.shards_delta", (res or {}).get("shards_delta", 0))

    def commit_batch(_spark: Any, _tbl: Any, staged: Any, *a: Any, **k: Any) -> None:
        tr.note("commit.batch", staged["batch_id"])

    tr.patch("runner.run", runner.CdcRunner, "run")
    tr.patch("runner.drain_maintenance", runner.CdcRunner, "drain_maintenance")
    tr.patch("runner.drain_derived", runner.CdcRunner, "drain_derived")
    tr.patch("merge.mor_stage_batch", merge, "mor_stage_batch", runner)
    tr.patch("merge.mor_commit_staged", merge, "mor_commit_staged", runner,
             before=commit_batch)
    tr.patch("merge.mor_apply_batch", merge, "mor_apply_batch", runner)
    tr.patch("merge.compact_layers", merge, "compact_layers", runner,
             after=fold_bytes)
    tr.patch("table.commit_delta", table.CowTable, "commit_delta")
    tr.patch("table.read_conversation", table.CowTable, "read_conversation")
    tr.patch("lineage.append_lineage", lineage, "append_lineage", merge, runner)
    tr.patch("index.refresh", index.TokenIndex, "refresh", before=index_lag,
             after=shards_delta)
    tr.patch("index.compact_shards", index.TokenIndex, "compact_shards")
    tr.patch("index.lookup", index.TokenIndex, "lookup")
    tr.patch("envelope.ingest_debezium_txn", envelope, "ingest_debezium_txn")
    tr.patch("envelope.parse_debezium", envelope, "parse_debezium")
    tr.patch("envelope.txn_split", envelope, "txn_split")


def envelope_isolated(spark: Any, wl: Workload) -> tuple[float, float]:
    """Force the lazy parse and transaction split on one file each, with
    Spark's noop sink, so their cost is seen apart from the apply."""
    from biomedica_etl_spark.cdc import envelope

    files = sorted(os.listdir(wl.ndjson))
    lines = spark.read.text(os.path.join(wl.ndjson, files[len(files) // 2]))
    t0 = time.perf_counter()
    envelope.parse_debezium(lines, with_transaction=True).write.format(
        "noop").mode("overwrite").save()
    parse_s = time.perf_counter() - t0
    ev = envelope.parse_debezium(lines, with_transaction=True).persist()
    try:
        ev.count()
        t0 = time.perf_counter()
        for part in envelope.txn_split(ev, None):
            part.write.format("noop").mode("overwrite").save()
        split_s = time.perf_counter() - t0
    finally:
        ev.unpersist()
    return parse_s, split_s


def layer_figures(tr: Any, wl: Workload, handle: Any) -> dict[str, float]:
    table = wl.table_of(handle)
    table.refresh()
    snap = table.current_snapshot() or {}
    layers = []
    stored = 0
    for b in range(table.n_buckets):
        base = snap.get("bucket_dirs", {}).get(str(b)) or []
        dirs = (base if isinstance(base, list) else [base]) + list(
            snap.get("delta_dirs", {}).get(str(b), []))
        layers.append(len(dirs))
        stored += sum(_dir_bytes(os.path.join(table.root, d)) for d in dirs)
    notes = tr.notes
    out = {
        "merge.mor_stage_batch.busy_s": tr.busy_s("merge.mor_stage_batch"),
        "merge.mor_stage_batch.calls": tr.calls("merge.mor_stage_batch"),
        "merge.mor_stage_batch.p50_s": tr.p50_s("merge.mor_stage_batch"),
        "merge.mor_commit_staged.busy_s": tr.busy_s("merge.mor_commit_staged"),
        "merge.mor_commit_staged.calls": tr.calls("merge.mor_commit_staged"),
        "merge.commit_retries": len(notes.get("commit.batch", []))
        - len(set(notes.get("commit.batch", []))),
        "merge.compact_layers.busy_s": tr.busy_s("merge.compact_layers"),
        "merge.compact_layers.calls": tr.calls("merge.compact_layers"),
        "merge.compact_layers.bytes_read": sum(notes.get("fold.bytes_read", [])),
        "merge.compact_layers.bytes_written": sum(notes.get("fold.bytes_written", [])),
        "runner.commit_wait_s": tr.self_s("runner.run"),
        "runner.drain_maintenance_s": tr.busy_s("runner.drain_maintenance"),
        "runner.drain_derived_s": tr.busy_s("runner.drain_derived"),
        "runner.commit_races_retried": getattr(handle, "commit_races_retried", 0),
        "runner.compactions_run": getattr(handle, "compactions_run", 0),
        "runner.maintenance_refreshes": getattr(handle, "maintenance_refreshes", 0),
        "table.commit_delta.busy_s": tr.busy_s("table.commit_delta"),
        "table.layers_per_bucket_p50": statistics.median(layers),
        "table.layers_per_bucket_max": max(layers),
        "table.stored_bytes": stored,
        "lineage.append_lineage.busy_s": tr.busy_s("lineage.append_lineage"),
        "lineage.append_lineage.calls": tr.calls("lineage.append_lineage"),
        "index.refresh.busy_s": tr.busy_s("index.refresh"),
        "index.refresh.calls": tr.calls("index.refresh"),
        "index.refresh.shards_delta": sum(notes.get("index.shards_delta", [])),
        "index.compact_shards.busy_s": tr.busy_s("index.compact_shards"),
        "index.lag_snapshots_max": max(notes.get("index.lag", []), default=0),
        "envelope.ingest_debezium_txn.self_s": tr.self_s("envelope.ingest_debezium_txn"),
        "envelope.pending_rows_max": 0,
        "envelope.quarantined_rows": _parquet_rows(os.path.join(table.root, "_quarantine")),
    }
    if wl.envelope:
        pending = os.path.join(table.root, "_txn_pending")
        out["envelope.pending_rows_max"] = max(
            (_parquet_rows(os.path.join(pending, d)) for d in os.listdir(pending)
             if d.startswith("pending-") and "." not in d), default=0)
    return out


def code_version() -> str:
    """Digest of the engine and benchmark sources, so records of runs of
    other code are told apart (the checkout need not be a git repo)."""
    h = hashlib.sha256()
    for pkg in ("biomedica_etl_spark", "perfbench"):
        for base, dirs, files in sorted(os.walk(os.path.join(ROOT, pkg))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(base, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def untraced_apply_s(workload: str, seed: int, code: str) -> float | None:
    """Median apply wall of the untraced runs of this workload and seed
    recorded for this code version; None when there are none."""
    walls = []
    try:
        with open(os.path.join(STATE, "runs.jsonl")) as fh:
            for line in fh:
                r = json.loads(line)
                if (r["workload"], r["seed"], r.get("code"), r["trace"]) == (
                        workload, seed, code, 0):
                    walls.append(r["apply_s"])
    except (OSError, ValueError, KeyError):
        pass
    return statistics.median(walls) if walls else None


# --- run ---------------------------------------------------------------------

def run(args: argparse.Namespace, work: str) -> dict[str, Any]:
    from concurrent.futures import ThreadPoolExecutor

    import inputs  # noqa: F401 - imported once, before two threads need it
    from pyspark.sql import SparkSession  # noqa: F401

    code = code_version()
    # the inputs are generated while the JVM starts; set-up is the
    # session start plus the warm-up, without the input generation
    with ThreadPoolExecutor(max_workers=1) as pool:
        prep = pool.submit(Workload, args.workload, args.seed, args.seconds, work)
        t_setup = time.perf_counter()
        spark, jvm_pid = start_session(work)
        session_s = time.perf_counter() - t_setup
    record: dict[str, Any] = {}
    try:
        wl = prep.result()
        t_warm = time.perf_counter()
        warm, warm_apply_s = wl.apply(spark, "warm", warm=True)
        wl.read_phase(spark, warm, limit=3)
        wl.live_scan(spark, warm)
        setup_s = session_s + time.perf_counter() - t_warm

        tr = None
        if args.trace:
            from spans import Tracer

            tr = Tracer()
            install_tracer(tr)
        win = Window(spark, jvm_pid)
        handle, apply_s = wl.apply(spark, "measured")
        counters = win.close()
        layout = wl.layout(handle)
        t_reads = time.perf_counter()
        lat, results = wl.read_phase(spark, handle)
        read_busy = time.perf_counter() - t_reads
        scans = [wl.live_scan(spark, handle) for _ in range(N_SCANS)]
        iso = envelope_isolated(spark, wl) if (tr and wl.envelope) else (0.0, 0.0)
        rss = peak_rss_mb(jvm_pid)

        t_chk = time.perf_counter()
        wl.check_reads(results)
        wl.check_table(spark, handle)
        check_s = time.perf_counter() - t_chk
        if tr is not None:
            tr.unpatch()
            figures = layer_figures(tr, wl, handle)
            figures.update(counters)
            figures["envelope.parse_debezium.isolated_s"] = iso[0]
            figures["envelope.txn_split.isolated_s"] = iso[1]
            figures["read.busy_s"] = read_busy
            figures["read.p75_ms"] = 1000 * statistics.quantiles(lat, n=4)[-1]
            figures["read.live_scan_s"] = statistics.median(scans)
            figures["proc.peak_rss_mb"] = rss
            figures["trace.apply_s"] = apply_s
            # 0 when no untraced run of this code and seed is recorded
            base = untraced_apply_s(args.workload, args.seed, code)
            figures["trace.overhead_s"] = 0.0 if base is None else apply_s - base
            tr.dump(os.path.join(STATE, f"spans-{args.workload}-seed{args.seed}.json"))
            missing = [n for n in COVERAGE[args.workload] if tr.calls(n) == 0]
            if missing:
                raise RuntimeError(f"coverage guard: no calls reached {missing}")
            metrics = {k: (figures[k], u) for k, u in PER_LAYER.items()}
        else:
            values = {
                "events_per_s": wl.n_input / apply_s,
                "read_p50_ms": 1000 * statistics.median(lat),
                "setup_s": setup_s,
            }
            metrics = {k: (values[k], u) for k, u in END_TO_END.items()}
        record.update({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "code": code, "traffic": wl.traffic, **layout,
            "started_at": time.time() - (time.perf_counter() - T_START),
            "reads": len(lat), "apply_s": apply_s, **counters,
            "latencies": lat, "session_s": session_s, "warm_apply_s": warm_apply_s,
            "prep_wait_s": t_warm - t_setup - session_s, "read_s": read_busy, "check_s": check_s, "scan_s": scans,
            "peak_rss_mb": rss, "ops": wl.ops, "failed": wl.failed,
            "known_defect_keys": len(wl.known_defects),
        })
    finally:
        record["t_stop"] = time.perf_counter()
        stop_session(spark)
    return {"metrics": metrics, "wl": wl, "record": record}


def main() -> int:
    args = parse_args()
    # a terminated run still stops Spark and removes its scratch (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "biomedica_etl_spark", "__init__.py")):
        print(f"perfbench: no biomedica_etl_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2
    os.makedirs(STATE, exist_ok=True)
    work = tempfile.mkdtemp(prefix="work-", dir=STATE)
    try:
        configure_env(work)
        out = run(args, work)
        out["record"]["stop_s"] = time.perf_counter() - out["record"].pop("t_stop")
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wl, record = out["wl"], out["record"]
    with open(os.path.join(STATE, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps({**record, "metrics": {
            k: v for k, (v, _) in out["metrics"].items()}}) + "\n")
    record["total_s"] = time.perf_counter() - T_START
    record.pop("latencies")
    print(json.dumps(record), file=sys.stderr)
    for name, (value, unit) in out["metrics"].items():
        print(f"{name:40s} {value:>16.6g} {unit}")
    if wl.unexpected:
        print("unexpected failures: " + "; ".join(wl.unexpected[:20]), file=sys.stderr)
    if record["lost_batches"]:
        print(f"batches {record['lost_batches']} were reported applied but are "
              "missing from the snapshot chain", file=sys.stderr)
    print(json.dumps({
        "correct": not wl.unexpected,
        "attempted": wl.ops,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
