"""Seeded inputs for the CDC benchmark and the expected results they imply.

Everything here is a pure function of the seed: the parquet change log
(the engine's own generator), its Debezium NDJSON twin with transaction
blocks, the zipf-skewed read keys, and the oracle state the engine's
output is checked against. The engine only ever sees the written files.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import Counter, defaultdict
from dataclasses import replace
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.oracle import FINAL_COLS, replay

# Change-log shape shared by all three workloads: zipf-skewed
# conversations, updates and deletes, verbatim redeliveries (half of them
# in the next batch), out-of-order rows (2% moved to an adjacent batch),
# a few corrupt events that must be quarantined, and three schema epochs.
# Five batches of 6,000, with epochs starting at batches 0, 2 and 4: two
# of the three epochs span two batches, so redeliveries and moves cross
# batch boundaries (the generator keeps them inside their epoch;
# ``log_traffic`` counts what a log holds).
LOG_SHAPE = GeneratorConfig(
    n_events=30_000,
    batch_size=6_000,
    n_convs=900,
    zipf_a=1.1,
    update_frac=0.25,
    delete_frac=0.05,
    duplicate_frac=0.02,
    out_of_order=True,
    corrupt_frac=0.002,
    avg_text_len=120,
    schema_epoch_starts=(0.0, 0.4, 0.8),
)
# Warm-up log: the same plan shapes (every schema epoch, folds, lineage),
# one batch per epoch, on a seed the measured log never uses.
WARMUP_SHAPE = replace(LOG_SHAPE, n_events=900, batch_size=300, n_convs=30)

# Debezium transactions: TXN_EVENTS consecutive LSNs form one transaction.
# Batch files hold LOG_SHAPE.batch_size events, which TXN_EVENTS does not
# divide, so every file boundary tears a transaction; out-of-order rows
# and next-batch redeliveries tear more. Per transaction the wire dialect
# is drawn from TXN_DIALECTS: "count" carries event_count, "native" is
# Debezium's own data-event shape (id and total_order only), "none" has
# no transaction block.
TXN_EVENTS = 23
TXN_DIALECTS = (("count", 0.75), ("native", 0.125), ("none", 0.125))

TOKEN_SPLIT = re.compile("[^a-z0-9]+")


def write_log(out_dir: str, seed: int, warmup: bool = False) -> int:
    """Generate the parquet change log; returns the rows written."""
    shape = WARMUP_SHAPE if warmup else LOG_SHAPE
    meta = generate_change_log(out_dir, replace(shape, seed=seed))
    return meta.n_rows_written


def _log_files(log_dir: str) -> list[tuple[int, str]]:
    out = []
    for path in glob.glob(os.path.join(log_dir, "schema_id=*", "batch_id=*")):
        batch_id = int(path.rsplit("=", 1)[1])
        for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
            out.append((batch_id, f))
    return sorted(out)


def txn_dialects(log_dir: str, seed: int) -> tuple[dict[int, str], int]:
    """(transaction id -> wire dialect, seeded; the log's highest LSN)."""
    max_lsn = max(
        pc.max(pq.read_table(f, columns=["lsn"])["lsn"]).as_py()
        for _, f in _log_files(log_dir))
    n_txn = max_lsn // TXN_EVENTS + 1
    names = [n for n, _ in TXN_DIALECTS]
    probs = [p for _, p in TXN_DIALECTS]
    draw = np.random.default_rng(seed + 17).choice(len(names), size=n_txn, p=probs)
    return {t: names[k] for t, k in enumerate(draw)}, max_lsn


def log_traffic(log_dir: str, batch_size: int) -> dict[str, int]:
    """What the generated log actually holds: events redelivered (within
    their batch or into another one) and events moved out of their home
    batch (``lsn // batch_size``)."""
    seen: dict[int, list[int]] = defaultdict(list)
    batches = set()
    for batch_id, f in _log_files(log_dir):
        batches.add(batch_id)
        for lsn in pq.read_table(f, columns=["lsn"])["lsn"].to_pylist():
            seen[lsn].append(batch_id)
    out = Counter(rows=sum(len(b) for b in seen.values()), events=len(seen),
                  batches=len(batches))
    for lsn, where in seen.items():
        if len(where) > 1:
            out["redelivered_same_batch" if len(set(where)) == 1
                else "redelivered_other_batch"] += 1
        elif where[0] != lsn // batch_size:
            out["moved"] += 1
    return dict(out)


def write_ndjson(log_dir: str, out_dir: str, seed: int
                 ) -> tuple[int, set[int], dict[str, int]]:
    """Render the change log as Debezium envelopes, one NDJSON file per
    batch. Returns (lines written, LSNs sent in the native dialect,
    transaction traffic: transactions torn across files, and redelivered
    events of a torn transaction that arrive in a later file)."""
    os.makedirs(out_dir, exist_ok=True)
    dialect, max_lsn = txn_dialects(log_dir, seed)
    op_map = {"I": "c", "U": "u", "D": "d"}
    native: set[int] = set()
    by_batch: dict[int, list[str]] = defaultdict(list)
    txn_files: dict[int, set[int]] = defaultdict(set)
    lsn_files: dict[int, set[int]] = defaultdict(set)
    for batch_id, f in _log_files(log_dir):
        t = pq.read_table(f)
        t = t.set_column(t.schema.get_field_index("ts"), "ts",
                         t["ts"].cast(pa.int64()))
        for r in t.to_pylist():
            op = op_map.get(r["op"], r["op"].lower())
            img: dict[str, Any] = {"conv_id": r["conv_id"], "turn_idx": r["turn_idx"]}
            ts_us = r["ts"]
            if op != "d":
                img.update(role=r["role"], text=r["text"], ts_us=ts_us)
                if "tool" in r:
                    img["tool"] = r["tool"]
            env: dict[str, Any] = {
                "op": op,
                "before": img if op == "d" else None,
                "after": None if op == "d" else img,
                "source": {"lsn": r["lsn"], "ts_ms": ts_us // 1000,
                           "db": "bench", "table": "transcripts"},
                "ts_ms": ts_us // 1000,
            }
            txn = r["lsn"] // TXN_EVENTS
            kind = dialect[txn]
            if kind != "none":
                block = {"id": f"txn-{txn:08d}",
                         "total_order": r["lsn"] % TXN_EVENTS + 1}
                if kind == "count":
                    first = txn * TXN_EVENTS
                    block["event_count"] = min(TXN_EVENTS, max_lsn + 1 - first)
                else:
                    native.add(r["lsn"])
                env["transaction"] = block
                txn_files[txn].add(batch_id)
                lsn_files[r["lsn"]].add(batch_id)
            by_batch[batch_id].append(
                json.dumps(env, sort_keys=True, separators=(",", ":")))
    n = 0
    for batch_id, lines in sorted(by_batch.items()):
        with open(os.path.join(out_dir, f"batch-{batch_id:05d}.ndjson"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        n += len(lines)
    torn = {t for t, files in txn_files.items() if len(files) > 1}
    traffic = {
        "torn_txns": len(torn),
        "torn_txn_redeliveries_later_file": sum(
            1 for lsn, files in lsn_files.items()
            if len(files) > 1 and lsn // TXN_EVENTS in torn),
    }
    return n, native, traffic


def write_log_without(log_dir: str, out_dir: str, lsns: set[int]) -> None:
    """Copy of the log without the given LSNs (same layout)."""
    drop = np.fromiter(lsns, dtype="int64", count=len(lsns))
    for _, f in _log_files(log_dir):
        t = pq.read_table(f)
        keep = pc.invert(pc.is_in(t["lsn"], value_set=pa.array(drop)))
        dest = os.path.join(out_dir, os.path.relpath(f, log_dir))
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        pq.write_table(t.filter(keep), dest)


def oracle_state(log_dir: str) -> dict[tuple[str, int], dict[str, Any]]:
    """Expected final table: key -> row, from ``cdc/oracle.replay``."""
    return {(r["conv_id"], r["turn_idx"]): r for r in replay(log_dir)}


def rows_by_conv(state: dict[tuple[str, int], dict[str, Any]]
                 ) -> dict[str, list[dict[str, Any]]]:
    out: dict[str, list[dict[str, Any]]] = defaultdict(list)
    for key in sorted(state):
        out[key[0]].append(state[key])
    return out


def postings(rows: list[dict[str, Any]]) -> Counter:
    """(token, conv_id, turn_idx) -> tf, tokenized as ``cdc/index`` does."""
    out: Counter = Counter()
    for r in rows:
        if r["text"] is None:
            continue
        for tok in TOKEN_SPLIT.split(r["text"].lower()):
            if tok:
                out[(tok, r["conv_id"], r["turn_idx"])] += 1
    return out


def read_convs(seed: int, n: int) -> list[int]:
    """Conversation indexes for point reads and lookups, zipf-skewed like
    the log's write traffic."""
    k = np.arange(1, LOG_SHAPE.n_convs + 1, dtype="float64")
    w = 1.0 / np.power(k, LOG_SHAPE.zipf_a)
    rng = np.random.default_rng(seed + 31)
    return [int(i) for i in rng.choice(LOG_SHAPE.n_convs, size=n, p=w / w.sum())]


def row_key(r: dict[str, Any]) -> tuple:
    return tuple(r[c] for c in FINAL_COLS)
