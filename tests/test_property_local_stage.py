"""Driver-local and Spark stages of a MOR log batch agree.

``CdcRunner`` hands ``mor_stage_batch`` a log batch as an Arrow table
when its files fit ``LOCAL_MAX_BYTES``, and the batch is then staged on
the driver; otherwise it hands over a DataFrame and one Spark job stages
it. Setting the limit to -1 forces the Spark route on the same files, so
both routes can be compared file for file: the stored rows (``_lsn`` and
``_deleted`` included) in each bucket, the ``raw`` metrics dict and the
quarantined rows. The driver stage also counts each bucket's lineage row
as it writes; those rows must equal the Spark read-back
(``_layer_bucket_metrics``) of the same stage dir.

Batches are written here as the generator writes a log: one parquet file
per batch dir at a schema epoch (epoch 0 has no ``tool`` and an int32
``turn_idx``, epoch 2 widens it) with naive ``ts``. The session runs in a
non-UTC time zone for the whole module: Spark reads a naive log ``ts`` as
UTC micros, and a local route that read it as wall time would store
every value shifted by the zone's offset.
"""

from __future__ import annotations

import datetime as dt
import glob
import math
import os
import random
import tempfile
from unittest import mock

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from biomedica_etl_spark.cdc import table as table_mod
from biomedica_etl_spark.cdc.merge import _layer_bucket_metrics, mor_stage_batch
from biomedica_etl_spark.cdc.runner import CdcRunner

TZ = "America/Los_Angeles"
T0 = 1_700_000_000_000_000  # micros
CONVS = [f"conv-{i}" for i in range(6)]
POISONS = ("bad_op", "neg_turn", "null_conv", "null_lsn")

SETTINGS = settings(max_examples=6, deadline=None, derandomize=True,
                    suppress_health_check=[HealthCheck.too_slow])


@pytest.fixture(scope="module")
def la_spark(spark):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", TZ)
    yield spark
    spark.conf.set("spark.sql.session.timeZone", old)


@pytest.fixture(scope="module")
def workdir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("local-stage"))


def _events(draw_keys, redeliver, seed):
    """Change events with unique lsns, redelivered verbatim and shuffled
    out of lsn order. A delete carries no payload."""
    rows = []
    for lsn, (conv, turn, op, ts_null) in enumerate(draw_keys):
        lsn = lsn * 7 + 3
        rows.append({
            "lsn": lsn, "op": op, "conv_id": conv, "turn_idx": turn,
            "role": None if op == "D" else ("user", "assistant")[lsn % 2],
            "text": None if op == "D" else f"{conv}/{turn}@{lsn}",
            "tool": None if op == "D" or lsn % 3 else f"tool-{lsn % 5}",
            "ts": None if ts_null else T0 + lsn * 1_000_000})
    rows += [dict(rows[i % len(rows)]) for i in redeliver] if rows else []
    random.Random(seed).shuffle(rows)
    return rows


def _poison(kind, i):
    row = {"lsn": 10_000 + i, "op": "I", "conv_id": CONVS[i % len(CONVS)],
           "turn_idx": i, "role": "user", "text": f"poison {kind}",
           "tool": None, "ts": T0 + i}
    if kind == "bad_op":
        row["op"] = "X"
    elif kind == "neg_turn":
        row["turn_idx"] = -1 - i
    elif kind == "null_conv":
        row["conv_id"] = None
    else:
        row["lsn"] = None
    return row


def _write_batch(log, epoch, batch_id, rows):
    turn_t = pa.int64() if epoch >= 2 else pa.int32()
    fields = [("lsn", pa.int64()), ("op", pa.string()),
              ("conv_id", pa.string()), ("turn_idx", turn_t),
              ("role", pa.string()), ("text", pa.string())]
    if epoch >= 1:
        fields.append(("tool", pa.string()))
    fields.append(("ts", pa.timestamp("us")))
    schema = pa.schema(fields)
    d = os.path.join(log, f"schema_id={epoch}", f"batch_id={batch_id}")
    os.makedirs(d)
    pq.write_table(pa.Table.from_pylist(
        [{k: r[k] for k in schema.names} for r in rows], schema=schema),
        os.path.join(d, "part-00000.parquet"))


def _files(d):
    return sorted(glob.glob(os.path.join(d, "*.parquet")))


def _rows(files):
    out = [r for f in files for r in pq.read_table(f).to_pylist()]
    return sorted(out, key=repr)


def _stage_both(spark, runner, batch_id, schema_id, max_records_per_file=0):
    """Stage one batch on each route into its own staging dir and
    quarantine dir; returns the two staged records."""
    staged = {}
    for route in ("local", "spark"):
        limit = table_mod.LOCAL_MAX_BYTES if route == "local" else -1
        with mock.patch.object(table_mod, "LOCAL_MAX_BYTES", limit):
            changes = runner._changes(batch_id, schema_id)
        assert isinstance(changes, pa.Table) == (route == "local"), route
        staged[route] = mor_stage_batch(
            spark, runner.table, changes, batch_id,
            quarantine_dir=os.path.join(runner.table.root, f"q-{route}"),
            max_records_per_file=max_records_per_file)
    return staged["local"], staged["spark"]


def _assert_lineage_is_the_read_back(spark, staged):
    def by_bucket(rows):
        return sorted(rows, key=lambda r: r["partition_id"])

    assert by_bucket(staged["lineage"]) == by_bucket(_layer_bucket_metrics(
        spark, staged["stage"], staged["batch_id"]))


def _assert_routes_agree(runner, local, remote, batch_id,
                         max_records_per_file=0):
    _assert_lineage_is_the_read_back(runner.spark, local)
    assert local["batch_id"] == remote["batch_id"] == batch_id
    assert local["raw"] == remote["raw"]
    assert sorted(local["written"]) == sorted(remote["written"])
    for b in local["written"]:
        mine, theirs = _files(local["written"][b]), _files(remote["written"][b])
        got = pq.read_table(mine[0])
        # same stored shape as the Spark write: tz-aware micros included
        assert got.schema.remove_metadata().equals(
            pq.read_table(theirs[0]).schema.remove_metadata()), b
        assert _rows(mine) == _rows(theirs), b
        n = sum(pq.ParquetFile(f).metadata.num_rows for f in mine)
        if max_records_per_file:
            assert len(mine) == math.ceil(n / max_records_per_file)
            assert all(pq.ParquetFile(f).metadata.num_rows
                       <= max_records_per_file for f in mine)
        else:
            assert len(mine) == 1
        # written in (conv_id, turn_idx) order, like the Spark write sort
        keys = [(r["conv_id"], r["turn_idx"]) for f in mine
                for r in pq.read_table(f, columns=["conv_id", "turn_idx"])
                .to_pylist()]
        assert keys == sorted(keys), b
    q = [os.path.join(runner.table.root, f"q-{route}", f"batch_id={batch_id}")
         for route in ("local", "spark")]
    assert _rows(_files(q[0])) == _rows(_files(q[1]))


@given(
    keys=st.lists(st.tuples(st.sampled_from(CONVS), st.integers(0, 4),
                            st.sampled_from("IUD"), st.booleans()),
                  min_size=1, max_size=40),
    redeliver=st.lists(st.integers(0, 1_000), max_size=8),
    poisons=st.lists(st.sampled_from(POISONS), max_size=6),
    epoch=st.sampled_from([0, 1, 2]),
    max_records_per_file=st.sampled_from([0, 3]),
    seed=st.integers(0, 2**16),
)
@SETTINGS
def test_routes_stage_the_same_batch(la_spark, workdir, keys, redeliver,
                                     poisons, epoch, max_records_per_file,
                                     seed):
    d = tempfile.mkdtemp(dir=workdir)
    log = os.path.join(d, "log")
    rows = _events(keys, redeliver, seed)
    rows += [_poison(k, i) for i, k in enumerate(poisons)]
    random.Random(seed + 1).shuffle(rows)
    _write_batch(log, epoch, 0, rows)
    runner = CdcRunner(la_spark, log, os.path.join(d, "t"), n_buckets=4)
    local, remote = _stage_both(la_spark, runner, 0, epoch,
                                max_records_per_file)
    assert local["raw"]["rows_quarantined"] == len(poisons)
    _assert_routes_agree(runner, local, remote, 0, max_records_per_file)


@pytest.mark.parametrize("kind", ["all_quarantined", "empty"])
def test_routes_agree_on_degenerate_batches(la_spark, tmp_path, kind):
    """Every row poisoned (the Spark route falls back from its
    ``Observation`` to an aggregation job) and a batch with no rows."""
    log = str(tmp_path / "log")
    rows = ([_poison(k, i) for i, k in enumerate(POISONS * 2)]
            if kind == "all_quarantined" else [])
    _write_batch(log, 1, 0, rows)
    runner = CdcRunner(la_spark, log, str(tmp_path / "t"), n_buckets=4)
    local, remote = _stage_both(la_spark, runner, 0, 1)
    assert local["written"] == {} == remote["written"]
    assert local["raw"]["offsets_applied"] == len(rows)
    _assert_routes_agree(runner, local, remote, 0)


def test_routes_agree_on_a_reinjected_batch(la_spark, tmp_path):
    """A batch written back by ``reinject`` is Spark-written: tz-aware
    ``ts``, a ``_SUCCESS`` marker and checksum files beside the data."""
    log = str(tmp_path / "log")
    _write_batch(log, 2, 0, _events(
        [(c, t, "I", False) for c in CONVS[:3] for t in range(3)], [], 1))
    runner = CdcRunner(la_spark, log, str(tmp_path / "t"), n_buckets=4)
    fixed = la_spark.createDataFrame(
        [(900 + i, "U", CONVS[i % 3], i % 3, "user", f"fixed {i}", None,
          dt.datetime(2024, 3, 10, 9, 30, i)) for i in range(6)],
        "lsn long, op string, conv_id string, turn_idx long, role string, "
        "text string, tool string, ts timestamp")
    runner.reinject(fixed, batch_id=7)
    local, remote = _stage_both(la_spark, runner, 7, 2)
    assert local["raw"]["offsets_applied"] == 6
    _assert_routes_agree(runner, local, remote, 7)
