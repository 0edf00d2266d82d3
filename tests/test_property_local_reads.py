"""Driver-local and Spark routes of point reads and term lookups agree.

``CowTable.read_conversation`` and ``TokenIndex.lookup`` answer a read
set of at most ``LOCAL_MAX_BYTES`` on the driver in Arrow, and a larger
one with a Spark plan. Setting the limit to -1 forces the Spark route on
the same files, so both routes can be compared row for row; every local
read is also compared with a Python replay of the rows written.

Tables and indexes are written here as the engine stores them (one
parquet file per bucket or shard dir, committed through the table's own
manifest calls), so each example costs no Spark job to build. The
session runs in a non-UTC time zone for the whole module: a driver-local
result that handed Spark a naive timestamp would come back shifted by
the zone's offset, and the ``ts`` comparison catches it.
"""

from __future__ import annotations

import os
import random
import tempfile
import uuid
from unittest import mock

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from biomedica_etl_spark.cdc import table as table_mod
from biomedica_etl_spark.cdc.index import TokenIndex, shard_of
from biomedica_etl_spark.cdc.table import CowTable
from biomedica_etl_spark.cdc.xxhash import bucket_of

TZ = "America/Los_Angeles"
T0 = 1_700_000_000_000_000  # micros

_STORED = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int64()),
    ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("_lsn", pa.int64()), ("_deleted", pa.bool_())])
# a delta written before the schema evolved: no ``tool``, int32 turn_idx
_EPOCH0 = pa.schema([f if f.name != "turn_idx" else
                     pa.field("turn_idx", pa.int32())
                     for f in _STORED if f.name != "tool"])
_POSTING = pa.schema([
    ("token", pa.string()), ("conv_id", pa.string()),
    ("turn_idx", pa.int64()), ("tf", pa.int64()), ("seq", pa.int64())])

SETTINGS = settings(max_examples=6, deadline=None, derandomize=True,
                    suppress_health_check=[HealthCheck.too_slow])


@pytest.fixture(scope="module")
def workdir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("local-reads"))


@pytest.fixture(scope="module")
def la_spark(spark):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", TZ)
    yield spark
    spark.conf.set("spark.sql.session.timeZone", old)


def _routes(fn):
    """``fn()`` collected on the local route, then on the Spark route."""
    local = fn().collect()
    with mock.patch.object(table_mod, "LOCAL_MAX_BYTES", -1):
        remote = fn().collect()
    return local, remote


def _micros(dt) -> int:
    return round(dt.timestamp() * 1_000_000)


# --------------------------------------------------------------- tables

def _lww(rows):
    """Per-key newest-lsn winner, tombstones kept."""
    win = {}
    for r in rows:
        k = (r["conv_id"], r["turn_idx"])
        if k not in win or r["_lsn"] >= win[k]["_lsn"]:
            win[k] = r
    return list(win.values())


def _write_dirs(root, rows, n_buckets, schema=_STORED):
    """One parquet file per bucket under a fresh data dir."""
    d = os.path.join(root, "data", f"snap-{uuid.uuid4().hex}")
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(bucket_of(r["conv_id"], n_buckets), []).append(r)
    out = {}
    for b, rs in by_bucket.items():
        path = os.path.join(d, f"_bucket={b}")
        os.makedirs(path)
        cols = {n: [r[n] for r in rs] for n in schema.names}
        pq.write_table(pa.table(cols, schema=schema),
                       os.path.join(path, "part-00000.parquet"))
        out[b] = path
    return out


@st.composite
def _histories(draw):
    """Commits of random rows: redeliveries (an identical copy of an
    earlier row in a later commit), tombstones, out-of-order lsns, an
    optional pre-evolution delta, a staged last commit and a rebucket."""
    rnd = draw(st.randoms(use_true_random=False))
    n_commits = draw(st.integers(2, 5))
    commits, seen = [], []
    lsns = rnd.sample(range(10_000), 40 * n_commits)
    for c in range(n_commits):
        rows = []
        for _ in range(draw(st.integers(0, 14))):
            if seen and rnd.random() < 0.15:
                rows.append(dict(rnd.choice(seen)))  # redelivery
                continue
            rows.append({
                "conv_id": f"conv-{rnd.randrange(8)}",
                "turn_idx": rnd.randrange(5),
                "role": rnd.choice(["user", "assistant"]),
                "text": rnd.choice(["hi", "yo there", None, "x" * 30]),
                "tool": rnd.choice([None, "search"]),
                "ts": T0 + rnd.randrange(10**12),
                "_lsn": lsns.pop(),
                "_deleted": rnd.random() < 0.25,
            })
        seen.extend(rows)
        commits.append(rows)
    return {
        "commits": commits,
        "n_buckets": draw(st.sampled_from([1, 2, 4])),
        "epoch0": draw(st.integers(-1, n_commits - 1)),
        "staged": draw(st.booleans()),
        "rebucket": draw(st.booleans()),
    }


def _build(root, h):
    """Write a history: commit 0 is the (resolved) base, later commits are
    delta layers; returns (table, {snapshot id or "staged": rows seen})."""
    t = CowTable(root, n_buckets=h["n_buckets"])
    t.create()
    views, rows = {}, []
    last = len(h["commits"]) - 1
    for i, commit in enumerate(h["commits"]):
        staged = h["staged"] and i == last and i > 0
        layer = _lww(commit)
        if i == 0:
            snap = t.commit(i, _write_dirs(root, layer, h["n_buckets"]),
                            None, None)
        else:
            if i == h["epoch0"]:
                # that epoch had no tool column, so no row in it has one
                layer = [r for r in layer if r["tool"] is None]
                dirs = _write_dirs(root, layer, h["n_buckets"], _EPOCH0)
            else:
                dirs = _write_dirs(root, layer, h["n_buckets"])
            snap = t.commit_delta(i, dirs, None, None, staged=staged)
        if staged:
            views["staged"] = rows + layer
        else:
            rows = rows + layer
            views[snap["snapshot_id"]] = list(rows)
    if h["rebucket"]:
        live = [r for r in _lww(rows) if not r["_deleted"]]
        n = h["n_buckets"] * 2
        snap = t.commit_rebucket(_write_dirs(root, live, n), n, None, None)
        views[snap["snapshot_id"]] = list(rows)
        views.pop("staged", None)  # the head moved on: stale, reads absent
    return t, views


def _expected(rows, conv):
    live = [r for r in _lww(rows) if r["conv_id"] == conv
            and not r["_deleted"]]
    return [(r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"],
             r["ts"]) for r in sorted(live, key=lambda r: r["turn_idx"])]


@SETTINGS
@given(h=_histories())
def test_point_read_routes_agree(la_spark, workdir, h):
    root = tempfile.mkdtemp(dir=workdir)
    t, views = _build(root, h)
    rnd = random.Random(len(views))
    head = max(k for k in views if k != "staged")
    older = rnd.choice([k for k in views if k != "staged"])
    targets = [(None, views[head]), (older, views[older])]
    if "staged" in views:
        targets.append(("staged", views["staged"]))
    convs = rnd.sample([f"conv-{i}" for i in range(8)], 2) + ["conv-absent"]
    for snap_id, rows in targets:
        for conv in convs:
            if conv == convs[0]:  # one conversation per view on both routes
                local, remote = _routes(
                    lambda: t.read_conversation(la_spark, conv, snap_id))
                assert local == remote, (snap_id, conv)
            else:
                local = t.read_conversation(la_spark, conv, snap_id).collect()
            got = [(r["conv_id"], r["turn_idx"], r["role"], r["text"],
                    r["tool"], _micros(r["ts"])) for r in local]
            assert got == _expected(rows, conv), (snap_id, conv)


# -------------------------------------------------------------- lookups

@st.composite
def _indexes(draw):
    """Per shard: absent, an empty layer, one base layer, or 1-3 delta
    layers (over a base or not) whose rows include tf = 0 retractions,
    and same-seq retraction plus re-addition of one (token, key)."""
    rnd = draw(st.randoms(use_true_random=False))
    n_shards = draw(st.integers(1, 4))
    vocab = [f"tok{i}" for i in range(10)]
    kinds = {s: draw(st.sampled_from(["absent", "empty", "base", "layered"]))
             for s in range(n_shards)}
    shards: dict[int, list[tuple[bool, list[dict]]]] = {}
    for s, kind in kinds.items():
        mine = [tk for tk in vocab if shard_of(tk, n_shards) == s]
        if kind == "absent":
            continue
        if kind == "empty" or not mine:
            shards[s] = [(False, [])]
            continue

        def post(tk, seq, tf=None):
            return {"token": tk, "conv_id": f"conv-{rnd.randrange(4)}",
                    "turn_idx": rnd.randrange(3),
                    "tf": rnd.randrange(1, 4) if tf is None else tf,
                    "seq": seq}
        if kind == "base":
            base = {}
            for _ in range(rnd.randrange(1, 12)):
                p = post(rnd.choice(mine), 0)
                base[(p["token"], p["conv_id"], p["turn_idx"])] = p
            shards[s] = [(True, list(base.values()))]
            continue
        layers = []
        if rnd.random() < 0.5:  # bootstrap base under the deltas
            base = {}
            for _ in range(rnd.randrange(1, 8)):
                p = post(rnd.choice(mine), 0)
                base[(p["token"], p["conv_id"], p["turn_idx"])] = p
            layers.append((True, list(base.values())))
        for seq in range(1, rnd.randrange(2, 5)):
            rows = [post(rnd.choice(mine), seq,
                         0 if rnd.random() < 0.3 else None)
                    for _ in range(rnd.randrange(0, 10))]
            if rows and rnd.random() < 0.6:
                # same-seq retraction and re-addition: the addition wins
                r = dict(rows[0], tf=0)
                pair = [r, dict(r, tf=2)]
                rnd.shuffle(pair)  # file order must not decide it
                rows.extend(pair)
            layers.append((False, rows))
        shards[s] = layers
    query = rnd.sample(vocab, rnd.randrange(1, 4)) + ["tokabsent"]
    return n_shards, shards, query


def _write_index(root, n_shards, shards):
    idx = TokenIndex(root, n_shards=n_shards)
    entries = {}
    for s, layers in shards.items():
        for base, rows in layers:
            rel = f"d-{uuid.uuid4().hex}/shard={s}"
            os.makedirs(os.path.join(root, rel))
            cols = {n: [r[n] for r in rows] for n in _POSTING.names}
            pq.write_table(pa.table(cols, schema=_POSTING),
                           os.path.join(root, rel, "part-00000.parquet"))
            entries.setdefault(s, []).append({"p": rel, "base": base})
    idx._flip(0, entries, seq=3)
    return idx


def _expected_postings(shards, query):
    win = {}
    for layers in shards.values():
        for _, rows in layers:
            for r in rows:
                k = (r["token"], r["conv_id"], r["turn_idx"])
                if k not in win or (r["seq"], r["tf"]) > win[k]:
                    win[k] = (r["seq"], r["tf"])
    return sorted((*k, tf) for k, (_, tf) in win.items()
                  if tf > 0 and k[0] in query)


@SETTINGS
@given(ix=_indexes())
def test_lookup_routes_agree(la_spark, workdir, ix):
    n_shards, shards, query = ix
    idx = _write_index(tempfile.mkdtemp(dir=workdir), n_shards, shards)
    local, remote = _routes(lambda: idx.lookup(la_spark, query))
    assert sorted(local) == sorted(remote)
    got = sorted((r["token"], r["conv_id"], r["turn_idx"], r["tf"])
                 for r in local)
    assert got == _expected_postings(shards, query)


def test_routes_agree_on_an_ingested_table(la_spark, ingested_mor):
    """The same check on what the engine itself writes: a generated log
    (redeliveries, deletes, out-of-order events, three schema epochs)
    through the MOR runner with minor folds and an in-loop index."""
    r, idx = ingested_mor
    t = r.table
    mid = t.snapshots()[len(t.snapshots()) // 2]["snapshot_id"]
    convs = sorted({x["conv_id"] for x in r.final_state().collect()})[:3]
    for snap_id in (None, mid):
        for conv in convs + ["conv-absent"]:
            local, remote = _routes(
                lambda: t.read_conversation(la_spark, conv, snap_id))
            assert local == remote, (snap_id, conv)
    tokens = [x["token"] for x in idx.read(la_spark).select("token")
              .distinct().orderBy("token").limit(4).collect()]
    local, remote = _routes(lambda: idx.lookup(la_spark, tokens + ["zz"]))
    assert local and sorted(local) == sorted(remote)
