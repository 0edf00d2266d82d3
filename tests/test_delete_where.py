"""Predicate delete (DELETE FROM ... WHERE) — merge.delete_where.

Reference analogue: dropping records that fail a late gate (license
revoked, takedown list) from an already-built corpus — the reference
rebuilds from scratch (scripts/02_extract_media.py re-runs the filter
chain); here it is an O(matched) engine commit that rides the ingest
merge machinery, so everything ingest guarantees (exactly-once fencing,
LWW ordering, lineage, change-feed visibility, physical erase via a fold +
snapshot expiry) is inherited and pinned here.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.merge import compact, delete_where, mor_apply_batch
from biomedica_etl_spark.cdc.oracle import replay

from tests.conftest import LAYOUTS, ingested_copy

PRED = "turn_idx % 7 = 3 OR role = 'system'"


def _matches(row: dict) -> bool:
    return row["turn_idx"] % 7 == 3 or row["role"] == "system"


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("dw") / "log")
    generate_change_log(
        d,
        GeneratorConfig(n_events=4_000, batch_size=1_000, n_convs=50,
                        zipf_a=1.2, duplicate_frac=0.02, out_of_order=True),
    )
    return d


def _build(spark, log_dir, root, layout):
    """The fully ingested table in ``layout`` (``conftest.LAYOUTS``), a
    private copy per test."""
    return ingested_copy(spark, log_dir, root, n_buckets=8, **LAYOUTS[layout])


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_delete_where_matches_oracle(spark, log_dir, tmp_path, layout):
    runner = _build(spark, log_dir, str(tmp_path / f"t-{layout}"), layout)
    expected_full = replay(log_dir)
    expected = [r for r in expected_full if not _matches(r)]
    n_matched = len(expected_full) - len(expected)
    assert n_matched > 0, "predicate must match something for the test to bite"

    snap = runner.delete_where(PRED)
    assert snap is not None
    assert snap["summary"]["rows_deleted"] == n_matched
    actual = [r.asDict() for r in runner.final_state().collect()]
    assert actual == expected

    # the delete LSN is recorded and strictly above every ingested LSN
    prev_hi = max(s["lsn_hi"] for s in runner.table.snapshots()[:-1]
                  if s.get("lsn_hi") is not None)
    assert snap["lsn_hi"] == prev_hi + 1


def test_delete_where_exactly_once_with_batch_id(spark, log_dir, tmp_path):
    runner = _build(spark, log_dir, str(tmp_path / "t"), "mor")
    first = runner.delete_where(PRED, batch_id=9_000_001)
    assert first is not None
    before = [r.asDict() for r in runner.final_state().collect()]
    # replay of the same maintenance batch fences exactly like ingest
    again = runner.delete_where(PRED, batch_id=9_000_001)
    assert again is None
    assert [r.asDict() for r in runner.final_state().collect()] == before


def test_delete_where_change_feed_serves_tombstones(spark, log_dir, tmp_path):
    runner = _build(spark, log_dir, str(tmp_path / "t"), "mor")
    pre = runner.table.current_snapshot()["snapshot_id"]
    runner.delete_where(PRED)
    feed = runner.table.read_changes_since(spark, pre)
    rows = feed.collect()
    assert rows and all(r["_deleted"] for r in rows)
    fed_keys = {(r["conv_id"], r["turn_idx"]) for r in rows}
    expected_keys = {(r["conv_id"], r["turn_idx"])
                     for r in replay(log_dir) if _matches(r)}
    assert fed_keys == expected_keys


def test_delete_where_no_match_is_a_safe_noop_commit(spark, log_dir, tmp_path):
    runner = _build(spark, log_dir, str(tmp_path / "t"), "mor")
    before = [r.asDict() for r in runner.final_state().collect()]
    snap = runner.delete_where("role = 'no-such-role'")
    assert snap["summary"]["rows_deleted"] == 0
    assert [r.asDict() for r in runner.final_state().collect()] == before


def test_delete_where_tombstone_beats_lower_lsn_straggler(spark, log_dir, tmp_path):
    runner = _build(spark, log_dir, str(tmp_path / "t"), "mor")
    victim = next(r for r in replay(log_dir) if _matches(r))
    snap = runner.delete_where(PRED)
    delete_lsn = snap["lsn_hi"]

    change_schema = T.StructType([
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.LongType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    key = (victim["conv_id"], victim["turn_idx"])

    # out-of-order straggler BELOW the delete LSN must lose to the tombstone
    low = spark.createDataFrame(
        [(delete_lsn - 1, "U", key[0], key[1], "user", "resurrect-lo", None, None)],
        change_schema)
    mor_apply_batch(spark, runner.table, low, batch_id=9_100_001)
    live_keys = {(r["conv_id"], r["turn_idx"])
                 for r in runner.table.read(spark).collect()}
    assert key not in live_keys

    # a genuinely NEWER upsert (above the delete LSN) resurrects the key
    high = spark.createDataFrame(
        [(delete_lsn + 1, "U", key[0], key[1], "user", "resurrect-hi", None, None)],
        change_schema)
    mor_apply_batch(spark, runner.table, high, batch_id=9_100_002)
    resurrected = runner.table.read(spark).filter(
        F.col("conv_id") == key[0]).collect()
    texts = {(r["conv_id"], r["turn_idx"]): r["text"] for r in resurrected}
    assert texts[key] == "resurrect-hi"


def test_delete_where_cow_physical_erase(spark, log_dir, tmp_path):
    """Delete + a major fold + expire + orphan GC = no surviving file
    holds the deleted rows' payloads — the GDPR/takedown story, pinned on
    bytes."""
    root = str(tmp_path / "t")
    runner = _build(spark, log_dir, root, "mor")
    matched_keys = {(r["conv_id"], r["turn_idx"])
                    for r in replay(log_dir) if _matches(r)}

    runner.delete_where(PRED)
    compact(spark, runner.table)
    runner.table.expire_snapshots(keep_last=1)
    runner.table.remove_orphaned_files(grace_seconds=0.0)

    # scan EVERY remaining parquet data file: a matched key may appear only
    # as a payload-null tombstone
    for f in glob.glob(os.path.join(root, "data", "**", "*.parquet"),
                       recursive=True):
        t = pq.read_table(f)
        cols = set(t.schema.names)
        if not {"conv_id", "turn_idx"} <= cols:
            continue
        for row in t.to_pylist():
            if (row["conv_id"], int(row["turn_idx"])) in matched_keys:
                assert row.get("text") is None and row.get("role") is None, (
                    f"deleted payload survives in {f}: {row}")
                assert row.get("_deleted") is True

    # and the live read agrees
    live = {(r["conv_id"], r["turn_idx"])
            for r in runner.table.read(spark).collect()}
    assert not (live & matched_keys)


def test_delete_where_chained_deletes_get_increasing_lsns(spark, log_dir, tmp_path):
    runner = _build(spark, log_dir, str(tmp_path / "t"), "mor")
    s1 = runner.delete_where("role = 'system'")
    s2 = runner.delete_where("role = 'tool'")
    assert s2["lsn_hi"] == s1["lsn_hi"] + 1
    expected = [r for r in replay(log_dir)
                if r["role"] not in ("system", "tool")]
    assert [r.asDict() for r in runner.final_state().collect()] == expected


# ---- update_where (predicate UPDATE ... SET) -------------------------------


def _apply_update(row: dict) -> dict:
    out = dict(row)
    out["tool"] = out["tool"] if out["tool"] is not None else "none"
    out["text"] = (out["text"] or "") + "!"
    return out


UPD_PRED = "role = 'tool'"
UPD_SET = {"tool": "coalesce(tool, 'none')", "text": "concat(text, '!')"}


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_update_where_matches_oracle(spark, log_dir, tmp_path, layout):
    runner = _build(spark, log_dir, str(tmp_path / f"t-{layout}"), layout)
    snap = runner.update_where(UPD_PRED, UPD_SET)
    expected = [_apply_update(r) if r["role"] == "tool" else r
                for r in replay(log_dir)]
    n_matched = sum(1 for r in replay(log_dir) if r["role"] == "tool")
    assert n_matched > 0
    assert snap["summary"]["rows_upserted"] == n_matched
    actual = [r.asDict() for r in runner.final_state().collect()]
    assert actual == expected


def test_update_where_unmodified_columns_carried(spark, log_dir, tmp_path):
    """Full-row upsert semantics: columns NOT in assignments keep their
    current values even though the update writes complete rows."""
    runner = _build(spark, log_dir, str(tmp_path / "t"), "mor")
    before = {(r["conv_id"], r["turn_idx"]): r for r in replay(log_dir)}
    runner.update_where(UPD_PRED, {"text": "'REDACTED'"})
    for r in runner.final_state().collect():
        d = r.asDict()
        orig = before[(d["conv_id"], d["turn_idx"])]
        if orig["role"] == "tool":
            assert d["text"] == "REDACTED"
            assert (d["role"], d["tool"], d["ts"]) == (
                orig["role"], orig["tool"], orig["ts"])
        else:
            assert d == orig


def test_update_where_rejects_key_assignment(spark, log_dir, tmp_path):
    runner = _build(spark, log_dir, str(tmp_path / "t"), "mor")
    with pytest.raises(ValueError, match="key columns"):
        runner.update_where(UPD_PRED, {"conv_id": "'x'"})
    with pytest.raises(ValueError, match="unknown columns"):
        runner.update_where(UPD_PRED, {"nope": "'x'"})


def test_update_where_exactly_once_and_feed(spark, log_dir, tmp_path):
    runner = _build(spark, log_dir, str(tmp_path / "t"), "mor")
    pre = runner.table.current_snapshot()["snapshot_id"]
    first = runner.update_where(UPD_PRED, UPD_SET, batch_id=9_200_001)
    assert first is not None
    state = [r.asDict() for r in runner.final_state().collect()]
    assert runner.update_where(UPD_PRED, UPD_SET, batch_id=9_200_001) is None
    assert [r.asDict() for r in runner.final_state().collect()] == state
    # the update rides the change feed as ordinary upserts
    feed = runner.table.read_changes_since(spark, pre).collect()
    assert feed and all(not r["_deleted"] for r in feed)
    assert all(r["text"].endswith("!") for r in feed)


def test_delete_where_prunes_scan_to_predicate_columns(spark, log_dir, tmp_path):
    """A role-only delete must not read the fat text column: the pruned
    LWW read's parquet ReadSchema carries keys + system cols + role only.
    (Column-object predicates fall back to the full payload — safe, just
    unpruned.)"""
    runner = _build(spark, log_dir, str(tmp_path / "t"), "mor")
    df = runner.table.read(spark, columns=["role"]).filter("role = 'system'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    schema_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "role" in schema_line
    for absent in ("text", "tool", "ts:"):
        assert absent not in schema_line, schema_line
    # and the pruned delete still matches the unpruned result
    expected = [r for r in replay(log_dir) if not _matches(r)]
    runner.delete_where(PRED)  # PRED references turn_idx + role only
    assert [r.asDict() for r in runner.final_state().collect()] == expected


def test_delete_where_predicate_case_insensitive(spark, log_dir, tmp_path):
    """Spark resolves identifiers case-insensitively; the prune inference
    must not drop a column referenced in a different case."""
    runner = _build(spark, log_dir, str(tmp_path / "t"), "mor")
    expected = [r for r in replay(log_dir) if r["role"] != "system"]
    runner.delete_where("ROLE = 'system'")
    assert [r.asDict() for r in runner.final_state().collect()] == expected


def test_read_columns_including_keys_not_duplicated(spark, log_dir, tmp_path):
    runner = _build(spark, log_dir, str(tmp_path / "t"), "mor")
    df = runner.table.read(spark, columns=["conv_id", "ts"])
    assert df.columns == ["conv_id", "turn_idx", "ts"]
    assert df.count() == len(replay(log_dir))


def test_update_where_rejects_none_assignment(spark, log_dir, tmp_path):
    runner = _build(spark, log_dir, str(tmp_path / "t"), "mor")
    with pytest.raises(ValueError, match="cast\\(null"):
        runner.update_where("role = 'tool'", {"tool": None})
    # the explicit SQL-null spelling works
    runner.update_where("role = 'tool'", {"tool": "cast(null as string)"})
    live = runner.table.read(spark).filter("role = 'tool'").collect()
    assert live and all(r["tool"] is None for r in live)
