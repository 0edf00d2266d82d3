"""MERGE INTO (conditional upsert from a source DataFrame) — merge.merge_into.

Reference analogue: the Entrez backfill joins fetched metadata onto
already-written records and rewrites the matched ones while leaving the
rest intact (reference ``scripts/05_json_to_entrez.py:324-330``) — the
reference rebuilds; here it is the lakehouse MERGE riding the ingest merge
machinery, so fencing, LWW ordering, change-feed visibility and the
bucket-pruned read are all inherited and pinned here.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.merge import merge_into
from biomedica_etl_spark.cdc.oracle import replay
from biomedica_etl_spark.cdc.table import bucket_expr

from tests.conftest import LAYOUTS, ingested_copy


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mi") / "log")
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


def _three_clause_source(spark, runner):
    """Update text on turn_idx%5==1 rows (delete the 'system' ones), insert
    a fresh tail turn for every conversation whose max turn_idx is even."""
    live = runner.table.read(spark)
    upd = live.filter(F.col("turn_idx") % 5 == 1).select(
        "conv_id", "turn_idx", "role",
        F.concat(F.col("text"), F.lit("~m")).alias("text"),
        "tool", "ts",
        F.when(F.col("role") == "system", "D").otherwise("U").alias("op"))
    ins = (live.groupBy("conv_id").agg(F.max("turn_idx").alias("mx"))
           .filter(F.col("mx") % 2 == 0)
           .select("conv_id", (F.col("mx") + 100).alias("turn_idx"),
                   F.lit("merge").alias("role"),
                   F.lit("inserted-row").alias("text"),
                   F.lit(None).cast("string").alias("tool"),
                   F.lit(None).cast("timestamp").alias("ts"),
                   F.lit("I").alias("op")))
    return upd.unionByName(ins)


def _three_clause_expected(log_dir):
    exp = replay(log_dir)
    mx: dict[str, int] = {}
    for r in exp:
        mx[r["conv_id"]] = max(mx.get(r["conv_id"], -1), r["turn_idx"])
    out = []
    for r in exp:
        if r["turn_idx"] % 5 == 1:
            if r["role"] == "system":
                continue
            r = dict(r)
            r["text"] = r["text"] + "~m"
        out.append(dict(r))
    for c, m in mx.items():
        if m % 2 == 0:
            out.append({"conv_id": c, "turn_idx": m + 100, "role": "merge",
                        "text": "inserted-row", "tool": None, "ts": None})
    out.sort(key=lambda r: (r["conv_id"], r["turn_idx"]))
    return out


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_merge_into_three_clauses_matches_oracle(spark, log_dir, tmp_path,
                                                 layout):
    runner = _build(spark, log_dir, str(tmp_path / f"t-{layout}"), layout)
    src = _three_clause_source(spark, runner)
    snap = runner.merge_into(src, matched_update="source",
                             matched_delete_condition="s.op = 'D'")
    assert snap is not None
    expected = _three_clause_expected(log_dir)
    actual = [r.asDict() for r in runner.final_state().collect()]
    assert actual == expected
    # every clause must have fired for the test to bite
    assert snap["summary"]["rows_deleted"] > 0
    assert snap["summary"]["rows_upserted"] > snap["summary"]["rows_deleted"]
    # merge LSN strictly above every ingested LSN
    prev_hi = max(s["lsn_hi"] for s in runner.table.snapshots()[:-1]
                  if s.get("lsn_hi") is not None)
    assert snap["lsn_hi"] == prev_hi + 1


def test_merge_into_exactly_once_with_batch_id(spark, log_dir, tmp_path):
    runner = _build(spark, log_dir, str(tmp_path / "t"), "mor")
    src = _three_clause_source(spark, runner).persist()
    first = runner.merge_into(src, matched_delete_condition="s.op = 'D'",
                              batch_id=9_100_001)
    assert first is not None
    before = [r.asDict() for r in runner.final_state().collect()]
    again = runner.merge_into(src, matched_delete_condition="s.op = 'D'",
                              batch_id=9_100_001)
    assert again is None
    assert [r.asDict() for r in runner.final_state().collect()] == before
    src.unpersist()


def test_merge_into_duplicate_source_keys_raise(spark, log_dir, tmp_path):
    runner = _build(spark, log_dir, str(tmp_path / "t"), "mor")
    live = runner.table.read(spark).limit(3)
    dup = live.unionByName(live)
    with pytest.raises(ValueError, match="multiple rows"):
        merge_into(spark, runner.table, dup)


def test_merge_into_argument_validation(spark, log_dir, tmp_path):
    runner = _build(spark, log_dir, str(tmp_path / "t"), "mor")
    live = runner.table.read(spark).limit(1)
    with pytest.raises(ValueError, match="key columns"):
        merge_into(spark, runner.table, live.select("conv_id", "text"))
    with pytest.raises(ValueError, match="cannot assign key"):
        merge_into(spark, runner.table, live,
                   matched_update={"turn_idx": "t.turn_idx + 1"})
    with pytest.raises(ValueError, match="unknown columns"):
        merge_into(spark, runner.table, live,
                   matched_update={"nope": "'x'"})
    with pytest.raises(ValueError, match="is None"):
        merge_into(spark, runner.table, live,
                   matched_update={"tool": None})
    with pytest.raises(ValueError, match="no active clause"):
        merge_into(spark, runner.table, live, matched_update=None,
                   insert_unmatched=False)
    with pytest.raises(ValueError, match="must be 'source'"):
        merge_into(spark, runner.table, live, matched_update="all")
    with pytest.raises(ValueError, match="matched_update_condition"):
        merge_into(spark, runner.table, live, matched_update=None,
                   matched_update_condition="t.role = 'x'")
    with pytest.raises(ValueError, match="insert_condition"):
        merge_into(spark, runner.table, live, insert_unmatched=False,
                   insert_condition="s.role = 'x'")


def test_merge_into_delete_clause_wins_over_update(spark, log_dir, tmp_path):
    """A matched row satisfying BOTH conditions is deleted (delete clause
    is evaluated first, Delta-style clause ordering)."""
    runner = _build(spark, log_dir, str(tmp_path / "t"), "mor")
    live = runner.table.read(spark)
    src = live.filter(F.col("turn_idx") % 9 == 2).select("conv_id", "turn_idx")
    keys = {(r["conv_id"], r["turn_idx"]) for r in src.collect()}
    assert keys
    snap = runner.merge_into(
        src,
        matched_update={"text": "'should-not-happen'"},
        matched_update_condition="t.turn_idx % 9 = 2",
        matched_delete_condition="t.turn_idx % 9 = 2",
        insert_unmatched=False)
    assert snap["summary"]["rows_deleted"] == len(keys)
    assert snap["summary"]["rows_upserted"] == 0
    left = {(r["conv_id"], r["turn_idx"])
            for r in runner.final_state().collect()}
    assert not (left & keys)


def test_merge_into_dict_assignments_see_both_sides(spark, log_dir, tmp_path):
    """Assignments and conditions reference s./t. — an extra non-payload
    source column feeds the expression and is dropped from the output."""
    runner = _build(spark, log_dir, str(tmp_path / "t"), "mor")
    live = runner.table.read(spark)
    src = (live.filter(F.col("turn_idx") % 4 == 0)
           .select("conv_id", "turn_idx", F.lit("+suffix").alias("suffix")))
    expected = {(r["conv_id"], r["turn_idx"]): r["text"] + "+suffix"
                for r in live.filter(F.col("turn_idx") % 4 == 0).collect()}
    runner.merge_into(src,
                      matched_update={"text": "concat(t.text, s.suffix)"},
                      insert_unmatched=False)
    after = {(r["conv_id"], r["turn_idx"]): r["text"]
             for r in runner.final_state().collect()}
    for k, v in expected.items():
        assert after[k] == v
    # unassigned columns carried, non-matched rows untouched
    untouched = {(r["conv_id"], r["turn_idx"]): (r["role"], r["tool"])
                 for r in live.collect()}
    for r in runner.final_state().collect():
        k = (r["conv_id"], r["turn_idx"])
        assert (r["role"], r["tool"]) == untouched[k]


def test_merge_into_insert_only_appends_if_absent(spark, log_dir, tmp_path):
    """matched_update=None + no delete clause = append-if-absent: matched
    source rows produce nothing, unmatched insert with typed-null gaps."""
    runner = _build(spark, log_dir, str(tmp_path / "t"), "mor")
    live = runner.table.read(spark)
    before = [r.asDict() for r in runner.final_state().collect()]
    existing = live.select("conv_id", "turn_idx",
                           F.lit("overwrite-attempt").alias("text"))
    fresh = live.groupBy("conv_id").agg(
        (F.max("turn_idx") + 7_777).alias("turn_idx")).select(
        "conv_id", "turn_idx", F.lit("fresh").alias("text"))
    snap = runner.merge_into(existing.unionByName(fresh),
                             matched_update=None)
    n_convs = fresh.count()
    assert snap["summary"]["rows_upserted"] == n_convs
    assert snap["summary"]["rows_deleted"] == 0
    after = [r.asDict() for r in runner.final_state().collect()]
    inserted = [r for r in after if r["text"] == "fresh"]
    assert len(inserted) == n_convs
    assert all(r["role"] is None and r["tool"] is None and r["ts"] is None
               for r in inserted)
    # no existing row was overwritten
    assert [r for r in after if r["text"] != "fresh"] == before


def test_merge_into_bucket_prune_exact_and_pinned(spark, log_dir, tmp_path):
    """prune_buckets reads only the source keys' buckets: result identical
    to the unpruned run, and the MOR commit appends delta dirs ONLY for
    the source's buckets."""
    runner_a = _build(spark, log_dir, str(tmp_path / "a"), "mor")
    runner_b = _build(spark, log_dir, str(tmp_path / "b"), "mor")
    live = runner_a.table.read(spark)
    # a source touching a strict subset of buckets
    one_conv = live.select("conv_id").distinct().orderBy("conv_id").limit(3)
    src = (live.join(one_conv, "conv_id")
           .select("conv_id", "turn_idx",
                   F.concat(F.col("text"), F.lit("#p")).alias("text")))
    src_buckets = {r["b"] for r in src.select(
        bucket_expr("conv_id", 8).alias("b")).distinct().collect()}
    assert len(src_buckets) < 8, "source must touch a strict bucket subset"

    parent = runner_a.table.current_snapshot()
    snap_a = runner_a.merge_into(src, matched_update="source",
                                 insert_unmatched=False, prune_buckets=True)
    snap_b = runner_b.merge_into(src, matched_update="source",
                                 insert_unmatched=False, prune_buckets=False)
    rows_a = [r.asDict() for r in runner_a.final_state().collect()]
    rows_b = [r.asDict() for r in runner_b.final_state().collect()]
    assert rows_a == rows_b
    assert snap_a["summary"]["rows_upserted"] == snap_b["summary"]["rows_upserted"]
    grown = {int(b) for b, ds in snap_a["delta_dirs"].items()
             if len(ds) > len(parent.get("delta_dirs", {}).get(b, []))}
    assert grown <= src_buckets


def test_merge_into_change_feed_serves_merge_ops(spark, log_dir, tmp_path):
    runner = _build(spark, log_dir, str(tmp_path / "t"), "mor")
    pre = runner.table.current_snapshot()["snapshot_id"]
    src = _three_clause_source(spark, runner)
    runner.merge_into(src, matched_update="source",
                      matched_delete_condition="s.op = 'D'")
    feed = runner.table.read_changes_since(spark, pre).collect()
    assert feed
    deleted = {(r["conv_id"], r["turn_idx"]) for r in feed if r["_deleted"]}
    upserted = {(r["conv_id"], r["turn_idx"]) for r in feed if not r["_deleted"]}
    assert deleted and upserted
    live_keys = {(r["conv_id"], r["turn_idx"])
                 for r in runner.final_state().collect()}
    assert not (deleted & live_keys)
    assert upserted <= live_keys


def test_merge_into_straggler_loses_lww(spark, log_dir, tmp_path):
    """An out-of-order ingest batch with a lower LSN arriving AFTER the
    merge cannot resurrect a merge-deleted row or overwrite a merge-updated
    one — the merge LSN sits above every committed LSN."""
    from biomedica_etl_spark.cdc.merge import mor_apply_batch

    runner = _build(spark, log_dir, str(tmp_path / "t"), "mor")
    live = runner.table.read(spark)
    victim = live.orderBy("conv_id", "turn_idx").limit(2).collect()
    (dc, dt), (uc, ut) = [(r["conv_id"], r["turn_idx"]) for r in victim]
    src = spark.createDataFrame(
        [(dc, dt, "D", None), (uc, ut, "U", "merged-text")],
        "conv_id string, turn_idx long, op string, text string")
    runner.merge_into(src, matched_update={"text": "s.text"},
                      matched_delete_condition="s.op = 'D'",
                      insert_unmatched=False)
    # straggler: lsn strictly below the merge lsn, targeting both keys
    straggler = spark.createDataFrame(
        [(1, "U", dc, dt, "user", "late-resurrect", None, None),
         (1, "U", uc, ut, "user", "late-overwrite", None, None)],
        "lsn long, op string, conv_id string, turn_idx long, role string, "
        "text string, tool string, ts timestamp")
    mor_apply_batch(spark, runner.table, straggler, batch_id=9_100_777)
    state = {(r["conv_id"], r["turn_idx"]): r["text"]
             for r in runner.final_state().collect()}
    assert (dc, dt) not in state
    assert state[(uc, ut)] == "merged-text"


def test_merge_into_null_condition_means_clause_does_not_fire(spark, log_dir,
                                                              tmp_path):
    """Three-valued logic: a delete condition evaluating to NULL must not
    fire AND must not block the update clause for that row."""
    runner = _build(spark, log_dir, str(tmp_path / "t"), "mor")
    live = runner.table.read(spark)
    src = (live.filter(F.col("turn_idx") % 6 == 1)
           .select("conv_id", "turn_idx",
                   F.lit(None).cast("string").alias("flag")))
    n = src.count()
    assert n > 0
    snap = runner.merge_into(
        src,
        matched_update={"text": "concat(t.text, '|u')"},
        matched_delete_condition="s.flag = 'delete'",  # NULL for every row
        insert_unmatched=False)
    assert snap["summary"]["rows_deleted"] == 0
    assert snap["summary"]["rows_upserted"] == n
    updated = [r for r in runner.final_state().collect()
               if r["text"].endswith("|u")]
    assert len(updated) == n
