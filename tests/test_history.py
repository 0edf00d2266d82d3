"""SCD2 key-version history — cdc.history.HistoryTable.

The chain must equal the stored-version oracle (per-(key, batch) LWW
winners deduped by (key, lsn), interval endpoints by lead-over-key)
after any refresh cadence; ``as_of`` must reconstruct the replay state
at any LSN independent of snapshot retention; non-feed-serveable
windows must splice the semantic diff with correct endpoint state; and
maintenance (folds, crash orphans, replayed refreshes) must never
change a read byte.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.history import HistoryTable, shard_of_key
from biomedica_etl_spark.cdc.merge import compact
from biomedica_etl_spark.cdc.runner import CdcRunner

CFG = GeneratorConfig(seed=11, n_events=4_000, batch_size=800, n_convs=40,
                      zipf_a=1.2, duplicate_frac=0.03, out_of_order=True)

_DEL_PRED_SPARK = "turn_idx % 5 = 2"
_DEL_PRED_SQL = "(turn_idx % 5 = 2)"

_CHAIN_COLS = ("conv_id", "turn_idx", "role", "text", "tool",
               "valid_from", "valid_to", "deleted", "is_current")


def _oracle_sql(log: str, delete_pred: str | None = None) -> str:
    """DuckDB twin of the stored-version chain: per-(key, batch) LWW
    winner (ingest reduces each micro-batch before writing its layer),
    dedup verbatim (key, lsn) replays across batches, optional DML
    tombstones at 1+max(lsn), endpoints by lead()."""
    glob_path = os.path.join(log, "*", "*", "*.parquet")
    dels = ""
    union = ""
    if delete_pred is not None:
        dels = f""",
final AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY conv_id,
  turn_idx ORDER BY lsn DESC) AS rnf FROM versions) WHERE rnf = 1 AND op <> 'D'),
dels AS (SELECT conv_id, turn_idx, CAST(NULL AS VARCHAR) AS role,
                CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS tool,
                (SELECT 1 + max(lsn) FROM valid) AS lsn, 'D' AS op
         FROM final WHERE {delete_pred})"""
        union = "UNION ALL SELECT conv_id, turn_idx, role, text, tool, lsn, op FROM dels"
    return f"""
WITH raw AS (SELECT * FROM read_parquet('{glob_path}', union_by_name=true,
                                        hive_partitioning=true)),
valid AS (
  SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx, role, text, tool,
         op, lsn, CAST(batch_id AS BIGINT) AS batch_id
  FROM raw WHERE op IN ('I','U','D') AND turn_idx >= 0
    AND conv_id IS NOT NULL AND lsn IS NOT NULL),
bw AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY conv_id,
  turn_idx, batch_id ORDER BY lsn DESC) AS rn FROM valid) WHERE rn = 1),
versions AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY conv_id,
  turn_idx, lsn ORDER BY batch_id) AS rn2 FROM bw) WHERE rn2 = 1){dels},
allv AS (
  SELECT conv_id, turn_idx,
         CASE WHEN op='D' THEN NULL ELSE role END AS role,
         CASE WHEN op='D' THEN NULL ELSE text END AS text,
         CASE WHEN op='D' THEN NULL ELSE tool END AS tool,
         lsn, op FROM versions
  {union})
SELECT conv_id, turn_idx, role, text, tool, lsn AS valid_from,
       lead(lsn) OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn) AS valid_to,
       (op = 'D') AS deleted,
       (lead(lsn) OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn) IS NULL
        AND op <> 'D') AS is_current
FROM allv ORDER BY conv_id, turn_idx, valid_from
"""


def _as_of_oracle_sql(log: str, lsn: int) -> str:
    glob_path = os.path.join(log, "*", "*", "*.parquet")
    return f"""
WITH raw AS (SELECT * FROM read_parquet('{glob_path}', union_by_name=true,
                                        hive_partitioning=true)),
valid AS (SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx, role, text,
                 op, lsn, CAST(batch_id AS BIGINT) AS batch_id
  FROM raw WHERE op IN ('I','U','D') AND turn_idx >= 0
    AND conv_id IS NOT NULL AND lsn IS NOT NULL),
bw AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY conv_id,
  turn_idx, batch_id ORDER BY lsn DESC) AS rn FROM valid) WHERE rn = 1)
SELECT conv_id, turn_idx, role, text FROM (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                               ORDER BY lsn DESC) AS rnf
  FROM bw WHERE lsn <= {lsn}) WHERE rnf = 1 AND op <> 'D'
ORDER BY conv_id, turn_idx
"""


def _chain(spark, hist):
    return [tuple(r[c] for c in _CHAIN_COLS)
            for r in hist.read(spark)
            .orderBy("conv_id", "turn_idx", "valid_from")
            .select(*_CHAIN_COLS).collect()]


@pytest.fixture(scope="module")
def log(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("hist-log"))
    generate_change_log(d, CFG)
    return d


def _build(spark, log, root, **kw):
    runner = CdcRunner(spark, log, os.path.join(root, "table"),
                       n_buckets=8, **kw)
    hist = HistoryTable(os.path.join(root, "hist"), n_shards=8)
    return runner, hist


def test_full_chain_matches_oracle(spark, log, tmp_path):
    runner, hist = _build(spark, log, str(tmp_path))
    hist.refresh(spark, runner.table)  # empty bootstrap -> cursor pinned
    runner.run(max_batches=2)
    r1 = hist.refresh(spark, runner.table)
    assert r1["source"] == "feed"
    runner.run()
    hist.refresh(spark, runner.table)
    runner.delete_where(_DEL_PRED_SPARK)
    hist.refresh(spark, runner.table)
    got = _chain(spark, hist)
    exp = [tuple(r) for r in duckdb.connect().execute(
        _oracle_sql(log, _DEL_PRED_SQL)).fetchall()]
    assert got == exp
    # refresh at head is a no-op
    assert hist.refresh(spark, runner.table)["refreshed"] is False


def test_as_of_matches_replay_at_any_lsn(spark, log, tmp_path):
    runner, hist = _build(spark, log, str(tmp_path))
    hist.refresh(spark, runner.table)
    runner.run()
    hist.refresh(spark, runner.table)
    con = duckdb.connect()
    for lsn in (400, 1_999, CFG.n_events - 1):
        got = sorted(tuple(r) for r in hist.as_of(spark, lsn)
                     .select("conv_id", "turn_idx", "role", "text").collect())
        exp = sorted(tuple(r) for r in con.execute(
            _as_of_oracle_sql(log, lsn)).fetchall())
        assert got == exp, lsn


def test_as_of_survives_snapshot_expiration(spark, log, tmp_path):
    """The whole point vs table time travel: expire every old snapshot
    and the history still reconstructs any past state."""
    runner, hist = _build(spark, log, str(tmp_path))
    hist.refresh(spark, runner.table)
    runner.run()
    hist.refresh(spark, runner.table)
    before = sorted(tuple(r) for r in hist.as_of(spark, 1_000)
                    .select("conv_id", "turn_idx", "text").collect())
    runner.table.expire_snapshots(keep_last=1)
    after = sorted(tuple(r) for r in hist.as_of(spark, 1_000)
                   .select("conv_id", "turn_idx", "text").collect())
    assert before == after and before


def test_bootstrap_mid_stream_winner_granularity(spark, log, tmp_path):
    """A consumer attached mid-stream opens with ONE version per live
    winner (pre-attach history is unknowable), then tracks every stored
    version; the endpoint state still equals the live table."""
    runner, hist = _build(spark, log, str(tmp_path))
    runner.run(max_batches=2)
    r = hist.refresh(spark, runner.table)
    assert r["source"] == "bootstrap"
    opening = hist.read(spark)
    # exactly one version per key at bootstrap
    assert opening.groupBy("conv_id", "turn_idx").count() \
        .filter("count > 1").count() == 0
    runner.run()
    hist.refresh(spark, runner.table)
    head_lsn = CFG.n_events  # >= any committed lsn
    got = sorted(tuple(r) for r in hist.as_of(spark, head_lsn)
                 .select("conv_id", "turn_idx", "role", "text").collect())
    exp = sorted(tuple(r) for r in runner.final_state()
                 .select("conv_id", "turn_idx", "role", "text").collect())
    assert got == exp


def test_resync_splice_via_diff(spark, log, tmp_path):
    """A major compaction between refreshes makes the window
    non-feed-serveable; the refresh must splice the semantic diff
    (winner granularity) and the endpoint state must stay exact."""
    runner, hist = _build(spark, log, str(tmp_path), compact_every=10_000)
    runner.run(max_batches=2)
    hist.refresh(spark, runner.table)
    runner.run(max_batches=3)
    compact(spark, runner.table)  # rewrites bases -> feed raises
    runner.run()
    r = hist.refresh(spark, runner.table)
    assert r["source"] == "diff"
    head_lsn = CFG.n_events
    got = sorted(tuple(r) for r in hist.as_of(spark, head_lsn)
                 .select("conv_id", "turn_idx", "role", "text").collect())
    exp = sorted(tuple(r) for r in runner.final_state()
                 .select("conv_id", "turn_idx", "role", "text").collect())
    assert got == exp
    # intervals stay well-formed: per key strictly increasing valid_from,
    # valid_to = next valid_from, exactly one open interval max
    rows = _chain(spark, hist)
    by_key: dict = {}
    for t in rows:
        by_key.setdefault((t[0], t[1]), []).append(t)
    for versions in by_key.values():
        vf = [v[5] for v in versions]
        assert vf == sorted(set(vf))
        for a, b in zip(versions, versions[1:]):
            assert a[6] == b[5]  # valid_to chains to next valid_from
        assert versions[-1][6] is None
        assert sum(1 for v in versions if v[8]) <= 1


def test_splice_survives_purged_tombstone_and_clamps_lsn(spark, log, tmp_path):
    """The diff-splice hazard pair: a purged tombstone diffs as delete
    with new_lsn NULL (key absent at the target), and any spliced lsn at
    or below a key's recorded chain max would leave a stale version
    looking current. The splice must clamp valid_from strictly above the
    key's prior max so the endpoint state stays exact."""
    runner, hist = _build(spark, log, str(tmp_path), compact_every=10_000)
    hist.refresh(spark, runner.table)
    runner.run()
    hist.refresh(spark, runner.table)
    live_before = runner.final_state().count()
    runner.delete_where(_DEL_PRED_SPARK)
    # purge the fresh tombstones: every future event carries lsn above
    # them by construction (delete LSN == current max + 1)
    purge_w = 2 + max(s["lsn_hi"] for s in runner.table.snapshots()
                      if s.get("lsn_hi") is not None)
    compact(spark, runner.table, purge_tombstones_below=purge_w)
    r = hist.refresh(spark, runner.table)
    assert r["source"] == "diff"
    # endpoint exact: deleted keys are NOT current despite the NULL lsn
    head = hist.read(spark)
    cur = head.filter("is_current").count()
    assert cur == runner.final_state().count() < live_before
    # chain well-formed: no NULL valid_from, per-key strictly increasing
    assert head.filter("valid_from IS NULL").count() == 0
    rows = _chain(spark, hist)
    by_key: dict = {}
    for t in rows:
        by_key.setdefault((t[0], t[1]), []).append(t[5])
    for vf in by_key.values():
        assert vf == sorted(set(vf))


def test_fold_byte_identical_and_bounded(spark, log, tmp_path):
    runner = CdcRunner(spark, log, os.path.join(str(tmp_path), "table"),
                       n_buckets=8)
    hist = HistoryTable(os.path.join(str(tmp_path), "hist"), n_shards=4,
                        compact_at=2)
    hist.refresh(spark, runner.table)
    while runner.pending():
        runner.run(max_batches=1)
        hist.refresh(spark, runner.table)
    # the per-refresh folds kept every shard at <= compact_at+1 layers
    assert max(len(v) for v in hist.shard_layers().values()) <= 3
    before = _chain(spark, hist)
    hist.compact_shards(spark)  # full fold
    assert max(len(v) for v in hist.shard_layers().values()) == 1
    assert _chain(spark, hist) == before
    exp = [tuple(r) for r in duckdb.connect().execute(
        _oracle_sql(log)).fetchall()]
    assert before == exp


def test_crash_orphan_gc_and_replay_converges(spark, log, tmp_path):
    runner, hist = _build(spark, log, str(tmp_path))
    hist.refresh(spark, runner.table)
    runner.run(max_batches=3)
    hist.refresh(spark, runner.table)
    # a crash between layer write and pointer flip leaves an orphan
    # container; it must never be read and the next flip collects it
    orphan = os.path.join(hist.root, "d-deadbeef", "shard=0")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "w") as f:
        f.write("not parquet")
    runner.run()
    hist.refresh(spark, runner.table)
    assert not os.path.exists(os.path.dirname(orphan))
    exp = [tuple(r) for r in duckdb.connect().execute(
        _oracle_sql(log)).fetchall()]
    assert _chain(spark, hist) == exp


def test_key_history_shard_pruned(spark, log, tmp_path):
    runner, hist = _build(spark, log, str(tmp_path))
    hist.refresh(spark, runner.table)
    runner.run()
    hist.refresh(spark, runner.table)
    conv = hist.read(spark).select("conv_id").first()["conv_id"]
    shard = shard_of_key(conv, hist.n_shards)
    kh = hist.key_history(spark, conv)
    files = kh.inputFiles()
    assert files and all(f"shard={shard}" in f for f in files)
    got = [tuple(r[c] for c in _CHAIN_COLS)
           for r in kh.orderBy("turn_idx", "valid_from").collect()]
    exp = [t for t in _chain(spark, hist) if t[0] == conv]
    assert got == exp
    one = hist.key_history(spark, conv, turn_idx=exp[0][1])
    assert [tuple(r[c] for c in _CHAIN_COLS)
            for r in one.orderBy("valid_from").collect()] \
        == [t for t in exp if t[1] == exp[0][1]]
