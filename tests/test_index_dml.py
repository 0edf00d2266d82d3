"""Index-accelerated DELETE — TokenIndex.delete_matching.

The GDPR-erasure shape: the matched-key set comes from the inverted
index (shard-pruned lookup), NOT from an O(live rows) predicate scan —
pinned by failing any ``CowTable.read``/``read_raw`` during the delete.
End state must equal the from-scratch token predicate applied to the
live table; exactly-once under batch_id; stale index refuses.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.index import TOKEN_SPLIT, TokenIndex
from biomedica_etl_spark.cdc.runner import CdcRunner
from biomedica_etl_spark.cdc.table import CowTable

from tests.conftest import LAYOUTS

CFG = GeneratorConfig(n_events=3_000, batch_size=750, n_convs=40,
                      zipf_a=1.2, duplicate_frac=0.02, out_of_order=True)


def _live_minus_tokens(spark, table, tokens):
    """Oracle: live rows whose tokenization contains none of the tokens."""
    toks = F.array_except(
        F.split(F.lower(F.col("text")), TOKEN_SPLIT), F.array(F.lit("")))
    keep = table.read(spark).filter(
        F.size(F.array_intersect(toks, F.array(*[F.lit(t) for t in tokens])))
        == 0)
    return sorted(map(tuple, keep.collect()))


def _state(spark, table):
    return sorted(map(tuple, table.read(spark).collect()))


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_delete_matching_equals_predicate_oracle(spark, tmp_path, layout):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                       **LAYOUTS[layout])
    runner.run(max_batches=2)
    idx = TokenIndex(str(tmp_path / "idx"), n_shards=16)
    idx.refresh(spark, runner.table)
    runner.run()
    if layout == "mor":
        runner.update_where("role = 'system'",
                            {"text": "concat(text, ' zapme')"})
        tokens = ["zapme", "t3"]
    else:
        tokens = ["t3", "t7"]
    want = _live_minus_tokens(spark, runner.table, tokens)
    res = idx.delete_matching(spark, runner.table, tokens)
    assert res is not None
    assert _state(spark, runner.table) == want
    # the index retracts the deleted rows' postings on its next refresh
    idx.refresh(spark, runner.table)
    assert idx.lookup(spark, tokens).count() == 0


def test_delete_never_scans_the_table(spark, tmp_path, monkeypatch):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run()
    idx = TokenIndex(str(tmp_path / "idx"), n_shards=16)
    idx.refresh(spark, runner.table)
    want = _live_minus_tokens(spark, runner.table, ["t2"])

    def _no_read(*a, **kw):
        raise AssertionError("index-accelerated delete must not read the table")

    monkeypatch.setattr(CowTable, "read", _no_read)
    monkeypatch.setattr(CowTable, "read_raw", _no_read)
    res = idx.delete_matching(spark, runner.table, ["t2"], refresh=False)
    assert res is not None
    monkeypatch.undo()
    assert _state(spark, runner.table) == want


def test_exactly_once_and_stale_refusal(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run(max_batches=3)
    idx = TokenIndex(str(tmp_path / "idx"), n_shards=16)
    idx.refresh(spark, runner.table)
    # ingest past the index cursor: refresh=False must refuse
    runner.run()
    with pytest.raises(ValueError, match="behind table head"):
        idx.delete_matching(spark, runner.table, ["t1"], refresh=False)
    # with refresh it proceeds, and a replay under the same id fences
    snaps_0 = len(runner.table.snapshots())
    res = idx.delete_matching(spark, runner.table, ["t1"],
                              batch_id=9_200_001)
    assert res is not None
    state = _state(spark, runner.table)
    assert idx.delete_matching(spark, runner.table, ["t1"],
                               batch_id=9_200_001) is None
    assert _state(spark, runner.table) == state
    assert len(runner.table.snapshots()) == snaps_0 + 1


def _live_with_update(spark, table, tokens, mark):
    """Oracle: live rows, token matches rewritten text -> text || mark."""
    toks = F.array_except(
        F.split(F.lower(F.col("text")), TOKEN_SPLIT), F.array(F.lit("")))
    hit = F.size(F.array_intersect(
        toks, F.array(*[F.lit(t) for t in tokens]))) > 0
    out = table.read(spark).withColumn(
        "text", F.when(hit, F.concat(F.col("text"), F.lit(mark)))
        .otherwise(F.col("text")))
    return sorted(map(tuple, out.collect()))


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_update_matching_equals_predicate_oracle(spark, tmp_path, layout):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                       **LAYOUTS[layout])
    runner.run(max_batches=2)
    idx = TokenIndex(str(tmp_path / "idx"), n_shards=16)
    idx.refresh(spark, runner.table)
    runner.run()
    tokens = ["t3", "t7"]
    want = _live_with_update(spark, runner.table, tokens, " [redacted]")
    res = idx.update_matching(spark, runner.table, tokens,
                              {"text": "concat(text, ' [redacted]')"})
    assert res is not None
    assert _state(spark, runner.table) == want
    # the index follows the rewrite: next refresh indexes the new token
    idx.refresh(spark, runner.table)
    assert idx.lookup(spark, ["redacted"]).count() > 0


def test_update_matching_reads_only_matched_buckets(spark, tmp_path,
                                                    monkeypatch):
    """The payload read is bucket-pruned to the matched keys: pin the
    bucket list handed to the native read (a strict subset on a sparse
    token) and that no JVM-path table read happens at all."""
    from biomedica_etl_spark.cdc import merge as merge_mod
    from biomedica_etl_spark.cdc.xxhash import bucket_of

    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run()
    idx = TokenIndex(str(tmp_path / "idx"), n_shards=16)
    idx.refresh(spark, runner.table)
    # one conversation gets a unique token -> exactly one matched bucket
    conv = runner.table.read(spark, columns=[]).select("conv_id") \
        .first()["conv_id"]
    runner.update_where(f"conv_id = '{conv}'",
                        {"text": "concat(text, ' uniqtok9')"})
    idx.refresh(spark, runner.table)
    want = _live_with_update(spark, runner.table, ["uniqtok9"], "!")

    seen = {}
    real = merge_mod._native_live_read

    def _spy(spark_, table_, buckets=None, snapshot_id=None):
        seen["buckets"] = buckets
        return real(spark_, table_, buckets=buckets, snapshot_id=snapshot_id)

    monkeypatch.setattr(merge_mod, "_native_live_read", _spy)

    def _no_read(*a, **kw):
        raise AssertionError("update_matching must not JVM-scan the table")

    monkeypatch.setattr(CowTable, "read", _no_read)
    monkeypatch.setattr(CowTable, "read_raw", _no_read)
    res = idx.update_matching(spark, runner.table, ["uniqtok9"],
                              {"text": "concat(text, '!')"}, refresh=False)
    assert res is not None
    monkeypatch.undo()
    assert seen["buckets"] == [bucket_of(conv, 8)]
    assert _state(spark, runner.table) == want


def test_update_matching_refusals_and_fence(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, CFG)
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run(max_batches=3)
    idx = TokenIndex(str(tmp_path / "idx"), n_shards=16)
    idx.refresh(spark, runner.table)
    with pytest.raises(ValueError, match="key columns"):
        idx.update_matching(spark, runner.table, ["t1"], {"conv_id": "'x'"})
    with pytest.raises(ValueError, match="unknown columns"):
        idx.update_matching(spark, runner.table, ["t1"], {"nope": "'x'"})
    with pytest.raises(ValueError, match="is None"):
        idx.update_matching(spark, runner.table, ["t1"], {"tool": None})
    runner.run()
    with pytest.raises(ValueError, match="behind table head"):
        idx.update_matching(spark, runner.table, ["t1"],
                            {"text": "text"}, refresh=False)
    snaps_0 = len(runner.table.snapshots())
    res = idx.update_matching(spark, runner.table, ["t1"],
                              {"text": "concat(text, '.')"},
                              batch_id=9_200_002)
    assert res is not None
    state = _state(spark, runner.table)
    assert idx.update_matching(spark, runner.table, ["t1"],
                               {"text": "concat(text, '.')"},
                               batch_id=9_200_002) is None
    assert _state(spark, runner.table) == state
    assert len(runner.table.snapshots()) == snaps_0 + 1
    # no term matches: still a fenced commit, state unchanged
    res = idx.update_matching(spark, runner.table, ["zzznomatch"],
                              {"text": "concat(text, '?')"},
                              batch_id=9_200_003)
    assert res is not None
    assert _state(spark, runner.table) == state
