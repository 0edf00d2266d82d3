"""Physical-plan guarantees of the merge paths.

The 100 TB design hinges on specific plan shapes (SURVEY.md §7.3, merge.py
module docstring): the aligned LWW reduce must cost exactly ONE exchange
with its output pre-partitioned by bucket, the Spark stage must match the
oracle, and the bucket-partitioned write must emit one file per bucket. These tests pin those properties so a refactor can't silently
reintroduce a shuffle.
"""

from __future__ import annotations

import glob
import os
from unittest import mock

from pyspark.sql import functions as F

from biomedica_etl_spark.cdc import table as table_mod
from biomedica_etl_spark.cdc.generator import SCENARIOS, generate_change_log
from biomedica_etl_spark.cdc.merge import _with_bucket
from biomedica_etl_spark.cdc.reduce import lww_reduce, lww_reduce_aligned
from biomedica_etl_spark.cdc.runner import CdcRunner, read_batch
from biomedica_etl_spark.cdc.schema import SchemaRegistry
from biomedica_etl_spark.cdc.table import BUCKET_COL

from tests.conftest import run_and_compare


def _gen(tmp_path, scenario="everything"):
    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS[scenario])
    return log


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_aligned_reduce_is_single_exchange(spark, tmp_path):
    log = _gen(tmp_path)
    changes = read_batch(spark, log, 0, 0, SchemaRegistry())
    aligned = lww_reduce_aligned(_with_bucket(changes, 16), BUCKET_COL)
    plan = _physical(aligned)
    assert plan.count("Exchange") == 1, plan
    # no partition count pins the exchange, so AQE may coalesce it
    assert "REPARTITION_BY_COL" in plan, plan
    # the classic groupBy-then-repartition pair costs two
    classic = lww_reduce(changes).withColumn(BUCKET_COL, F.lit(0)).repartition(
        16, F.col(BUCKET_COL)
    )
    assert _physical(classic).count("Exchange") == 2


def test_mor_aligned_matches_oracle(spark, tmp_path):
    """The limit at -1 pins the Spark stage and its aligned reduce; a
    batch this small would otherwise be staged on the driver."""
    log = _gen(tmp_path)
    with mock.patch.object(table_mod, "LOCAL_MAX_BYTES", -1):
        run_and_compare(
            spark, log, str(tmp_path / "t_mor"), compact_every=3,
        )


def _files_per_layer(spark, tmp_path, limit):
    log = _gen(tmp_path, "insert_only")
    with mock.patch.object(table_mod, "LOCAL_MAX_BYTES", limit):
        runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
        runner.run(max_batches=1)
    snap = runner.table.current_snapshot()
    assert snap["delta_dirs"], "expected a delta layer"
    return [glob.glob(os.path.join(runner.table.root, d, "*.parquet"))
            for dirs in snap["delta_dirs"].values() for d in dirs]


def test_aligned_write_bounded_files_per_bucket(spark, tmp_path):
    """The aligned write goes straight from the reduce — no extra
    repartition — and AQE coalesces a small batch's exchange, so every
    touched bucket gets exactly one file, not one per salt. The limit at
    -1 pins the Spark stage, which a batch this small would skip."""
    for files in _files_per_layer(spark, tmp_path, -1):
        assert len(files) == 1, files


def test_local_stage_writes_one_file_per_bucket(spark, tmp_path):
    """A batch that fits ``LOCAL_MAX_BYTES`` is staged on the driver,
    also one file per touched bucket."""
    for files in _files_per_layer(spark, tmp_path, table_mod.LOCAL_MAX_BYTES):
        assert len(files) == 1, files


def test_nested_assemble_plan_shape(spark):
    """The nested assembly must cost ONE data shuffle (the groupBy hash
    exchange; the trailing range exchange is the deterministic orderBy) with
    map-side partial collect_list and a column-pruned scan."""
    from biomedica_etl_spark.operators.nested import nested_assemble

    plan = _physical(nested_assemble(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_collect_list" in plan, plan
    # column pruning reached the scan: props/event_type... only the four
    # needed columns are read
    assert "ReadSchema: struct<event_id:bigint,user_id:bigint," \
           "event_type:string,value:double>" in plan, plan


def test_pandas_normalize_is_arrow_not_row_python(spark):
    """§2.9: the scalar pandas UDF must plan as ArrowEvalPython (vectorized
    Arrow batches), never BatchEvalPython (row-at-a-time pickling)."""
    from biomedica_etl_spark.functions.text import pandas_normalize_text

    plan = _physical(pandas_normalize_text(spark, "/root/testdata/sf0.001"))
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_cosine_topk_broadcasts_query_side(spark):
    """The exact top-k baseline must plan as BroadcastNestedLoopJoin with
    the small query side broadcast — one scan of the corpus against the
    in-memory query block (linear in corpus for a fixed query set), never
    a shuffled corpus-x-corpus cartesian."""
    from biomedica_etl_spark.operators.similarity import cosine_topk

    plan = _physical(cosine_topk(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_token_budget_shards_no_global_window(spark):
    """The global running sum must be the two-pass prefix form: a range
    exchange spreads the order key over many partitions, every window is
    PARTITIONED (by pid), and no unpartitioned window ever funnels the
    table through one task. Values still equal the exact global cumsum."""
    from itertools import accumulate

    from biomedica_etl_spark.operators.sampling import token_budget_shards

    df = token_budget_shards(spark, "/root/testdata/sf0.001")
    plan = _physical(df)
    specs = [s for s in plan.split("windowspecdefinition(")[1:]]
    assert specs, plan  # the running sum is still a window...
    for s in specs:  # ...and every window spec starts with the pid key
        assert s.startswith("pid"), plan
    # the window's required distribution is a hash exchange on pid —
    # many parallel range-partitions, never one global task
    assert "hashpartitioning(pid" in plan, plan
    rows = df.collect()
    priors = [0] + list(accumulate(r["n_tokens"] for r in rows))[:-1]
    assert [r["cum_tokens"] for r in rows] == [
        p + r["n_tokens"] for p, r in zip(priors, rows)
    ]
    assert [r["shard_id"] for r in rows] == [p // 20_000 for p in priors]


def test_bucketed_join_no_exchange(spark, tmp_path):
    """Co-located join: two tables bucketed+sorted on the key join with
    ZERO exchanges and zero sorts — the write-once-shuffle-never pattern
    big fact-fact joins rely on at scale."""
    from biomedica_etl_spark.sources import tbl
    from biomedica_etl_spark.sources.sink import write_bucketed

    o = tbl(spark, "/root/testdata/sf0.001", "orders")
    li = tbl(spark, "/root/testdata/sf0.001", "lineitem")
    # at sf0.001 both sides fit the broadcast threshold and Spark rightly
    # prefers BHJ; disable it so the plan exercises the SMJ path the
    # bucketing exists for (at 100 TB neither fact side broadcasts)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(o.select("o_orderkey", "o_totalprice"), "b_orders",
                       str(tmp_path / "bo"), ["o_orderkey"], 8)
        write_bucketed(
            li.select(F.col("l_orderkey").alias("o_orderkey"), "l_quantity"),
            "b_lineitem", str(tmp_path / "bl"), ["o_orderkey"], 8)
        joined = spark.table("b_orders").join(spark.table("b_lineitem"),
                                              "o_orderkey")
        plan = _physical(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # and the result is right
        assert joined.count() == li.count()
        # a follow-on aggregation on the bucket key also skips the exchange
        agg = spark.table("b_orders").groupBy("o_orderkey").agg(
            F.sum("o_totalprice").alias("s"))
        assert "Exchange" not in _physical(agg), _physical(agg)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_near_dup_bucketed_scores_as_cogrouped_blocks(spark):
    """The bucketed near-dup re-score must plan as a cogrouped Arrow UDF
    over cell-pair blocks (FlatMapCoGroupsInPandas), never as a row-per-pair
    equi-join that materializes both vectors per candidate pair — the block
    kernel is what bounds per-task memory and CPU at scale. Both fan-out
    sides must reach the UDF through broadcast joins of the surviving-pair
    list (no shuffled join on the fan), and the exact threshold decision
    must stay JVM-side (Filter on the rounded cosine AFTER the UDF)."""
    from biomedica_etl_spark.operators.similarity import (
        embedding_near_dup_bucketed,
    )

    df = embedding_near_dup_bucketed(spark, "/root/testdata/sf0.001")
    plan = _physical(df)
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "round(cosine" in plan, plan
