"""Quarantine path: corrupt events (unknown op, negative turn_idx) are
routed to the _quarantine sink, never applied and never fatal — and the
final table still equals the oracle (which skips them identically).
Reference analogue: error-row logs instead of batch abort
(``src/pmc_oa/download_batch.py:123-139``)."""

from __future__ import annotations

import os

import pytest

from biomedica_etl_spark.cdc.generator import SCENARIOS, generate_change_log

from tests.conftest import LAYOUTS, run_and_compare


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_corrupt_events_quarantined_and_state_matches_oracle(spark, tmp_path,
                                                             layout):
    log = str(tmp_path / "log")
    meta = generate_change_log(log, SCENARIOS["corrupt"])
    runner, _ = run_and_compare(spark, log, str(tmp_path / "t"),
                                **LAYOUTS[layout])

    q = spark.read.parquet(runner.quarantine_dir)
    n_q = q.count()
    expected_bad = int(meta.n_events * 0.05)
    assert n_q == expected_bad, (n_q, expected_bad)
    # every quarantined row really is invalid
    from pyspark.sql import functions as F

    bad = q.filter(
        F.col("op").isin("I", "U", "D") & (F.col("turn_idx") >= 0)
        & F.col("conv_id").isNotNull()
    ).count()
    assert bad == 0
    # summaries account for them
    total = sum(
        s["summary"].get("rows_quarantined", 0) for s in runner.table.snapshots()
    )
    assert total == expected_bad


def test_quarantine_read_back_and_reinject(spark, tmp_path):
    """The error-log -> fix -> retry loop: quarantined events read back via
    the API, repaired, re-injected as a fresh micro-batch with NEW lsns,
    and applied by the normal loop — final state equals the oracle replay
    of the (now longer) log, and the repaired keys are live."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from biomedica_etl_spark.cdc.checkpoint import planned_batches
    from biomedica_etl_spark.cdc.oracle import replay
    from biomedica_etl_spark.cdc.runner import CdcRunner

    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["corrupt"])
    runner = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8)
    runner.run()
    q = runner.read_quarantine()
    n_q = q.count()
    assert n_q > 0
    assert "batch_id" in q.columns
    # a single batch's slice filters to that batch only
    one = q.select("batch_id").first()["batch_id"]
    assert runner.read_quarantine(int(one)).count() == q.filter(
        F.col("batch_id") == one).count()

    max_lsn = max(s["lsn_hi"] for s in runner.table.snapshots()
                  if s["lsn_hi"] is not None)
    fixed = (
        q.withColumn(
            "lsn",
            F.lit(max_lsn)
            + F.row_number().over(Window.orderBy("batch_id", "lsn")))
        .withColumn("op", F.lit("I"))
        .withColumn("turn_idx",
                    F.coalesce(F.abs(F.col("turn_idx")), F.lit(0)))
        .withColumn("conv_id", F.coalesce(
            F.col("conv_id"), F.concat(F.lit("recovered-"), F.col("lsn"))))
        .drop("batch_id")
    )
    new_id = max(b for b, _ in planned_batches(log)) + 1
    runner.reinject(fixed, new_id)
    # a duplicate id is refused
    with pytest.raises(ValueError):
        runner.reinject(fixed, new_id)
    res = runner.run()
    assert res.batches_applied == [new_id]
    live = [r.asDict() for r in runner.final_state().collect()]
    assert live == replay(log)  # oracle replays the re-injected batch too
    # the repaired rows won LWW: every fixed key is live with the new lsn
    fixed_rows = fixed.collect()
    live_keys = {(r["conv_id"], r["turn_idx"]) for r in live}
    assert all((r["conv_id"], r["turn_idx"]) in live_keys for r in fixed_rows)


def test_clean_batch_writes_no_quarantine(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    runner, _ = run_and_compare(spark, log, str(tmp_path / "t"))
    assert not os.path.exists(runner.quarantine_dir)


@pytest.mark.parametrize("route", ["local", "spark"])
def test_restaged_batch_quarantines_each_poison_row_once(spark, tmp_path, route):
    """A crash between a batch's stage and its commit: the resumed run
    stages the batch again, and the batch's quarantine dir is replaced,
    not appended to, so it still holds each poison row once."""
    from unittest import mock

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from biomedica_etl_spark.cdc import runner as runner_mod
    from biomedica_etl_spark.cdc import table as table_mod
    from biomedica_etl_spark.cdc.generator import GeneratorConfig
    from biomedica_etl_spark.cdc.runner import CdcRunner

    log = str(tmp_path / "log")
    generate_change_log(log, GeneratorConfig(
        n_events=2_000, batch_size=1_000, corrupt_frac=0.05))
    import glob

    batch0 = pq.read_table(glob.glob(os.path.join(log, "schema_id=*", "batch_id=0"))[0])
    poison = batch0.filter(pc.or_(
        pc.invert(pc.is_in(batch0["op"], value_set=pc.cast(["I", "U", "D"], "string"))),
        pc.less(batch0["turn_idx"], 0)))
    assert poison.num_rows > 0
    root = str(tmp_path / "t")
    limit = table_mod.LOCAL_MAX_BYTES if route == "local" else -1
    with mock.patch.object(table_mod, "LOCAL_MAX_BYTES", limit):
        with mock.patch.object(runner_mod, "mor_commit_staged",
                               side_effect=RuntimeError("crash before commit")):
            with pytest.raises(RuntimeError):
                CdcRunner(spark, log, root, n_buckets=4).run()
        runner = CdcRunner(spark, log, root, n_buckets=4)
        assert runner.pending()[0] == 0
        runner.run()
    got = sorted(r["lsn"] for r in runner.read_quarantine(0).select("lsn").collect())
    assert got == sorted(poison["lsn"].to_pylist())
