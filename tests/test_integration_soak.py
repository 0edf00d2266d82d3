"""Feature-interaction soak: every engine capability interleaved on one
adversarial log, with an oracle checkpoint after each phase.

The individual features are covered by their own tests; this pins their
INTERACTIONS — pipelined MOR ingest on the Spark stage, then compaction + snapshot
expiration + a partition-spec rebucket mid-stream, then a cold-restart
resume onto the evolved table, then the quarantine repair loop
(read-back -> fix -> reinject), then a rollback of the repair — the
operational sequence a real deployment runs over a table's lifetime.
(A 500k-event version of this ran green manually; the committed test
keeps the same sequence at suite-friendly scale.)
"""

from __future__ import annotations

from unittest import mock

import pytest

from biomedica_etl_spark.cdc import table as table_mod
from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.merge import compact, rebucket
from biomedica_etl_spark.cdc.oracle import replay
from biomedica_etl_spark.cdc.runner import CdcRunner
from biomedica_etl_spark.cdc.table import CowTable


def test_lifecycle_soak_every_feature_interleaved(spark, tmp_path):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from biomedica_etl_spark.cdc.checkpoint import pending_batches

    log = str(tmp_path / "log")
    generate_change_log(log, GeneratorConfig(
        n_events=24_000, batch_size=3_000, n_convs=300, zipf_a=1.3,
        duplicate_frac=0.05, out_of_order=True, absent_key_frac=0.05,
        corrupt_frac=0.02, update_frac=0.3, delete_frac=0.08))
    root = str(tmp_path / "t")

    # phase 1: pipelined MOR ingest of half the log on the Spark stage,
    # which these small batches would skip; the limit at -1 pins it
    # (patched around the whole run: the stages run on threads)
    r = CdcRunner(spark, log, root, n_buckets=8, compact_every=3,
                  pipeline_depth=2, async_lineage=True)
    with mock.patch.object(table_mod, "LOCAL_MAX_BYTES", -1):
        r.run(max_batches=4)

    # maintenance storm mid-stream
    compact(spark, r.table)
    r.table.expire_snapshots(keep_last=3)
    assert rebucket(spark, r.table, 16)["n_buckets"] == 16

    # cold restart resumes onto the evolved table and finishes the log
    r2 = CdcRunner(spark, log, root, n_buckets=16,
                   compact_every=3, pipeline_depth=2, async_lineage=True)
    r2.run()
    live0 = [x.asDict() for x in r2.final_state().collect()]
    assert live0 == replay(log)

    # quarantine repair loop: read-back -> fix under fresh lsns -> reinject
    pre_reinject = r2.table.current_snapshot()["snapshot_id"]
    q = r2.read_quarantine()
    assert q.count() > 0
    max_lsn = max(s["lsn_hi"] for s in r2.table.snapshots()
                  if s["lsn_hi"] is not None)
    fixed = (
        q.withColumn("lsn", F.lit(max_lsn) + F.row_number().over(
            Window.orderBy("batch_id", "lsn")))
        .withColumn("op", F.lit("I"))
        .withColumn("turn_idx", F.coalesce(F.abs(F.col("turn_idx")), F.lit(0)))
        .withColumn("conv_id", F.coalesce(
            F.col("conv_id"), F.concat(F.lit("rec-"), F.col("lsn"))))
        .drop("batch_id")
    )
    r2.reinject(fixed, 999)
    r2.run()
    # the oracle replays the NOW-LONGER log (reinjection is a log batch)
    assert [x.asDict() for x in r2.final_state().collect()] == replay(log)

    # rollback of the repair returns exactly the pre-reinject state...
    r2.table.rollback(pre_reinject)
    assert [x.asDict() for x in r2.final_state().collect()] == live0
    # ...and fencing still holds cold after the whole lifecycle
    assert pending_batches(spark, log, CowTable(root)) == []
    with pytest.raises(ValueError):
        r2.reinject(fixed, 999)  # repaired batch id stays burned
