"""RollupTable(track_max_ts=True): non-retractable continuous aggregate
maintained by affected-group recompute.

The case a diff-fold cannot handle: deleting a conversation's NEWEST turn
must LOWER its max_ts — only recomputing the group can produce that. The
recompute is pruned to the affected buckets + groups, pinned here by the
reported buckets_scanned being a strict subset when few groups change.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from biomedica_etl_spark.cdc.generator import SCENARIOS, generate_change_log
from biomedica_etl_spark.cdc.rollup import RollupTable
from biomedica_etl_spark.cdc.runner import CdcRunner


def _canon(df):
    return sorted((x["conv_id"], x["n_turns"], x["max_ts"])
                  for x in df.collect())


def _expected(spark, table):
    return table.read(spark).groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"), F.max("ts").alias("max_ts"))


def test_rollup_max_ts_matches_full_recompute(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    r = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                  compact_every=10_000)
    roll = RollupTable(str(tmp_path / "rollup"), track_max_ts=True)

    r.run(max_batches=2)
    assert roll.refresh(spark, r.table)["mode"] == "bootstrap"
    r.run()
    res = roll.refresh(spark, r.table)
    assert res["mode"] == "incremental-recompute"
    assert _canon(roll.read(spark)) == _canon(_expected(spark, r.table))
    # idempotent at head
    assert roll.refresh(spark, r.table)["refreshed"] is False


def test_rollup_max_ts_lowers_on_newest_turn_delete(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    r = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                  compact_every=10_000)
    r.run()
    roll = RollupTable(str(tmp_path / "rollup"), track_max_ts=True)
    roll.refresh(spark, r.table)

    # pick a conversation with >=2 live turns and delete its NEWEST turn
    victim = (r.table.read(spark)
              .groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
              .filter("n >= 2").orderBy("conv_id").first()["conv_id"])
    newest = (r.table.read(spark).filter(F.col("conv_id") == victim)
              .orderBy(F.col("ts").desc_nulls_last()).first())
    old_max = newest["ts"]
    r.delete_where(f"conv_id = '{victim}' AND turn_idx = {newest['turn_idx']}")

    res = roll.refresh(spark, r.table)
    assert res["mode"] == "incremental-recompute"
    # only the victim's bucket was scanned
    assert res["buckets_scanned"] == 1
    assert _canon(roll.read(spark)) == _canon(_expected(spark, r.table))
    # the view's max_ts equals the surviving turns' true max (which a
    # diff-fold could never lower; ties on ts keep it equal, else lower)
    new_row = next(x for x in roll.read(spark).collect()
                   if x["conv_id"] == victim)
    true_max = (r.table.read(spark).filter(F.col("conv_id") == victim)
                .agg(F.max("ts").alias("m")).first()["m"])
    assert new_row["max_ts"] == true_max
    if old_max is not None and true_max is not None:
        assert true_max <= old_max


def test_rollup_group_vanishes_when_fully_deleted(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    r = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                  compact_every=10_000)
    r.run()
    roll = RollupTable(str(tmp_path / "rollup"), track_max_ts=True)
    roll.refresh(spark, r.table)

    victim = r.table.read(spark).orderBy("conv_id").first()["conv_id"]
    r.delete_where(f"conv_id = '{victim}'")
    roll.refresh(spark, r.table)
    assert all(x["conv_id"] != victim for x in roll.read(spark).collect())
    assert _canon(roll.read(spark)) == _canon(_expected(spark, r.table))


def test_rollup_rides_feed_and_falls_back_across_compaction(spark, tmp_path):
    """Steady-state refreshes consume the O(changes) image feed (keys +
    change type only); a major compaction inside the window trips the
    feed's resync contract and the refresh transparently falls back to
    the semantic diff — same state either way."""
    from biomedica_etl_spark.cdc.merge import compact

    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    r = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                  compact_every=10_000)
    def canon(df):
        return sorted((x["conv_id"], x["n_turns"]) for x in df.collect())

    def truth():
        return canon(r.table.read(spark).groupBy("conv_id")
                     .agg(F.count(F.lit(1)).alias("n_turns")))

    r.run(max_batches=1)
    roll = RollupTable(str(tmp_path / "rollup"))
    roll.refresh(spark, r.table)  # bootstrap

    r.run(max_batches=1)
    res = roll.refresh(spark, r.table)
    assert res["mode"] == "incremental"
    assert res["source"] == "feed"
    assert canon(roll.read(spark)) == truth()

    r.run()
    compact(spark, r.table)  # base rewrite inside the next window
    res = roll.refresh(spark, r.table)
    assert res["source"] == "diff"
    assert canon(roll.read(spark)) == truth()


def test_rollup_retractable_sum_len_rides_images(spark, tmp_path):
    """track_sum_len: sum(length(text)) maintained RETRACTABLY from the
    image feed (preimage/delete rows carry the old text the fold
    subtracts) — O(changes) per refresh; across a major compaction it
    falls back to affected-group recompute. Updates that change a text's
    length and deletes both land exactly."""
    from biomedica_etl_spark.cdc.merge import compact

    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    r = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                  compact_every=10_000)
    r.run(max_batches=2)
    roll = RollupTable(str(tmp_path / "rollup"), track_sum_len=True)
    roll.refresh(spark, r.table)  # bootstrap

    def truth():
        return sorted(
            (x["conv_id"], x["n_turns"], x["sum_len"]) for x in
            r.table.read(spark).groupBy("conv_id").agg(
                F.count(F.lit(1)).alias("n_turns"),
                F.sum(F.coalesce(F.length("text"), F.lit(0)))
                .cast("long").alias("sum_len")).collect())

    def state():
        return sorted((x["conv_id"], x["n_turns"], x["sum_len"])
                      for x in roll.read(spark).collect())

    # ingest window: retractable fold off the feed
    r.run()
    res = roll.refresh(spark, r.table)
    assert res["mode"] == "incremental-retractable"
    assert res["source"] == "feed"
    assert state() == truth()

    # DML window: updates change lengths, deletes retract them
    r.update_where("role = 'user'", {"text": "concat(text, '-longer')"})
    r.delete_where("turn_idx % 5 = 2")
    res = roll.refresh(spark, r.table)
    assert res["mode"] == "incremental-retractable"
    assert state() == truth()

    # compaction window: feed unavailable -> affected-group recompute
    victim = r.table.read(spark).orderBy("conv_id").first()["conv_id"]
    r.delete_where(f"conv_id = '{victim}'")
    compact(spark, r.table)
    res = roll.refresh(spark, r.table)
    assert res["mode"] == "incremental-recompute"
    assert res["source"] == "diff"
    assert state() == truth()


def test_rollup_sum_len_with_max_ts_uses_recompute_for_both(spark, tmp_path):
    """Both flags: the non-retractable max_ts forces the recompute path,
    which must recompute sum_len for the affected groups too."""
    log = str(tmp_path / "log")
    generate_change_log(log, SCENARIOS["update_delete_mix"])
    r = CdcRunner(spark, log, str(tmp_path / "t"), n_buckets=8,
                  compact_every=10_000)
    r.run(max_batches=2)
    roll = RollupTable(str(tmp_path / "rollup"), track_max_ts=True,
                       track_sum_len=True)
    roll.refresh(spark, r.table)
    r.run()
    r.update_where("role = 'tool'", {"text": "concat(text, '++')"})
    res = roll.refresh(spark, r.table)
    assert res["mode"] == "incremental-recompute"
    expected = sorted(
        (x["conv_id"], x["n_turns"], x["max_ts"], x["sum_len"]) for x in
        r.table.read(spark).groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.max("ts").alias("max_ts"),
            F.sum(F.coalesce(F.length("text"), F.lit(0)))
            .cast("long").alias("sum_len")).collect())
    actual = sorted((x["conv_id"], x["n_turns"], x["max_ts"], x["sum_len"])
                    for x in roll.read(spark).collect())
    assert actual == expected
