"""Driver-local and Spark token-index refreshes agree.

``TokenIndex`` sizes each refresh's read set from the file inventory:
one of at most ``LOCAL_MAX_BYTES`` is tokenized on the driver in Arrow
(``postings_arrow``) and written with no Spark job, a larger one keeps
the Spark plan. Setting the limit to -1 forces the Spark plan on the
same table, so two indexes over one table, one refreshed each way, must
hold the same postings and the same per-shard layer stacks after every
refresh: bootstrap, incremental windows with updates that drop tokens,
deletes, a window that crosses a minor fold of the table, a rebuild
after a major compaction, and ``compact_shards`` folds of the index.

The two routes tokenize with different regex engines (Java after
Spark's ``lower``, RE2 after Arrow's ``utf8_lower``) over the one
``TOKEN_SPLIT``; the first test runs both over every Unicode scalar
value.
"""

from __future__ import annotations

import os
from unittest import mock

import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from biomedica_etl_spark.cdc import table as table_mod
from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.index import TokenIndex, postings_arrow, postings_of
from biomedica_etl_spark.cdc.merge import compact, compact_layers
from biomedica_etl_spark.cdc.runner import CdcRunner

TZ = "Asia/Kolkata"


def test_tokenizers_agree_on_every_scalar_value(spark):
    """``"x?y"`` with ``?`` each Unicode scalar value: the Spark and
    Arrow tokenizers give the same postings. U+0130 is the one value
    where the bare engines differ (Spark splits it into ``xi``, ``y``);
    the Arrow route spells it out first, so it splits there too."""
    cps = [c for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    tab = pa.table({
        "conv_id": pa.array(["x"] * len(cps)),
        "turn_idx": pa.array(cps, pa.int64()),
        "text": pa.array([f"x{chr(c)}y" for c in cps])})
    cols = ["token", "conv_id", "turn_idx", "tf"]
    arrow = postings_arrow(tab, 4, seq=0).select(cols)
    got = postings_of(spark.createDataFrame(tab), 4).select(*cols).toArrow()
    keys = [("turn_idx", "ascending"), ("token", "ascending")]
    assert arrow.sort_by(keys).equals(got.cast(arrow.schema).sort_by(keys))
    at = arrow.filter(pc.equal(arrow["turn_idx"], 0x130))
    assert sorted(at["token"].to_pylist()) == ["xi", "y"]


@pytest.fixture(scope="module")
def zoned(spark):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", TZ)
    yield spark
    spark.conf.set("spark.sql.session.timeZone", old)


def _rows(spark, idx):
    return sorted(map(tuple, idx.read(spark).collect()))


def _layers(idx):
    return {s: [lay["base"] for lay in v]
            for s, v in idx.shard_layers().items()}


class _Twins:
    """Two indexes over one table: ``local`` refreshed at the default
    limit, ``spark`` with the limit at -1."""

    def __init__(self, spark, root, n_shards):
        self.spark = spark
        self.local = TokenIndex(os.path.join(root, "local"), n_shards=n_shards,
                                compact_at=2)
        self.remote = TokenIndex(os.path.join(root, "spark"),
                                 n_shards=n_shards, compact_at=2)
        self.modes: list[str] = []

    def refresh(self, table):
        got = self.local.refresh(self.spark, table)
        with mock.patch.object(table_mod, "LOCAL_MAX_BYTES", -1):
            want = self.remote.refresh(self.spark, table)
        assert got == want
        self.modes.append(got.get("mode", "none"))
        self.check()

    def compact_shards(self):
        shards = sorted(self.local.shard_layers())
        got = self.local.compact_shards(self.spark, shards)
        with mock.patch.object(table_mod, "LOCAL_MAX_BYTES", -1):
            want = self.remote.compact_shards(self.spark, shards)
        assert got == want > 0
        self.check()

    def check(self):
        assert _rows(self.spark, self.local) == _rows(self.spark, self.remote)
        assert _layers(self.local) == _layers(self.remote)


@settings(max_examples=3, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(
    seed=st.integers(0, 2**16),
    n_convs=st.integers(8, 40),
    delete_frac=st.sampled_from([0.0, 0.15]),
    refresh_after=st.lists(st.booleans(), min_size=4, max_size=4),
    dml=st.permutations(["drop", "append", "delete"]),
)
def test_driver_refresh_matches_spark_refresh(zoned, tmp_path_factory, seed,
                                              n_convs, delete_frac,
                                              refresh_after, dml):
    spark = zoned
    d = tmp_path_factory.mktemp("idx-routes")
    log = str(d / "log")
    generate_change_log(log, GeneratorConfig(
        seed=seed, n_events=1_800, batch_size=300, n_convs=n_convs,
        update_frac=0.3, delete_frac=delete_frac, duplicate_frac=0.05,
        out_of_order=True))
    runner = CdcRunner(spark, log, str(d / "t"), n_buckets=4,
                       compact_every=10**9)
    twins = _Twins(spark, str(d), n_shards=4)

    runner.run(max_batches=1)
    twins.refresh(runner.table)  # bootstrap
    # log batches, refreshed at drawn points; then a window that holds a
    # minor fold of the table between two ingests
    for again in refresh_after[:2]:
        runner.run(max_batches=1)
        if again:
            twins.refresh(runner.table)
    runner.run(max_batches=1)
    assert compact_layers(spark, runner.table) is not None
    runner.run(max_batches=1)
    twins.refresh(runner.table)
    runner.run()
    twins.refresh(runner.table)
    # DML once the log is drained, so its fresh LSNs tie with no event
    edits = {
        "drop": lambda: runner.update_where(
            "turn_idx % 3 = 0", {"text": "'İstanbul straße ÖL İİ ok'"}),
        "append": lambda: runner.update_where(
            "turn_idx % 2 = 1", {"text": "concat(text, ' xİy \u212aelvin')"}),
        "delete": lambda: runner.delete_where("turn_idx % 4 = 2"),
    }
    for op, again in zip(dml, refresh_after[2:] + [True]):
        edits[op]()
        if again:
            twins.refresh(runner.table)
    twins.compact_shards()
    runner.update_where("turn_idx % 5 = 0", {"text": "'ŞİŞLİ only'"})
    compact(spark, runner.table)
    twins.refresh(runner.table)  # the feed cannot serve a major fold
    assert twins.modes[0] == "bootstrap" and twins.modes[-1] == "rebuild"
    assert "incremental" in twins.modes

    want = sorted(map(tuple, postings_of(
        runner.table.read(spark, columns=["text"]), twins.local.n_shards)
        .drop("shard").collect()))
    assert _rows(spark, twins.local) == want
