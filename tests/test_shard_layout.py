"""Shard-layout adoption on attach — cdc.shardstore.

A derived store's layers are hash-routed by ``pmod(xxhash64(key),
n_shards)`` and lookups prune DRIVER-side with the same modulus, so an
attach with a different constructor value would silently route term
lookups (and the index-accelerated GDPR deletes built on them) to the
wrong shards — incomplete results with no error. The pointer therefore
records ``n_shards`` at every flip and ``_init_store`` adopts the
recorded value on attach: the disk layout is authoritative, the
constructor arg only sizes a store that does not exist yet.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.history import HistoryTable
from biomedica_etl_spark.cdc.index import TokenIndex
from biomedica_etl_spark.cdc.runner import CdcRunner


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("layout")
    log = str(tmp / "log")
    generate_change_log(log, GeneratorConfig(
        seed=23, n_events=2_000, batch_size=500, n_convs=30,
        out_of_order=True))
    runner = CdcRunner(spark, log, str(tmp / "t"), n_buckets=8)
    runner.run()
    return runner


def test_index_attach_adopts_recorded_shards(spark, table, tmp_path):
    root = str(tmp_path / "idx")
    built = TokenIndex(root, n_shards=4)
    built.refresh(spark, table.table)
    expect = sorted(tuple(r) for r in built.lookup(
        spark, ["lorem", "ipsum"]).collect())
    assert expect  # the probe terms exist

    attached = TokenIndex(root)  # default n_shards=16 != 4
    assert attached.n_shards == 4  # adopted before any shard computation
    got = sorted(tuple(r) for r in attached.lookup(
        spark, ["lorem", "ipsum"]).collect())
    assert got == expect
    # a refresh through the attached handle keeps the recorded layout
    table.update_where("turn_idx % 5 = 1", {"text": "concat(text, ' zz')"})
    attached.refresh(spark, table.table)
    assert attached.n_shards == 4
    rebuilt = TokenIndex(str(tmp_path / "twin"), n_shards=4)
    rebuilt.refresh(spark, table.table)
    assert sorted(tuple(r) for r in attached.read(spark).collect()) == \
        sorted(tuple(r) for r in rebuilt.read(spark).collect())


def test_history_attach_adopts_recorded_shards(spark, table, tmp_path):
    root = str(tmp_path / "hist")
    built = HistoryTable(root, n_shards=4)
    built.refresh(spark, table.table)
    conv = table.table.read(spark, columns=[]).select("conv_id") \
        .first()["conv_id"]
    expect = sorted(tuple(r) for r in built.key_history(spark, conv).collect())
    assert expect

    attached = HistoryTable(root)  # default 16 != 4
    assert attached.n_shards == 4
    got = sorted(tuple(r) for r in attached.key_history(spark, conv).collect())
    assert got == expect


def test_fresh_store_keeps_constructor_shards(spark, table, tmp_path):
    idx = TokenIndex(str(tmp_path / "fresh"), n_shards=32)
    assert idx.n_shards == 32  # no pointer yet: constructor sizes it
    idx.refresh(spark, table.table)
    assert TokenIndex(str(tmp_path / "fresh")).n_shards == 32
