"""SURVEY S14: resumable snapshot publication (HF upload_large_folder twin).

Pins the three operational guarantees the reference's upload relies on:
resume-by-skip, integrity manifest, and snapshot pinning. Reference:
scripts/Upload/7_upload_wd_dataset.py:14-22.
"""

from __future__ import annotations

import glob
import hashlib
import os

from pyspark.sql import functions as F

from biomedica_etl_spark.cdc.export import publish_snapshot, read_manifest
from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.runner import CdcRunner


def _make_table(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_change_log(log, GeneratorConfig(
        n_events=4_000, batch_size=1_000, n_convs=40, zipf_a=1.2))
    runner = CdcRunner(spark, log, str(tmp_path / "table"), n_buckets=4)
    runner.run()
    return runner


def test_publish_resume_and_integrity(spark, tmp_path):
    runner = _make_table(spark, tmp_path)
    dest = str(tmp_path / "pub")

    status = publish_snapshot(spark, runner.table, dest)
    rows = {r["path"]: r for r in status.collect()}
    assert rows and all(r["action"] == "published" for r in rows.values())

    man = read_manifest(dest)
    assert man["file_count"] == len(rows)
    assert man["snapshot_id"] == runner.table.current_snapshot()["snapshot_id"]
    # every published file byte-exact: manifest md5 == file md5 == source md5
    for entry in man["files"]:
        blob = open(os.path.join(dest, entry["path"]), "rb").read()
        assert hashlib.md5(blob).hexdigest() == entry["md5"]
        src = open(os.path.join(runner.table.root, entry["path"]), "rb").read()
        assert blob == src

    # clean re-run publishes NOTHING (pure resume check)
    again = {r["path"]: r["action"]
             for r in publish_snapshot(spark, runner.table, dest).collect()}
    assert set(again.values()) == {"skipped"}

    # lose one file + truncate another -> exactly those two republished
    victims = sorted(rows)[:2]
    os.remove(os.path.join(dest, victims[0]))
    with open(os.path.join(dest, victims[1]), "wb") as f:
        f.write(b"torn")
    third = {r["path"]: r["action"]
             for r in publish_snapshot(spark, runner.table, dest).collect()}
    assert third[victims[0]] == "published"
    assert third[victims[1]] == "published"
    assert all(a == "skipped" for p, a in third.items() if p not in victims)


def test_publish_pins_snapshot_and_reads_back(spark, tmp_path):
    runner = _make_table(spark, tmp_path)
    first_sid = runner.table.current_snapshot()["snapshot_id"]
    dest = str(tmp_path / "pub")
    publish_snapshot(spark, runner.table, dest, snapshot_id=first_sid)

    # the published parquet equals the pinned snapshot's live state
    expect = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in runner.final_state().collect()
    }
    files = [p for p in glob.glob(os.path.join(dest, "**", "*.parquet"),
                                  recursive=True)]
    got = {}
    # the publish is a byte-exact snapshot clone, delta layers and
    # tombstones included — readers resolve each key to its max-_lsn row
    # and drop deletes, as the table reader does
    df = (spark.read.parquet(*files).groupBy("conv_id", "turn_idx")
          .agg(F.max_by(F.struct("text", "_deleted"), "_lsn").alias("w"))
          .filter("NOT w._deleted"))
    for r in df.select("conv_id", "turn_idx", "w.text").collect():
        got[(r["conv_id"], r["turn_idx"])] = r["text"]
    assert got == expect

    # no partial-manifest window: the tmp file never survives
    assert not glob.glob(os.path.join(dest, "MANIFEST.json.tmp"))


def test_incremental_publish_mor_only_new_deltas(spark, tmp_path):
    """MOR layout makes publication naturally incremental: base + existing
    delta files keep their paths across commits, so a re-publish after more
    ingest copies ONLY the new delta files — the sync semantics of the
    reference's repeated upload_large_folder runs."""
    log = str(tmp_path / "log")
    generate_change_log(log, GeneratorConfig(
        n_events=4_000, batch_size=1_000, n_convs=40, zipf_a=1.2))
    runner = CdcRunner(spark, log, str(tmp_path / "table"), n_buckets=4,
                       compact_every=1_000_000)
    runner.run(max_batches=2)
    dest = str(tmp_path / "pub")
    first = {r["path"] for r in
             publish_snapshot(spark, runner.table, dest).collect()}

    runner.run()  # remaining batches land as NEW delta layers
    second = {r["path"]: r["action"]
              for r in publish_snapshot(spark, runner.table, dest).collect()}
    assert set(second) > first  # inventory grew
    for path, action in second.items():
        assert action == ("skipped" if path in first else "published"), path
    # manifest always describes the latest publish in full
    assert read_manifest(dest)["file_count"] == len(second)
