"""spark-submit entry point for the CDC apply loop.

Cluster deployment path per the north rule: package the engine as a zip and
ship it to every executor with ``--py-files``::

    cd /root/repo && scripts/package.sh            # -> dist/biomedica_etl_spark.zip
    spark-submit --master <cluster> \\
        --py-files dist/biomedica_etl_spark.zip \\
        scripts/submit_apply.py \\
        --log-dir /path/to/change_log --table-root /path/to/table \\
        --n-buckets 1024 --compact-every 8

On a real cluster ``--master yarn|k8s://...`` and executor sizing flags
replace the local master; the job code is identical. The script creates no
SparkSession config of its own beyond what the engine needs, so
``spark-submit --conf`` controls the deployment entirely.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    p = argparse.ArgumentParser(description="Apply a CDC change log to a table")
    p.add_argument("--log-dir", default=None,
                   help="parquet change-log directory (the batch runner)")
    p.add_argument("--debezium-dir", default=None, metavar="DIR",
                   help="ingest Debezium-envelope NDJSON instead of a "
                        "parquet log: tailed as a checkpointed stream "
                        "(stream_apply_debezium, availableNow) — the "
                        "Kafka-topology deployment with a file source "
                        "standing in; exactly-once across restarts via "
                        "the checkpoint under <table-root>/_stream_ckpt")
    p.add_argument("--table-root", required=True)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--compact-every", type=int, default=8)
    p.add_argument("--compact-mode", choices=["major", "minor"],
                   default="major",
                   help="threshold folds rewrite the base (major) or merge "
                        "layers only, O(delta) (minor)")
    p.add_argument("--async-compact", action="store_true",
                   help="run threshold folds on a maintenance thread "
                        "concurrent with ingest")
    p.add_argument("--pipeline-depth", type=int, default=1,
                   help="overlap up to this many batches' wide jobs; "
                        "commits stay in batch order")
    p.add_argument("--fold-tier-bytes", type=int, default=0,
                   help="size-tiered minor folds: fold only layers at "
                        "most this many bytes so a grown merged layer "
                        "is never re-read (0 = leveled folding, "
                        "-1 = self-tuned tier)")
    p.add_argument("--shuffle-salts", type=int, default=4)
    p.add_argument("--max-batches", type=int, default=None)
    p.add_argument("--delete-where", default=None, metavar="PREDICATE",
                   help="after the apply loop, run a predicate delete "
                        "(tombstones at a fresh LSN through the merge path)")
    p.add_argument("--update-where", default=None, metavar="PREDICATE",
                   help="after the apply loop, run a predicate update; "
                        "requires --update-set")
    p.add_argument("--update-set", default=None, metavar="JSON",
                   help='assignments for --update-where, '
                        'e.g. {"text": "upper(text)"}')
    p.add_argument("--merge-from", default=None, metavar="PATH",
                   help="parquet path of a MERGE source (one row per key); "
                        "merged after the apply loop with delete on "
                        "s.op = 'D' when the source has an op column, "
                        "full-row source update, insert-unmatched")
    p.add_argument("--maintain-index", default=None, metavar="ROOT",
                   help="keep a TokenIndex at this root fresh as batches "
                        "commit (CdcRunner(maintain=))")
    p.add_argument("--maintain-history", default=None, metavar="ROOT",
                   help="keep a HistoryTable at this root fresh as "
                        "batches commit")
    p.add_argument("--maintain-every", type=int, default=1,
                   help="refresh maintainers every N applied batches")
    p.add_argument("--async-maintain", action="store_true",
                   help="run maintainer refreshes on the maintenance "
                        "thread concurrent with ingest")
    args = p.parse_args()
    if (args.update_where is None) != (args.update_set is None):
        p.error("--update-where and --update-set must be given together")
    if (args.log_dir is None) == (args.debezium_dir is None):
        p.error("exactly one of --log-dir / --debezium-dir is required")
    if args.debezium_dir is not None:
        unsupported = [flag for flag, on in (
            ("--pipeline-depth", args.pipeline_depth > 1),
            ("--async-compact", args.async_compact),
            ("--async-maintain", args.async_maintain),
            ("--fold-tier-bytes", args.fold_tier_bytes != 0),
            ("--delete-where", args.delete_where is not None),
            ("--update-where", args.update_where is not None),
            ("--merge-from", args.merge_from is not None),
            ("--max-batches", args.max_batches is not None),
        ) if on]
        if unsupported:
            p.error("not supported with --debezium-dir (epochs are "
                    "stream-driven): " + ", ".join(unsupported))

    # import AFTER spark-submit has added --py-files zips to sys.path
    from pyspark.sql import SparkSession

    from biomedica_etl_spark.cdc.runner import CdcRunner

    spark = SparkSession.builder.appName("cdc-apply").getOrCreate()
    maintain: list = []
    if args.maintain_index is not None:
        from biomedica_etl_spark.cdc.index import TokenIndex

        maintain.append(TokenIndex(args.maintain_index))
    if args.maintain_history is not None:
        from biomedica_etl_spark.cdc.history import HistoryTable

        maintain.append(HistoryTable(args.maintain_history))

    if args.debezium_dir is not None:
        import os

        from biomedica_etl_spark.cdc.table import CowTable
        from biomedica_etl_spark.streaming import stream_apply_debezium

        q = stream_apply_debezium(
            spark, args.debezium_dir, args.table_root,
            os.path.join(args.table_root, "_stream_ckpt"),
            n_buckets=args.n_buckets, compact_every=args.compact_every,
            maintain=maintain, maintain_every=args.maintain_every,
        )
        q.awaitTermination()
        table = CowTable(args.table_root)
        for m in maintain:  # drain-time catch-up (no-op at head)
            m.refresh(spark, table)
        head = table.current_snapshot()
        print(json.dumps({
            "source": "debezium",
            "snapshot_id": head["snapshot_id"],
            "rows_live": table.read(spark).count(),
        }))
        spark.stop()
        return

    runner = CdcRunner(
        spark,
        args.log_dir,
        args.table_root,
        n_buckets=args.n_buckets,
        compact_every=args.compact_every,
        compact_mode=args.compact_mode,
        fold_tier_bytes=args.fold_tier_bytes,
        async_compact=args.async_compact,
        pipeline_depth=args.pipeline_depth,
        shuffle_salts=args.shuffle_salts,
        async_lineage=True,
        maintain=maintain,
        maintain_every=args.maintain_every,
        async_maintain=args.async_maintain,
    )
    result = runner.run(max_batches=args.max_batches)
    dml: dict = {}
    if args.delete_where is not None:
        snap = runner.delete_where(args.delete_where)
        dml["delete_where_rows"] = snap["summary"]["rows_deleted"] if snap else 0
    if args.update_where is not None:
        snap = runner.update_where(args.update_where,
                                   json.loads(args.update_set))
        dml["update_where_rows"] = snap["summary"]["rows_upserted"] if snap else 0
    if args.merge_from is not None:
        src_df = spark.read.parquet(args.merge_from)
        snap = runner.merge_into(
            src_df, matched_update="source",
            matched_delete_condition=(
                "s.op = 'D'" if "op" in src_df.columns else None),
            insert_unmatched=True)
        if snap:
            dml["merge_rows_upserted"] = snap["summary"]["rows_upserted"]
            dml["merge_rows_deleted"] = snap["summary"]["rows_deleted"]
    print(
        json.dumps(
            {
                "batches_applied": result.batches_applied,
                "batches_skipped": result.batches_skipped,
                "rows_upserted": result.rows_upserted,
                "rows_deleted": result.rows_deleted,
                **dml,
                **runner.summary(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
