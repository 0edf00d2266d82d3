"""biomedica_etl_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch re-expression of the semantics of ``minwoosun/biomedica-etl``
(staged, checkpointed, idempotent batch ETL) as an idiomatic Spark CDC apply
loop: change events (insert/update/delete on conversation turns) are read as
micro-batches, deduplicated by (conv_id, turn_idx, lsn) with a max-LSN
last-writer-wins reducer, and applied via a key-partitioned merge-on-read
MERGE into a snapshot-versioned ``transcripts`` table with hidden
bucket(conv_id) partitioning, exactly-once commits (checkpointed offset
ranges + snapshot-id fencing), per-batch schema evolution, and per-partition
lineage metrics.

Reference semantics (see SURVEY.md for the full mapping):
- resume anti-join        <- reference src/pmc_oa/download_batch.py:279-316
- LWW dedup reducer       <- reference scripts/06_serilaize_to_webdataset_parallel.py:141-143
- idempotent commit/roll  <- reference src/pmc_oa/build_json.py:125-157
- schema evolution        <- reference scripts/05_json_to_entrez.py:324-328
- lineage/metrics logs    <- reference src/pmc_oa/download_batch.py:190-222
"""

__version__ = "0.1.0"
