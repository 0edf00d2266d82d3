"""Batch dedup + max-LSN last-writer-wins reducer.

Reference semantics: the build-probe dict keyed by accession_id keeps the
*last* record per key (reference
``scripts/06_serilaize_to_webdataset_parallel.py:141-143``) and per-group
first-seen dedup (``src/pmc_oa/build_json.py:828-846``). Here: within one
micro-batch, reduce all change events to a single winning event per
``(conv_id, turn_idx)`` — the one with max ``lsn``. Verbatim duplicate
events share an lsn and are identical, so ties are value-irrelevant.

Scale notes:
- The default path is ``groupBy(key).agg(max_by(...))`` — a hash aggregate
  with **map-side partial aggregation**, so a hot key (one conversation
  turn updated millions of times) is pre-combined on every input partition
  before the shuffle; only one partially-reduced row per key per partition
  crosses the wire. This is the shuffle-minimal plan; a window
  ``row_number()`` would instead shuffle-and-sort every raw event.
- ``lww_reduce_salted`` makes the skew handling *explicit* (north-rule
  requirement): phase 1 reduces per ``(key, salt)`` where salt is derived
  from ``lsn`` so a hot key's events spread over ``n_salts`` reducers;
  phase 2 reduces the ≤ n_salts survivors per key. Result is provably
  identical to the unsalted reduce (max is associative/commutative);
  tests assert equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .schema import CHANGE_COLS, KEY_COLS

_VALUE_COLS = [c for c in CHANGE_COLS if c not in KEY_COLS]


def _winner(df: DataFrame, group_cols: list[str]) -> DataFrame:
    agg = df.groupBy(*group_cols).agg(
        F.max_by(F.struct(*_VALUE_COLS), F.col("lsn")).alias("_w")
    )
    return agg.select(*group_cols, *[F.col(f"_w.{c}").alias(c) for c in _VALUE_COLS])


def lww_reduce(changes: DataFrame) -> DataFrame:
    """One winning event per (conv_id, turn_idx): max lsn."""
    return _winner(changes.select(*CHANGE_COLS), KEY_COLS)


def lww_reduce_salted(changes: DataFrame, n_salts: int = 8) -> DataFrame:
    """Two-phase LWW reduce with an explicit salt on the hot-key shuffle."""
    salted = changes.select(*CHANGE_COLS).withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("lsn")), F.lit(n_salts))
    )
    partial = _winner(salted, [*KEY_COLS, "_salt"]).drop("_salt")
    return _winner(partial, KEY_COLS)


def lww_reduce_aligned(
    changes: DataFrame, bucket_col: str, shuffle_salts: int = 4,
) -> DataFrame:
    """Single-shuffle, bucket-aligned, salt-spread LWW reduce.

    ``changes`` must already carry ``bucket_col`` (= bucket(conv_id)). The
    plan is ``repartition(bucket, salt)`` -> ``groupBy(bucket, salt,
    key)``: because every partitioning expression is one of the grouping
    keys, Catalyst inserts NO second exchange — one wide shuffle total —
    and the aggregate's output stays clustered by bucket. The exchange has
    no partition count (``REPARTITION_BY_COL``), so AQE coalesces it by
    bytes: the ``partitionBy(bucket)`` write that follows emits one file
    per bucket for a small batch and at most ``shuffle_salts`` for a large
    one (AQE never coalesces a count-pinned exchange).

    The salt is the north rule's hot-conversation skew handling applied to
    the merge shuffle itself: ``salt = pmod(xxhash64(turn_idx), k)`` is a
    pure function of the key (so groups are never split — adding it to the
    grouping keys is a no-op for correctness), but it spreads a
    conversation that dominates one bucket across ``k`` reducers/writers
    instead of bottlenecking one task. With zipf-skewed logs the hottest
    bucket otherwise becomes a straggler that caps cluster scaling.
    """
    salt = F.pmod(F.xxhash64(F.col("turn_idx")), F.lit(shuffle_salts))
    shuffled = changes.withColumn("_salt", salt).repartition(
        F.col(bucket_col), F.col("_salt"))
    agg = shuffled.groupBy(bucket_col, "_salt", *KEY_COLS).agg(
        F.max_by(F.struct(*_VALUE_COLS), F.col("lsn")).alias("_w")
    )
    return agg.select(
        bucket_col, *KEY_COLS, *[F.col(f"_w.{c}").alias(c) for c in _VALUE_COLS]
    )
