"""Schema registry + per-batch schema evolution.

The reference widens its record schema mid-pipeline: the Entrez stage adds
``abstract/mesh/reference_ids/reference_count`` key-value pairs to records
that were already written without them (reference
``scripts/05_json_to_entrez.py:324-328``). Here that becomes a per-batch
``schema_id`` (epoch): epoch 0 lacks ``tool``; epoch 1 adds it; epoch 2
widens ``turn_idx`` int32 -> int64. The registry aligns any epoch's frame to
the *target* (max-epoch) schema so merges never mix Arrow/Parquet types.

Alignment is pure metadata work for Catalyst — ``lit(None).cast`` for the
added column and an upcast for the widened one — so it costs nothing at
scale and keeps the whole read inside WholeStageCodegen.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- Target (max-epoch) transcript payload schema, per BASELINE.json input_hint.
# turn_idx is int64 AFTER the widening epoch; epoch 0/1 store int32 on disk.
PAYLOAD_FIELDS: list[tuple[str, T.DataType]] = [
    ("conv_id", T.StringType()),
    ("turn_idx", T.LongType()),
    ("role", T.StringType()),
    ("text", T.StringType()),
    ("tool", T.StringType()),
    ("ts", T.TimestampType()),
]

KEY_COLS = ["conv_id", "turn_idx"]
PAYLOAD_COLS = [name for name, _ in PAYLOAD_FIELDS]

# Change-event envelope around the payload (FIXTURES.md §2).
CHANGE_ENVELOPE: list[tuple[str, T.DataType]] = [
    ("lsn", T.LongType()),
    ("op", T.StringType()),  # 'I' | 'U' | 'D'
]
CHANGE_COLS = [n for n, _ in CHANGE_ENVELOPE] + PAYLOAD_COLS

# System columns carried in the stored table (tombstones keep cross-batch
# out-of-order application order-independent; see merge.py).
SYS_LSN = "_lsn"
SYS_DELETED = "_deleted"


def change_schema_for_epoch(schema_id: int) -> T.StructType:
    """Physical on-disk schema of change files written at a given epoch."""
    turn_t: T.DataType = T.LongType() if schema_id >= 2 else T.IntegerType()
    fields = [
        T.StructField("lsn", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", turn_t, False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
    ]
    if schema_id >= 1:
        fields.append(T.StructField("tool", T.StringType(), True))
    fields.append(T.StructField("ts", T.TimestampType(), True))
    return T.StructType(fields)


def target_change_schema() -> T.StructType:
    fields = [T.StructField(n, t, n not in ("lsn", "op")) for n, t in CHANGE_ENVELOPE + PAYLOAD_FIELDS]
    return T.StructType(fields)


def target_change_arrow_schema() -> pa.Schema:
    """``target_change_schema`` in Arrow, for changes read on the driver.
    ``ts`` is UTC-tagged: the log's naive timestamps hold UTC micros,
    which is how Spark reads them too, whatever the session time zone."""
    to_arrow = {"string": pa.string(), "bigint": pa.int64(),
                "timestamp": pa.timestamp("us", tz="UTC")}
    return pa.schema([(f.name, to_arrow[f.dataType.simpleString()])
                      for f in target_change_schema().fields])


def align_to_target(df: DataFrame) -> DataFrame:
    """Align an epoch frame to the target change schema.

    Adds missing nullable columns as typed NULLs and upcasts widened types.
    Equivalent of ``unionByName(allowMissingColumns=True)`` semantics but
    explicit, so the resulting schema is identical regardless of epoch.
    Extra columns (e.g. partition-discovered batch_id/schema_id) pass
    through untouched.
    """
    existing = {f.name: f.dataType for f in df.schema.fields}
    out = df
    for name, dtype in CHANGE_ENVELOPE + PAYLOAD_FIELDS:
        if name not in existing:
            out = out.withColumn(name, F.lit(None).cast(dtype))
        elif existing[name] != dtype:
            out = out.withColumn(name, F.col(name).cast(dtype))
    extras = [c for c in out.columns if c not in CHANGE_COLS]
    return out.select(*CHANGE_COLS, *extras)


class SchemaRegistry:
    """schema_id -> StructType, with the evolution epochs pre-registered.

    Mirrors the per-batch ``schema_id`` of FIXTURES.md §2; a real deployment
    would back this with a registry service — here it is deterministic code
    so replay is bit-stable.
    """

    def __init__(self) -> None:
        self._schemas: dict[int, T.StructType] = {}
        for epoch in (0, 1, 2):
            self.register(epoch, change_schema_for_epoch(epoch))

    def register(self, schema_id: int, schema: T.StructType) -> None:
        self._schemas[schema_id] = schema

    def get(self, schema_id: int) -> T.StructType:
        return self._schemas[schema_id]

    @property
    def max_epoch(self) -> int:
        return max(self._schemas)
