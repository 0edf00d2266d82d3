"""spark_replay (one-shot global max_by plan) must equal the dict replay.

The Spark oracle exists so soaks beyond the dict replay's reach (10^8+
events) still have an independent correctness gate; this pins the two
oracles against each other — and against the engine — on an adversarial
log (dupes, out-of-order, corrupt rows, absent-key deletes, schema
evolution mid-stream), including the max_batch_id prefix form.
"""

import os

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.oracle import FINAL_COLS, replay, spark_replay
from biomedica_etl_spark.cdc.runner import CdcRunner


def _rows(df):
    return sorted(
        ([r[c] for c in FINAL_COLS] for r in df.collect()),
        key=lambda t: (t[0], t[1]),
    )


def test_spark_replay_matches_dict_replay_and_engine(spark, tmp_path):
    log = os.path.join(tmp_path, "log")
    generate_change_log(log, GeneratorConfig(
        n_events=12_000, batch_size=2_000, duplicate_frac=0.05,
        out_of_order=True, absent_key_frac=0.08, zipf_a=1.3, n_convs=150,
        corrupt_frac=0.03,
    ))
    expected = [[r[c] for c in FINAL_COLS] for r in replay(log)]

    got = _rows(spark_replay(spark, log))
    assert got == expected

    # prefix replay (mid-stream cut) agrees too
    exp3 = [[r[c] for c in FINAL_COLS] for r in replay(log, max_batch_id=3)]
    assert _rows(spark_replay(spark, log, max_batch_id=3)) == exp3

    # and the engine's incremental path lands on the same final state
    r = CdcRunner(spark, log, os.path.join(tmp_path, "t"), n_buckets=8,
                  compact_every=3)
    r.run()
    assert _rows(r.final_state()) == expected
