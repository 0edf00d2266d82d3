from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from biomedica_etl_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="biomedica-etl-spark-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ingested_mor(spark, tmp_path_factory):
    """``(runner, index)`` after ingesting a generated log (redeliveries,
    deletes, out-of-order events, three schema epochs) through the MOR
    runner with minor folds and an in-loop token index. Built once per
    session; its users only read it."""
    from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
    from biomedica_etl_spark.cdc.index import TokenIndex
    from biomedica_etl_spark.cdc.runner import CdcRunner

    d = tmp_path_factory.mktemp("ingested-mor")
    log = str(d / "log")
    generate_change_log(log, GeneratorConfig(
        n_events=1_500, batch_size=300, n_convs=30, duplicate_frac=0.05,
        out_of_order=True))
    idx = TokenIndex(str(d / "idx"), n_shards=4, compact_at=3)
    r = CdcRunner(spark, log, str(d / "t"), n_buckets=4,
                  compact_every=3, maintain=[idx])
    r.run()
    return r, idx


# runner options for the two table layouts a test can sweep: "mor" keeps
# each batch's delta layer (the short test logs stay under the default
# compact_every), "base_only" folds every touched bucket into the base
# after each commit (compact_every=1, major folds: the read-optimized
# layout)
LAYOUTS = {"base_only": {"compact_every": 1}, "mor": {}}

_INGESTED: dict[tuple, str] = {}


def ingested_copy(spark, log_dir: str, root: str, **runner_kw):
    """A ``CdcRunner`` over ``root``, a copy of the table ``log_dir``
    ingests to under ``runner_kw``. The ingest runs once per session for
    each (log, options) pair; every caller gets its own copy, opened cold
    the way a restarted driver opens it (its ``run()`` applies nothing),
    so callers that write to it stay independent."""
    from biomedica_etl_spark.cdc.runner import CdcRunner

    key = (log_dir, tuple(sorted(runner_kw.items())))
    src = _INGESTED.get(key)
    if src is None:
        src = f"{log_dir}.ingested-{len(_INGESTED)}"
        CdcRunner(spark, log_dir, src, **runner_kw).run()
        _INGESTED[key] = src
    shutil.copytree(src, root)
    runner = CdcRunner(spark, log_dir, root, **runner_kw)
    assert runner.run().batches_applied == []
    return runner


def run_and_compare(spark, log_dir: str, table_root: str, n_buckets: int = 8, **runner_kw):
    """Apply the full log with CdcRunner and assert equality vs the oracle."""
    from biomedica_etl_spark.cdc.oracle import replay
    from biomedica_etl_spark.cdc.runner import CdcRunner

    runner = CdcRunner(spark, log_dir, table_root, n_buckets=n_buckets, **runner_kw)
    result = runner.run()
    actual = [r.asDict() for r in runner.final_state().collect()]
    expected = replay(log_dir)
    assert len(actual) == len(expected), (len(actual), len(expected))
    for a, e in zip(actual, expected):
        assert a == e, f"row mismatch:\nactual:   {a}\nexpected: {e}"
    return runner, result
