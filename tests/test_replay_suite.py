"""Reference replay suite (SURVEY.md §5.1): every generator scenario applied
by the Spark engine must reproduce the pure-Python oracle's final state under
stable (conv_id, turn_idx) ordering — the BASELINE.json pass gate."""

from __future__ import annotations

import pytest

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log

from tests.conftest import run_and_compare

# Downsized versions of generator.SCENARIOS so the whole suite stays fast;
# semantics (not volume) are what each case exercises.
CASES: dict[str, GeneratorConfig] = {
    "insert_only": GeneratorConfig(n_events=4_000, update_frac=0.0, delete_frac=0.0,
                                   batch_size=1_000, n_convs=80),
    "update_delete_mix": GeneratorConfig(n_events=4_000, batch_size=1_000, n_convs=80),
    "duplicates": GeneratorConfig(n_events=4_000, batch_size=1_000, duplicate_frac=0.08,
                                  n_convs=80),
    "out_of_order": GeneratorConfig(n_events=4_000, batch_size=1_000, out_of_order=True,
                                    n_convs=80),
    "absent_keys": GeneratorConfig(n_events=4_000, batch_size=1_000, absent_key_frac=0.25,
                                   n_convs=80),
    "schema_evolution": GeneratorConfig(n_events=4_000, batch_size=500, n_convs=80,
                                        schema_epoch_starts=(0.0, 0.3, 0.6)),
    "replay_overlap": GeneratorConfig(n_events=4_000, batch_size=1_000,
                                      overlap_batches=True, n_convs=80),
    "skew_hot": GeneratorConfig(n_events=6_000, batch_size=1_500, zipf_a=1.5, n_convs=40),
    "everything": GeneratorConfig(n_events=8_000, batch_size=1_000, duplicate_frac=0.03,
                                  out_of_order=True, absent_key_frac=0.05,
                                  overlap_batches=True, zipf_a=1.2, n_convs=60),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_scenario_matches_oracle(spark, tmp_path, name):
    log = str(tmp_path / "log")
    generate_change_log(log, CASES[name])
    run_and_compare(spark, log, str(tmp_path / "table"))


def test_partitioning_invariance(spark, tmp_path):
    """Final state must be independent of micro-batch partitioning
    (1 big batch vs many small batches) — SURVEY.md §5.3."""
    from biomedica_etl_spark.cdc.oracle import replay

    # pin a single schema epoch: epochs are a function of the batch axis, so
    # they (intentionally) differ between the two partitionings otherwise
    base = dict(n_events=4_000, n_convs=80, update_frac=0.3, delete_frac=0.08,
                schema_epoch_starts=(0.0, 0.0, 0.0))
    one = str(tmp_path / "one")
    many = str(tmp_path / "many")
    generate_change_log(one, GeneratorConfig(batch_size=1_000_000, **base))
    generate_change_log(many, GeneratorConfig(batch_size=250, **base))
    assert replay(one) == replay(many)
    r1, _ = run_and_compare(spark, one, str(tmp_path / "t1"))
    r2, _ = run_and_compare(spark, many, str(tmp_path / "t2"))
    a = [r.asDict() for r in r1.final_state().collect()]
    b = [r.asDict() for r in r2.final_state().collect()]
    assert a == b
