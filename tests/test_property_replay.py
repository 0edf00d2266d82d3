"""Property-based replay: engine == oracle for arbitrary generator configs.

Hypothesis drives the generator's knobs (event mix, duplicates, disorder,
skew, batch sizing, epoch boundaries); for every drawn config the Spark
engine's final table must equal the pure-Python global-LSN replay. This is
the SURVEY.md §5.3 invariant generalized from hand-picked scenarios to a
searched config space. Examples are capped small and deadline disabled —
each example spins real Spark jobs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.oracle import replay
from biomedica_etl_spark.cdc.runner import CdcRunner

configs = st.fixed_dictionaries(
    {
        "seed": st.integers(0, 2**31 - 1),
        "n_events": st.integers(500, 4_000),
        "n_convs": st.integers(5, 120),
        "update_frac": st.floats(0.0, 0.4),
        "delete_frac": st.floats(0.0, 0.25),
        "absent_key_frac": st.floats(0.0, 0.3),
        "duplicate_frac": st.floats(0.0, 0.1),
        "batch_size": st.integers(200, 1_500),
        "zipf_a": st.sampled_from([0.0, 1.1, 1.6]),
        "out_of_order": st.booleans(),
        "overlap_batches": st.booleans(),
    }
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cfg=configs, compact_every=st.sampled_from([1, 3]))
def test_engine_equals_oracle_for_arbitrary_configs(spark, tmp_path_factory,
                                                    cfg, compact_every):
    # compact_every=1 folds every touched bucket into the base after each
    # commit (the read-optimized layout); 3 lets layers pile up in between
    d = tmp_path_factory.mktemp("prop")
    log = str(d / "log")
    generate_change_log(log, GeneratorConfig(**cfg))
    runner = CdcRunner(
        spark, log, str(d / "t"), n_buckets=8, compact_every=compact_every
    )
    runner.run()
    actual = [r.asDict() for r in runner.final_state().collect()]
    expected = replay(log)
    assert actual == expected
