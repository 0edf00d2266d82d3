"""Property-based IVM for the inverted index: TokenIndex == from-scratch
build under ANY interleaving of ingest, DML, maintenance folds, and
refresh placements.

Hypothesis draws a generator config AND a per-batch action list —
{refresh the index, delete_where, update_where, minor fold, major fold,
or nothing} — then refreshes at the head and compares against a
from-scratch tokenize of the live table. This pins the interactions the
unit tests hand-pick: a refresh window containing BOTH a fold and DML,
retraction shards discovered from pre-images across multiple windows,
and the rebuild fallback firing exactly when a major fold made a window
unservable (refresh must still converge, whatever mode it took).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.index import TokenIndex, postings_of
from biomedica_etl_spark.cdc.merge import compact, compact_layers
from biomedica_etl_spark.cdc.runner import CdcRunner

configs = st.fixed_dictionaries(
    {
        "seed": st.integers(0, 2**31 - 1),
        "n_events": st.integers(800, 1_800),
        "n_convs": st.integers(10, 60),
        "update_frac": st.floats(0.0, 0.4),
        "delete_frac": st.floats(0.0, 0.25),
        "duplicate_frac": st.floats(0.0, 0.1),
        "batch_size": st.integers(400, 900),
        "zipf_a": st.sampled_from([0.0, 1.2]),
        "out_of_order": st.booleans(),
    }
)

ACTIONS = st.lists(
    st.sampled_from(["none", "refresh", "delete", "update", "minor",
                     "major"]),
    min_size=2, max_size=6,
)


def _scratch(spark, table, n_shards):
    return sorted(
        map(tuple,
            postings_of(table.read(spark, columns=["text"]), n_shards)
            .drop("shard").collect()))


def _indexed(spark, idx):
    return sorted(map(tuple, idx.read(spark).collect()))


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cfg=configs, actions=ACTIONS)
def test_index_tracks_any_interleaving(spark, tmp_path_factory, cfg, actions):
    d = tmp_path_factory.mktemp("propidx")
    log = str(d / "log")
    generate_change_log(log, GeneratorConfig(**cfg))
    runner = CdcRunner(spark, log, str(d / "t"), n_buckets=8,
                       compact_every=10**9)
    idx = TokenIndex(str(d / "idx"), n_shards=16)
    modes: list[str] = []
    had_major = False
    i = 0
    while True:
        res = runner.run(max_batches=1)
        if not res.batches_applied:
            break
        act = actions[i % len(actions)]
        i += 1
        if act == "refresh":
            r = idx.refresh(spark, runner.table)
            if r["refreshed"]:
                modes.append(r["mode"])
        elif act == "delete":
            runner.delete_where(f"turn_idx % 5 = {i % 5}")
        elif act == "update":
            runner.update_where(
                f"turn_idx % 4 = {i % 4}",
                {"text": f"concat(text, ' qtok{i}')"})
        elif act == "minor":
            # minor folds are feed-transparent: a refresh window crossing
            # one must stay on the incremental path
            compact_layers(spark, runner.table, min_layers=1)
        elif act == "major":
            compact(spark, runner.table)
            had_major = True
    final = idx.refresh(spark, runner.table)
    if final["refreshed"]:
        modes.append(final["mode"])
    assert _indexed(spark, idx) == _scratch(spark, runner.table, 16)
    # minor folds and DML must NEVER force a rebuild — only a major fold
    # (base rewrite) may; a regression to rebuild-always cannot pass
    if not had_major:
        assert all(m in ("bootstrap", "incremental") for m in modes), modes
