"""Property-based IVM for the materialized join: JoinView == from-scratch
join under ANY interleaving of ingest, DML, and maintenance on EITHER
side, with refreshes placed arbitrarily between windows.

Hypothesis draws two generator configs (same conversation universe,
independent shapes) AND a per-step action list — {advance A, advance B,
delete on A, update on B, minor fold, major fold, refresh, nothing} —
then refreshes at the head and compares against the from-scratch inner
join of the two live states. This pins the interactions the unit tests
hand-pick: a refresh window where BOTH sides changed the same key, a
delete on one side retracting rows whose other side is untouched, the
unchanged-side point-lookup path, minor-fold transparency, and the
rebuild fallback firing exactly when a major fold made either side's
window unservable (the refresh must still converge, whatever mode).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.merge import compact, compact_layers
from biomedica_etl_spark.cdc.runner import CdcRunner
from biomedica_etl_spark.cdc.view import JoinView

configs = st.fixed_dictionaries(
    {
        "seed": st.integers(0, 2**31 - 1),
        "n_events": st.integers(600, 1_400),
        "update_frac": st.floats(0.0, 0.4),
        "delete_frac": st.floats(0.0, 0.25),
        "batch_size": st.integers(300, 700),
        "zipf_a": st.sampled_from([0.0, 1.2]),
        "out_of_order": st.booleans(),
    }
)

ACTIONS = st.lists(
    st.sampled_from(["a", "b", "ab", "refresh", "delete_a", "update_b",
                     "minor_a", "major_b", "none"]),
    min_size=3, max_size=8,
)


def _scratch(spark, a, b):
    left = a.read(spark)
    right = (b.read(spark, columns=["text"])
             .select("conv_id", "turn_idx", F.col("text").alias("note")))
    return sorted(
        map(tuple, left.join(right, ["conv_id", "turn_idx"]).collect()))


def _viewed(spark, v, cols):
    return sorted(map(tuple, v.read(spark).select(cols).collect()))


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cfg_a=configs, cfg_b=configs, actions=ACTIONS)
def test_view_tracks_any_interleaving(spark, tmp_path_factory, cfg_a, cfg_b,
                                      actions):
    d = tmp_path_factory.mktemp("propview")
    la, lb = str(d / "la"), str(d / "lb")
    generate_change_log(la, GeneratorConfig(n_convs=30, **cfg_a))
    generate_change_log(lb, GeneratorConfig(n_convs=30, **cfg_b))
    ra = CdcRunner(spark, la, str(d / "ta"), n_buckets=8,
                   compact_every=10**9)
    rb = CdcRunner(spark, lb, str(d / "tb"), n_buckets=8,
                   compact_every=10**9)
    ra.run(max_batches=1)
    rb.run(max_batches=1)
    v = JoinView(str(d / "v"), n_shards=8, compact_at=3)
    modes: list[str] = []
    had_major = False
    done_a = done_b = 1
    for i, act in enumerate(actions):
        if act == "a":
            done_a += 1
            ra.run(max_batches=done_a)
        elif act == "b":
            done_b += 1
            rb.run(max_batches=done_b)
        elif act == "ab":
            done_a += 1
            done_b += 1
            ra.run(max_batches=done_a)
            rb.run(max_batches=done_b)
        elif act == "refresh":
            r = v.refresh(spark, ra.table, rb.table)
            if r["refreshed"]:
                modes.append(r["mode"])
        elif act == "delete_a":
            ra.delete_where(f"turn_idx % 5 = {i % 5}")
        elif act == "update_b":
            rb.update_where(f"turn_idx % 4 = {i % 4}",
                            {"text": f"concat(text, ' vb{i}')"})
        elif act == "minor_a":
            compact_layers(spark, ra.table, min_layers=1)
        elif act == "major_b":
            compact(spark, rb.table)
            had_major = True
    final = v.refresh(spark, ra.table, rb.table)
    if final["refreshed"]:
        modes.append(final["mode"])
    want = _scratch(spark, ra.table, rb.table)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "note"]
    assert _viewed(spark, v, cols) == want
    # minor folds and DML must never force a rebuild; only a major fold may
    if not had_major:
        assert all(m in ("bootstrap", "incremental") for m in modes), modes
