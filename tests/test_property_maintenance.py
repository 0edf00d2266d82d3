"""Property-based maintenance interleaving: engine == oracle under ANY
sequence of maintenance ops between micro-batches.

Hypothesis draws a generator config AND an arbitrary interleaving of
maintenance operations (minor fold — local or shuffle plan — size-tiered
subset fold, major fold, bin-pack rewrite, or nothing) to run between consecutive batch applies. Whatever the
sequence, the final resolved table must equal the pure-Python replay
oracle — i.e. maintenance commits are invisible to readers by
construction, not just in the hand-picked unit scenarios. Examples are
capped small; each spins real Spark jobs.
"""

from __future__ import annotations

from unittest import mock

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from biomedica_etl_spark.cdc import table as table_mod
from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.merge import compact, compact_layers, rewrite_small_files
from biomedica_etl_spark.cdc.oracle import replay
from biomedica_etl_spark.cdc.runner import CdcRunner

configs = st.fixed_dictionaries(
    {
        "seed": st.integers(0, 2**31 - 1),
        "n_events": st.integers(1_000, 2_500),
        "n_convs": st.integers(10, 80),
        "update_frac": st.floats(0.0, 0.4),
        "delete_frac": st.floats(0.0, 0.25),
        "duplicate_frac": st.floats(0.0, 0.1),
        "batch_size": st.integers(600, 1_200),
        "zipf_a": st.sampled_from([0.0, 1.2]),
        "out_of_order": st.booleans(),
    }
)

OPS = st.lists(
    st.sampled_from(["none", "minor", "minor-shuffle", "tiered", "major",
                     "binpack"]),
    min_size=2, max_size=5,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cfg=configs, ops=OPS)
def test_any_maintenance_interleaving_preserves_state(
    spark, tmp_path_factory, cfg, ops
):
    d = tmp_path_factory.mktemp("propm")
    log = str(d / "log")
    generate_change_log(log, GeneratorConfig(**cfg))
    runner = CdcRunner(spark, log, str(d / "t"), n_buckets=8,
                       compact_every=10**9)
    i = 0
    while True:
        res = runner.run(max_batches=1)
        if not res.batches_applied:
            break
        op = ops[i % len(ops)]
        i += 1
        if op == "minor":
            compact_layers(spark, runner.table, min_layers=1)
        elif op == "minor-shuffle":
            # the limit at -1 routes every bucket to the exchange plan
            with mock.patch.object(table_mod, "LOCAL_MAX_BYTES", -1):
                compact_layers(spark, runner.table, min_layers=1)
        elif op == "tiered":
            # tier cut INSIDE the live layer-size range so some folds
            # select true subsets; collapse bound occasionally triggers
            compact_layers(spark, runner.table, min_layers=1,
                           tier_max_bytes=8 << 10, tier_collapse_at=4)
        elif op == "major":
            compact(spark, runner.table)
        elif op == "binpack":
            rewrite_small_files(spark, runner.table,
                                target_file_bytes=1 << 20)
    actual = [r.asDict() for r in runner.final_state().collect()]
    assert actual == replay(log)


# ---- DML in the interleaving ------------------------------------------------
#
# Predicate DML between micro-batches interacts with out-of-order ingest
# through LSN arithmetic: the DML's fresh LSN sits above every COMMITTED
# lsn, but later batches can carry events on both sides of it — higher
# lsns must resurrect/overwrite, lower ones must lose to the tombstone or
# updated row. The oracle is a pure-python LWW simulator that assigns the
# DML ops the same metadata-derived lsns the engine does.

from biomedica_etl_spark.cdc.oracle import FINAL_COLS, _read_all_events

DML_OPS = st.lists(
    st.sampled_from(["none", "delete", "update", "merge", "minor", "major",
                     "purge"]),
    min_size=2, max_size=5,
)

# the MERGE drawn into interleavings: source = live keys at turn_idx%3==0,
# delete the 'system' ones, suffix the rest (concat with NULL stays NULL,
# mirrored in the simulator)
_MERGE_SRC_PRED_SQL = "turn_idx % 3 = 0"


def _merge_src_pred(row):
    return row["turn_idx"] % 3 == 0


def _merge_apply(row):
    out = dict(row)
    out["text"] = None if out["text"] is None else out["text"] + "~"
    return out

_DEL_PRED_SQL = "turn_idx % 4 = 1"
_UPD_PRED_SQL = "role = 'user'"
_UPD_SET = {"text": "concat(text, '!')", "tool": "'patched'"}


def _del_pred(row):
    return row["turn_idx"] % 4 == 1


def _upd_pred(row):
    return row["role"] == "user"


def _upd_apply(row):
    out = dict(row)
    out["text"] = None if out["text"] is None else out["text"] + "!"
    out["tool"] = "patched"
    return out


def _simulate(events, batch_ids, ops):
    """Python twin of (apply batch, run DML) interleaving under LWW."""
    state: dict[tuple, dict] = {}  # key -> {"lsn", "deleted", "row"}

    def upsert(key, lsn, row, deleted):
        cur = state.get(key)
        if cur is None or lsn > cur["lsn"]:
            state[key] = {"lsn": lsn, "deleted": deleted, "row": row}

    def live():
        return {k: v["row"] for k, v in state.items() if not v["deleted"]}

    committed_hi = 0
    by_batch = {b: [] for b in batch_ids}
    for e in events:
        by_batch[e["batch_id"]].append(e)
    for i, b in enumerate(batch_ids):
        evs = [e for e in by_batch[b]
               if e["op"] in ("I", "U", "D") and e["turn_idx"] >= 0
               and e["conv_id"] is not None and e["lsn"] is not None]
        for e in sorted(evs, key=lambda x: x["lsn"]):
            key = (e["conv_id"], e["turn_idx"])
            row = {c: e.get(c) for c in FINAL_COLS}
            upsert(key, e["lsn"], row, e["op"] == "D")
        if evs:
            committed_hi = max(committed_hi, max(e["lsn"] for e in evs))
        op = ops[i % len(ops)]
        if op == "delete":
            lsn = committed_hi + 1
            for key, row in list(live().items()):
                if _del_pred(row):
                    state[key] = {"lsn": lsn, "deleted": True, "row": row}
            committed_hi = lsn
        elif op == "update":
            lsn = committed_hi + 1
            for key, row in list(live().items()):
                if _upd_pred(row):
                    state[key] = {"lsn": lsn, "deleted": False,
                                  "row": _upd_apply(row)}
            committed_hi = lsn
        elif op == "merge":
            lsn = committed_hi + 1
            for key, row in list(live().items()):
                if _merge_src_pred(row):
                    if row["role"] == "system":
                        state[key] = {"lsn": lsn, "deleted": True, "row": row}
                    else:
                        state[key] = {"lsn": lsn, "deleted": False,
                                      "row": _merge_apply(row)}
            committed_hi = lsn
        # minor/major/purge never change live state
    rows = sorted(live().values(),
                  key=lambda r: (r["conv_id"], r["turn_idx"]))
    return rows


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cfg=configs, ops=DML_OPS)
def test_any_dml_interleaving_matches_lww_simulator(
    spark, tmp_path_factory, cfg, ops
):
    d = tmp_path_factory.mktemp("propd")
    log = str(d / "log")
    generate_change_log(log, GeneratorConfig(**cfg))
    events = _read_all_events(log)
    batch_ids = sorted({e["batch_id"] for e in events})

    runner = CdcRunner(spark, log, str(d / "t"), n_buckets=8,
                       compact_every=10**9)
    i = 0
    applied = []
    while True:
        res = runner.run(max_batches=1)
        if not res.batches_applied:
            break
        applied.extend(res.batches_applied)
        op = ops[i % len(ops)]
        i += 1
        if op == "delete":
            runner.delete_where(_DEL_PRED_SQL)
        elif op == "update":
            runner.update_where(_UPD_PRED_SQL, _UPD_SET)
        elif op == "merge":
            src_df = (runner.table.read(spark, columns=[])
                      .filter(_MERGE_SRC_PRED_SQL)
                      .select("conv_id", "turn_idx"))
            runner.merge_into(
                src_df,
                matched_update={"text": "concat(t.text, '~')"},
                matched_delete_condition="t.role = 'system'",
                insert_unmatched=False)
        elif op == "minor":
            compact_layers(spark, runner.table, min_layers=1)
        elif op == "major":
            compact(spark, runner.table)
        elif op == "purge":
            # contract-safe watermark: below every UNAPPLIED event's lsn
            remaining = [e["lsn"] for e in events
                         if e["batch_id"] not in applied
                         and e["lsn"] is not None]
            w = min(remaining) if remaining else None
            if w is not None:
                compact(spark, runner.table, purge_tombstones_below=w)
            else:
                compact(spark, runner.table)
    expected = _simulate(events, batch_ids, ops)
    actual = [r.asDict() for r in runner.final_state().collect()]
    assert actual == expected
