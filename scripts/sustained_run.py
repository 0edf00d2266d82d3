"""Sustained-ingest evidence run: apply a 64M-event change log end-to-end
(4 micro-batches of 16M, zipf skew, schema evolution mid-stream) and append
the measured rate to BENCH/BASELINE.md. The 10^10-event design point is
this exact loop with more batches on more executors — per-batch cost is
O(delta), so the sustained rate is the number that extrapolates.

``--flat`` mode: apply a 64-micro-batch log one batch at a time and fit a
line to the per-batch wall times. Round 1's metadata path re-read every
snapshot manifest per batch (O(B²) over a run); with the incremental cache
the fit's slope must be ~0 — per-batch driver overhead independent of how
many batches precede it. Results go to BENCH/SUSTAINED.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from biomedica_etl_spark.session import get_spark  # noqa: E402

EVENTS = int(os.environ.get("EV", "64000000"))
BATCHES = int(os.environ.get("BA", "4"))
CORES = int(os.environ.get("CORES", "16"))
FLAT_BATCHES = int(os.environ.get("FLAT_BATCHES", "64"))
FLAT_EVENTS = int(os.environ.get("FLAT_EVENTS", "6400000"))


def flat_overhead_main() -> None:
    """Per-batch wall flatness over ≥64 micro-batches (same session, same
    batch size — any O(completed-batches) driver cost shows as slope)."""
    from biomedica_etl_spark.cdc.runner import CdcRunner

    bench._use_tmpfs_local_dirs()
    spark = get_spark(app_name="flat-overhead", cores=CORES,
                      shuffle_partitions=CORES)
    workdir = tempfile.mkdtemp(prefix="flat-", dir="/dev/shm")
    bench.run_cdc_apply(spark, os.path.join(workdir, "warm"),
                        events=bench.WARMUP_EVENTS, batches=2)
    log = bench._bench_log_dir(FLAT_EVENTS, FLAT_BATCHES)
    runner = CdcRunner(spark, log, os.path.join(workdir, "table"),
                       n_buckets=bench.N_BUCKETS,
                       compact_every=1_000_000_000,
                       shuffle_salts=bench.SHUFFLE_SALTS, async_lineage=True)
    per_batch: list[float] = []
    for _ in range(FLAT_BATCHES):
        t0 = time.time()
        res = runner.run(max_batches=1)
        per_batch.append(time.time() - t0)
        if not res.batches_applied:
            break
    n = len(per_batch)
    xs = list(range(n))
    mx, my = sum(xs) / n, sum(per_batch) / n
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, per_batch)) / max(
        sum((x - mx) ** 2 for x in xs), 1e-9)
    first, second = per_batch[: n // 2], per_batch[n // 2:]
    out = {
        "metric": "per_batch_wall_flatness",
        "batches": n,
        "events_per_batch": FLAT_EVENTS // FLAT_BATCHES,
        "cores": CORES,
        "mean_sec": round(my, 3),
        "slope_ms_per_batch": round(slope * 1000, 2),
        "first_half_mean": round(sum(first) / len(first), 3),
        "second_half_mean": round(sum(second) / len(second), 3),
        "per_batch_sec": [round(s, 3) for s in per_batch],
    }
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/SUSTAINED.md", "a") as f:
        f.write(
            f"\n## Per-batch driver-overhead flatness ({n} micro-batches, "
            f"local[{CORES}])\n\n"
            f"Each batch is identical ({out['events_per_batch']:,} events), so "
            f"any cost that grows with the number of COMPLETED batches (the "
            f"round-1 O(B²) manifest re-scan) would appear as a positive "
            f"slope.\n\n"
            f"- mean per-batch wall: {out['mean_sec']} s\n"
            f"- linear fit slope: {out['slope_ms_per_batch']} ms/batch\n"
            f"- first-half mean {out['first_half_mean']} s vs second-half "
            f"mean {out['second_half_mean']} s\n"
        )
    print(json.dumps(out))
    spark.stop()
    shutil.rmtree(workdir, ignore_errors=True)


def async_overlap_main() -> None:
    """Adjudicate the compaction tax: same 64M-event log, three configs
    interleaved in ONE host phase (the VM's deliverable CPU drifts
    several-fold between phases, so only same-phase ratios mean anything):

    - ``apply``: compaction off — the ceiling.
    - ``blocking``: compact_every=ASYNC_THRESHOLD, folds run inline and
      BLOCK the apply loop (the pre-r4 behavior).
    - ``async``: same threshold, ``async_compact=True`` — folds run on
      the maintenance thread DURING ingest, wall includes the final
      drain, and the end state carries the same bounded-layer invariant.
    - ``async-minor``: async maintenance with ``compact_mode='minor'`` —
      threshold folds merge the layers only (O(delta), base never read).
      This is the steady-state shape at the 10^10 design point, where
      the base dwarfs the deltas and an O(bucket) major fold per
      threshold crossing would dominate maintenance cost.

    The log is cut into enough micro-batches (ASYNC_BATCHES, default 16)
    that folds amortize across the run instead of landing once at the
    end — the steady-state shape the 10^10-event design point has.

    Acceptance (VERDICT r3 item 6): async sustained rate >= 70% of the
    same-phase apply-only rate."""
    bench._use_tmpfs_local_dirs()
    spark = get_spark(app_name="sustained-async", cores=CORES,
                      shuffle_partitions=CORES)
    workdir = tempfile.mkdtemp(prefix="sustained-", dir="/dev/shm")
    bench.run_cdc_apply(spark, os.path.join(workdir, "warm"),
                        events=bench.WARMUP_EVENTS, batches=2)
    reps = int(os.environ.get("REPS", "2"))
    batches = int(os.environ.get("ASYNC_BATCHES", "16"))
    threshold = int(os.environ.get("ASYNC_THRESHOLD", "4"))
    best: dict[str, dict] = {}
    for rep in range(reps):
        for cfg in ("apply", "blocking", "async", "async-minor",
                    "async-tiered", "async-tiered+index"):
            wd = os.path.join(workdir, f"{cfg}{rep}")
            # +index: the inverted index is ALSO maintained in-loop
            # (CdcRunner(maintain=), async, every 2nd batch) — the delta
            # vs async-tiered is the full price of continuous search-
            # index freshness at the 64M protocol scale
            maintain = None
            if cfg.endswith("+index"):
                from biomedica_etl_spark.cdc.index import TokenIndex

                maintain = [TokenIndex(wd + "-idx", n_shards=64)]
            s0 = bench._steal_ticks()
            t0 = time.time()
            sec, events, runner = bench.run_cdc_apply(
                spark, wd, events=EVENTS, batches=batches,
                compact_every=(1_000_000_000 if cfg == "apply"
                               else threshold),
                async_compact=cfg.startswith("async"),
                compact_mode=("minor" if cfg.startswith("async-minor")
                              or cfg.startswith("async-tiered")
                              else "major"),
                # self-tuned tier: derived from the freshest append's
                # size at each fold (merge.compact_layers tier_max_bytes)
                fold_tier_bytes=(-1 if cfg.startswith("async-tiered")
                                 else 0),
                maintain=maintain, maintain_every=2,
                async_maintain=maintain is not None)
            wall = time.time() - t0
            if maintain is not None:
                assert maintain[0].cursor() == runner.table \
                    .current_snapshot()["snapshot_id"]
            steal = (bench._steal_ticks() - s0) / max(
                wall * 100 * bench.HOST_CPUS, 1) * 100
            att = {"wall_sec": round(wall, 1),
                   "events_per_sec": round(events / wall, 1),
                   "steal_pct": round(steal, 1),
                   "max_layers_end": runner.table.max_delta_layers(),
                   "compactions_run": runner.compactions_run}
            if maintain is not None:
                att["maintenance_refreshes"] = runner.maintenance_refreshes
            print(json.dumps({"rep": rep, "cfg": cfg, **att}),
                  file=sys.stderr)
            if cfg not in best or att["events_per_sec"] > best[cfg][
                    "events_per_sec"]:
                best[cfg] = att
            shutil.rmtree(wd, ignore_errors=True)
            shutil.rmtree(wd + "-idx", ignore_errors=True)
    ratio_async = best["async"]["events_per_sec"] / best["apply"][
        "events_per_sec"]
    ratio_blocking = best["blocking"]["events_per_sec"] / best["apply"][
        "events_per_sec"]
    ratio_minor = best["async-minor"]["events_per_sec"] / best["apply"][
        "events_per_sec"]
    ratio_tiered = best["async-tiered"]["events_per_sec"] / best["apply"][
        "events_per_sec"]
    ratio_tiered_idx = best["async-tiered+index"]["events_per_sec"] / best[
        "apply"]["events_per_sec"]
    out = {"metric": "sustained_async_overlap", "events": EVENTS,
           "batches": batches, "compact_every": threshold, "cores": CORES,
           "reps": reps, "best": best,
           "async_vs_apply": round(ratio_async, 3),
           "blocking_vs_apply": round(ratio_blocking, 3),
           "async_minor_vs_apply": round(ratio_minor, 3),
           "async_tiered_vs_apply": round(ratio_tiered, 3),
           "async_tiered_index_vs_apply": round(ratio_tiered_idx, 3)}
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/SUSTAINED.md", "a") as f:
        f.write(
            f"\n## Async-compaction overlap ({EVENTS:,} events, "
            f"{batches} micro-batches, compact_every={threshold}, "
            f"local[{CORES}], interleaved best-of-{reps})\n\n"
            f"Same log, same phase: apply-only ceiling vs blocking "
            f"inline folds vs `async_compact=True` (maintenance-thread "
            f"folds during ingest, wall includes drain; end state keeps "
            f"every bucket under the layer threshold).\n\n"
            f"| config | ev/s | wall s | steal% | layers@end | folds |\n"
            f"|---|---|---|---|---|---|\n"
            + "".join(
                f"| {c} | {b['events_per_sec']:,.0f} | {b['wall_sec']} "
                f"| {b['steal_pct']} | {b['max_layers_end']} "
                f"| {b['compactions_run']} |\n"
                for c, b in best.items())
            + f"\n- async / apply-only = **{ratio_async:.2f}** "
            f"(bar: >= 0.70); blocking / apply-only = "
            f"{ratio_blocking:.2f}; async-minor / apply-only = "
            f"**{ratio_minor:.2f}** (minor folds never read the base — "
            f"the O(delta) maintenance shape the 10^10 design point "
            f"needs; a minor fold leaves 1 merged layer per bucket by "
            f"design, so layers@end=1 is the invariant, not a "
            f"shortfall); async-tiered / apply-only = "
            f"**{ratio_tiered:.2f}** (size-tiered folds additionally "
            f"never re-read a grown merged layer — each row is "
            f"minor-folded at most once; layers@end counts the resident "
            f"large tier, bounded by tier_collapse_at); "
            f"async-tiered+index / apply-only = "
            f"**{ratio_tiered_idx:.2f}** (the inverted index ALSO kept "
            f"fresh in-loop via CdcRunner(maintain=), async refresh "
            f"every 2nd batch, index at head at drain — the delta vs "
            f"async-tiered is the full continuous-search-freshness "
            f"price)\n")
    print(json.dumps(out))
    spark.stop()
    shutil.rmtree(workdir, ignore_errors=True)


if "--flat" in sys.argv:
    flat_overhead_main()
    raise SystemExit(0)

if "--async" in sys.argv:
    async_overlap_main()
    raise SystemExit(0)

bench._use_tmpfs_local_dirs()
spark = get_spark(app_name="sustained", cores=CORES, shuffle_partitions=CORES)
workdir = tempfile.mkdtemp(prefix="sustained-", dir="/dev/shm")
bench.run_cdc_apply(spark, os.path.join(workdir, "warm"),
                    events=bench.WARMUP_EVENTS, batches=2)
sec, events, runner = bench.run_cdc_apply(
    spark, workdir, events=EVENTS, batches=BATCHES, compact_every=1_000_000_000
)
rate = events / sec
live = runner.table.read(spark, columns=[]).count()
t0 = time.time()
from biomedica_etl_spark.cdc.merge import compact  # noqa: E402

compact(spark, runner.table, shuffle_salts=bench.SHUFFLE_SALTS)
compact_sec = time.time() - t0
out = {
    "events": events, "batches": BATCHES, "cores": CORES,
    "apply_sec": round(sec, 1), "events_per_sec": round(rate, 1),
    "live_rows": live, "compact_sec": round(compact_sec, 1),
    "sustained_incl_compact": round(events / (sec + compact_sec), 1),
}
print(json.dumps(out))
spark.stop()
shutil.rmtree(workdir, ignore_errors=True)
