"""Run one MOR apply with event logging; dump per-stage wall/task metrics."""
import json
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _bench_log_dir, N_BUCKETS, SHUFFLE_SALTS  # noqa: E402
from biomedica_etl_spark.cdc.runner import CdcRunner  # noqa: E402
from biomedica_etl_spark.session import get_spark  # noqa: E402

CORES = int(os.environ.get("CORES", "32"))
evdir = tempfile.mkdtemp(prefix="evlog-")
os.environ.setdefault("SPARK_LOCAL_DIRS", "/dev/shm/spark-graft-local")
spark = get_spark(app_name="prof-stages", cores=CORES, shuffle_partitions=CORES,
                  extra_conf={"spark.eventLog.enabled": "true",
                              "spark.eventLog.compress": "false",
                              "spark.eventLog.dir": evdir})
log = _bench_log_dir(16_000_000, 2)
work = tempfile.mkdtemp(prefix="prof-", dir="/dev/shm")
# warm-up
wlog = _bench_log_dir(200_000, 2)
CdcRunner(spark, wlog, os.path.join(work, "w"), n_buckets=N_BUCKETS,
          shuffle_salts=SHUFFLE_SALTS).run()
PIPELINE = int(os.environ.get("PIPELINE", "1"))
t0 = time.time()
r = CdcRunner(spark, log, os.path.join(work, "t"), n_buckets=N_BUCKETS,
              compact_every=1_000_000, shuffle_salts=SHUFFLE_SALTS,
              async_lineage=PIPELINE > 1, pipeline_depth=PIPELINE)
r.run()
wall = time.time() - t0
print(f"TOTAL {wall:.2f}s", flush=True)
spark.stop()

stages = {}
logfiles = [os.path.join(dp, f) for dp, _, fs in os.walk(evdir) for f in fs
            if "appstatus" not in f]
for path in logfiles:
    for line in open(path):
        try:
            e = json.loads(line)
        except Exception:
            continue
        if e.get("Event") == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            sid = si["Stage ID"]
            sub = si["Submission Time"] / 1000
            comp = si["Completion Time"] / 1000
            # UPDATE, not assign: the per-task metric aggregates for this
            # stage were accumulated from the TaskEnd events that precede
            # StageCompleted in the log
            stages.setdefault(sid, {}).update({
                "name": si["Stage Name"].split("\n")[0][:60],
                "tasks": si["Number of Tasks"],
                "wall": round(comp - sub, 2),
                "sub": sub,
            })
        elif e.get("Event") == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            m = e.get("Task Metrics") or {}
            d = stages.setdefault(sid, {})
            agg = d.setdefault("agg", defaultdict(float))
            agg["run_ms"] += m.get("Executor Run Time", 0)
            agg["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            agg["gc_ms"] += m.get("JVM GC Time", 0)
            agg["deser_ms"] += m.get("Executor Deserialize Time", 0)
            agg["result_ser_ms"] += m.get("Result Serialization Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            agg["sh_fetch_ms"] += sr.get("Fetch Wait Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            agg["sh_write_ms"] += sw.get("Shuffle Write Time", 0) / 1e6
            agg["sh_write_bytes"] += sw.get("Shuffle Bytes Written", 0)

t_first = min(s["sub"] for s in stages.values() if "sub" in s)
for sid in sorted(stages):
    s = stages[sid]
    if "name" not in s:
        continue
    a = s.get("agg", {})
    print(f"stage {sid:3d} +{s['sub']-t_first:7.1f}s wall={s['wall']:6.2f}s "
          f"tasks={s['tasks']:4d} run={a.get('run_ms',0)/1000:7.1f}s "
          f"cpu={a.get('cpu_ms',0)/1000:7.1f}s gc={a.get('gc_ms',0)/1000:5.1f}s "
          f"shw={a.get('sh_write_bytes',0)/1e6:8.1f}MB {s['name']}")
shutil.rmtree(work, ignore_errors=True)
