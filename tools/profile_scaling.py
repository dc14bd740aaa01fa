"""Per-stage CPU attribution for the N vs 4N scaling gap.

Runs the same pinned CDC-apply child as tools/bench_scaling.py at two
parallelism levels with Spark's event log enabled, then parses the event
logs and reports, per stage: wall time, executor CPU time, JVM GC time,
shuffle write time, deserialize/serialize time — so every inflated
cpu-second at 4N is attributed to a named stage and a named metric
(GC vs shuffle vs compute), not guessed.

Usage: python tools/profile_scaling.py 12000000x2 2 [n_batches]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, shutil, sys, tempfile, time
sys.path.insert(0, __REPO__)
from translator_ingests_spark.session import get_spark
from translator_ingests_spark.cdc.apply import CdcEngine

spec = sys.argv[1]; source = sys.argv[2]; n_batches = int(sys.argv[3])
evlog = sys.argv[4]
GC = "-XX:+UnlockExperimentalVMOptions -XX:G1NewSizePercent=50 -XX:G1MaxNewSizePercent=70"
EVCONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.dir": "file://" + evlog,
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
    **({"spark.local.dir": os.environ["PROF_LOCAL_DIR"]}
       if os.environ.get("PROF_LOCAL_DIR") else {}),
}
if "," in spec:
    # local-cluster[k,c,mem]: real executor JVMs
    k, c, _mem = spec.split(",")
    cores = int(k) * int(c)
    from pyspark.sql import SparkSession
    builder = (SparkSession.builder.master(f"local-cluster[{spec}]")
        .appName("profscale")
        .config("spark.executor.memory", f"{int(_mem) - 2048}m")
        .config("spark.executor.extraJavaOptions", GC)
        .config("spark.driver.memory", "8g")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        .config("spark.locality.wait", "0"))
    for kk, vv in EVCONF.items():
        builder = builder.config(kk, vv)
    spark = builder.getOrCreate()
else:
    cores = int(spec)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    spark = get_spark(
        "profscale", cores=cores, shuffle_partitions=64,
        extra_conf={"spark.driver.extraJavaOptions": GC, **EVCONF},
    )
spark.sparkContext.setLogLevel("ERROR")

from translator_ingests_spark.cdc.generator import generate_event_log
parts = source.split("x")
n_ev = int(parts[0]); rep = int(parts[1]) if len(parts) > 1 else 1
log = generate_event_log(
    spark, n_ev, seed=42, n_repos=500, n_mega_repos=2,
    hot_fraction=0.3, paths_per_repo=200, n_spark_partitions=max(cores * 2, 64),
    content_repeat=rep,
)
log_dir = tempfile.mkdtemp(prefix="proflog_") + "/log.parquet"
log.write.mode("overwrite").parquet(log_dir)
log = spark.read.parquet(log_dir)
n = log.count()

root_w = tempfile.mkdtemp(prefix="warm_")
eng_w = CdcEngine(spark, root_w, num_buckets=32)
# warm ALL executors: limit(2000) is 1-2 tasks and leaves most executor
# JVMs JIT-cold in multi-JVM mode (their first measured tasks then run
# interpreted); spread enough warm-up tasks that every executor compiles
# the hot codegen loops (a per-node constant on a real cluster)
eng_w.apply_log(
    log.limit(60000).repartition(max(cores * 4, 16)),
    n_batches=1, total_events=60000, cache_log=False,
)
shutil.rmtree(root_w, ignore_errors=True)

# mark the start of the measured region so the parser can drop warm-up jobs
spark.sparkContext.setJobGroup("measured", "measured")
spark.sparkContext.setLocalProperty("spark.job.description", "MEASURED-START")
root = tempfile.mkdtemp(prefix="prof_")
eng = CdcEngine(spark, root, num_buckets=64)
t0 = time.monotonic()
eng.apply_log(log, n_batches=n_batches, total_events=n, cache_log=False)
elapsed = time.monotonic() - t0
shutil.rmtree(root, ignore_errors=True)
shutil.rmtree(os.path.dirname(log_dir), ignore_errors=True)
print(json.dumps({"cores": cores, "elapsed": elapsed, "n": n}))
spark.stop()
"""


def run_level(spec: str, pin: int, source: str, n_batches: int) -> tuple[dict, dict]:
    evlog = tempfile.mkdtemp(prefix=f"evlog{pin}_")
    script = CHILD.replace("__REPO__", repr(REPO))
    cmd = [
        "taskset", "-c", f"0-{pin - 1}", sys.executable, "-c", script,
        spec, source, str(n_batches), evlog,
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=3000)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-3000:])
        raise RuntimeError("child failed")
    head = json.loads(lines[-1])
    stages = parse_event_log(evlog)
    return head, stages


def parse_event_log(evlog_dir: str) -> dict:
    """Aggregate per-stage task metrics from the Spark event log."""
    stages: dict = {}
    measured_jobs: set[int] = set()
    job_stages: dict[int, list[int]] = {}
    saw_marker = False
    paths = []
    for dirpath, _dirs, files in os.walk(evlog_dir):
        for fn in files:
            if "appstatus" not in fn:
                paths.append(os.path.join(dirpath, fn))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    job_stages[jid] = [
                        s["Stage ID"] for s in ev.get("Stage Infos", [])
                    ]
                    if props.get("spark.jobGroup.id") == "measured":
                        measured_jobs.add(jid)
                        saw_marker = True
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    tm = ev.get("Task Metrics") or {}
                    d = stages.setdefault(
                        sid,
                        {"tasks": 0, "run_ms": 0, "cpu_ms": 0, "gc_ms": 0,
                         "shuf_write_ms": 0, "deser_ms": 0, "ser_ms": 0,
                         "shuf_read_mb": 0.0, "shuf_write_mb": 0.0,
                         "input_mb": 0.0, "output_mb": 0.0,
                         "spill_mem_mb": 0.0, "spill_disk_mb": 0.0,
                         "peak_exec_mb": 0.0},
                    )
                    d["tasks"] += 1
                    d["run_ms"] += tm.get("Executor Run Time", 0)
                    d["cpu_ms"] += tm.get("Executor CPU Time", 0) // 1_000_000
                    d["gc_ms"] += tm.get("JVM GC Time", 0)
                    d["deser_ms"] += tm.get("Executor Deserialize Time", 0)
                    d["ser_ms"] += tm.get("Result Serialization Time", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    d["shuf_write_ms"] += sw.get("Shuffle Write Time", 0) // 1_000_000
                    d["shuf_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    sr = tm.get("Shuffle Read Metrics") or {}
                    d["shuf_read_mb"] += (
                        sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
                    ) / 1e6
                    im = tm.get("Input Metrics") or {}
                    d["input_mb"] += im.get("Bytes Read", 0) / 1e6
                    om = tm.get("Output Metrics") or {}
                    d["output_mb"] += om.get("Bytes Written", 0) / 1e6
                    d["spill_mem_mb"] += tm.get("Memory Bytes Spilled", 0) / 1e6
                    d["spill_disk_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
                    d["peak_exec_mb"] = max(
                        d["peak_exec_mb"],
                        tm.get("Peak Execution Memory", 0) / 1e6,
                    )
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sid = si["Stage ID"]
                    if sid in stages:
                        stages[sid]["name"] = si.get("Stage Name", "")[:60]
                        sub = si.get("Submission Time")
                        comp = si.get("Completion Time")
                        if sub and comp:
                            stages[sid]["wall_ms"] = comp - sub
    if saw_marker:
        keep = {s for j in measured_jobs for s in job_stages.get(j, [])}
        stages = {s: d for s, d in stages.items() if s in keep}
    return stages


def main():
    source = sys.argv[1] if len(sys.argv) > 1 else "12000000x2"
    c = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    n_batches = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    mode = sys.argv[4] if len(sys.argv) > 4 else "threads"

    results = {}
    for cores in (c, 4 * c):
        spec = f"{cores // c},{c},10240" if mode == "cluster" else str(cores)
        head, stages = run_level(spec, cores, source, n_batches)
        results[cores] = (head, stages)
        tot_cpu = sum(d["cpu_ms"] for d in stages.values()) / 1000
        tot_gc = sum(d["gc_ms"] for d in stages.values()) / 1000
        tot_run = sum(d["run_ms"] for d in stages.values()) / 1000
        tot_sw = sum(d["shuf_write_ms"] for d in stages.values()) / 1000
        print(f"\n=== local[{cores}]: wall {head['elapsed']:.1f}s | task-run "
              f"{tot_run:.0f}s = cpu {tot_cpu:.0f}s + gc {tot_gc:.0f}s + "
              f"shufwrite {tot_sw:.0f}s + other {tot_run - tot_cpu - tot_gc - tot_sw:.0f}s")
        for sid in sorted(stages, key=lambda s: -stages[s]["run_ms"])[:12]:
            d = stages[sid]
            print(f"  stage {sid:>4} {d.get('name', ''): <60} tasks {d['tasks']:>4} "
                  f"wall {d.get('wall_ms', 0)/1000:7.1f}s run {d['run_ms']/1000:7.1f}s "
                  f"cpu {d['cpu_ms']/1000:7.1f}s gc {d['gc_ms']/1000:6.1f}s "
                  f"sw {d['shuf_write_ms']/1000:6.1f}s "
                  f"in {d['input_mb']:7.0f}MB sr {d['shuf_read_mb']:7.0f}MB "
                  f"swMB {d['shuf_write_mb']:7.0f} out {d['output_mb']:7.0f}MB "
                  f"spill {d['spill_mem_mb']:.0f}/{d['spill_disk_mb']:.0f}MB "
                  f"peak {d['peak_exec_mb']:.0f}MB")

    (h1, s1), (h2, s2) = results[c], results[4 * c]

    def by_name(stages):
        agg: dict = {}
        for d in stages.values():
            key = d.get("name", "?")
            a = agg.setdefault(key, {"run_ms": 0, "cpu_ms": 0, "gc_ms": 0})
            for k in a:
                a[k] += d[k]
        return agg

    a1, a2 = by_name(s1), by_name(s2)
    print(f"\n=== inflation by stage name (run-s at {4*c} vs {c} cores) ===")
    for name in sorted(a2, key=lambda n: -(a2[n]["run_ms"] - a1.get(n, {}).get("run_ms", 0))):
        r1 = a1.get(name, {"run_ms": 0, "cpu_ms": 0, "gc_ms": 0})
        r2 = a2[name]
        if r2["run_ms"] < 2000 and r1["run_ms"] < 2000:
            continue
        print(f"  {name: <60} run {r1['run_ms']/1000:7.1f} -> {r2['run_ms']/1000:7.1f}s | "
              f"cpu {r1['cpu_ms']/1000:7.1f} -> {r2['cpu_ms']/1000:7.1f}s | "
              f"gc {r1['gc_ms']/1000:6.1f} -> {r2['gc_ms']/1000:6.1f}s")


if __name__ == "__main__":
    main()
