"""Billion-event apply run at local[32] — scale evidence toward the north
rule's 10^10-event regime, one order of magnitude past the 96M-event train
in BENCH/BASELINE.md, in the two regimes a production table actually sees:

- **Phase 1 — bulk backfill**: 980M events in 40 batches of 24.5M, the
  SAME workload shape as the 96M baseline (seed=42, 500 repos, 2 mega-repos
  at 30% hot fraction, content_repeat=2) — sustained-throughput evidence at
  10x the baseline's event count.
- **Phase 2 — steady-state tail**: 20M events in 1,000 batches of 20k,
  key-clustered (48-key rotating working set — real CDC batches touch a
  small active set, and manifest bucket pruning bounds each COW rewrite).
  This is what pushes the table past **1,000 accumulated snapshots**, the
  regime the manifest-segment store + LRU (lake/table.py:150-240) exists
  for: snapshot load must stay O(touched segments) and driver heap flat —
  not O(total history). Sampled throughout: driver JVM heap after
  System.gc(), manifest dir size/count, and a COLD table open (fresh
  LakeTable handle, process-global segment LRU cleared first) timing
  ``current()`` + full file-list materialization.

The log never exists in full on local disk (it wouldn't fit: ~109 B/event
snappy parquet => ~109 GB): it is generated and materialized to zstd
parquet in chunks — every generator column is a pure function of
(seed, lsn), so chunk [a, b) is byte-identical to that slice of a
full-range generation (cdc/generator.py ``lsn_start``). Each chunk is
written to "shared storage" (parquet, no Spark cache), applied, deleted.
When both write modes run, each chunk is applied to BOTH engines (own
table roots, own timers) so generation cost is paid once. Only APPLY time
counts toward throughput; a production tail reads the upstream log instead
of generating it (generation wall time reported separately).

Usage:
  python tools/bench_billion.py [total] [modes] [scale]
  python tools/bench_billion.py 1000000000 cow,mor 1
  'scale' shrinks the plan proportionally for smoke runs (e.g. 0.01).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BULK_BATCH = 24_500_000
BULK_CHUNK = 49_000_000           # 2 batches per materialized chunk
TAIL_EVENTS = 20_000_000
TAIL_BATCH = 20_000
TAIL_CHUNK = 2_000_000            # 100 batches per chunk => samples every 100
NUM_BUCKETS = 256


def _dir_stats(path: str) -> tuple[int, int]:
    n, total = 0, 0
    for r, _, fs in os.walk(path):
        for f in fs:
            n += 1
            try:
                total += os.path.getsize(os.path.join(r, f))
            except OSError:
                pass
    return n, total


def main() -> None:
    total = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000_000
    modes = (sys.argv[2] if len(sys.argv) > 2 else "cow,mor").split(",")
    scale = float(sys.argv[3]) if len(sys.argv) > 3 else total / 1_000_000_000
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    tail_events = max(int(TAIL_EVENTS * scale), 4 * TAIL_BATCH)
    bulk_events = total - tail_events
    bulk_batch = min(BULK_BATCH, max(bulk_events // 4, 1))
    bulk_chunk = 2 * bulk_batch
    tail_chunk = min(TAIL_CHUNK, tail_events // 2)
    # chunk/batch alignment keeps batch ids whole within one apply_log call
    assert bulk_events % bulk_batch == 0 or bulk_events > 10 * bulk_batch
    gen_common = dict(seed=42, n_repos=500, n_mega_repos=2, hot_fraction=0.3,
                      paths_per_repo=200, content_repeat=2)

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    from translator_ingests_spark.cdc.apply import CdcEngine
    from translator_ingests_spark.cdc.generator import generate_event_log
    from translator_ingests_spark.lake import table as table_mod
    from translator_ingests_spark.lake.table import LakeTable
    from translator_ingests_spark.session import get_spark
    from tools.probe_membw import probe as env_probe

    spark = get_spark(
        "billion", cores=cores, shuffle_partitions=64,
        extra_conf={
            # the apply loop's content plane is allocation-heavy; default 5%
            # G1 young gen turns that into GC churn (BENCH/SCALING_NOTES.md)
            "spark.driver.extraJavaOptions":
                "-XX:+UnlockExperimentalVMOptions "
                "-XX:G1NewSizePercent=50 -XX:G1MaxNewSizePercent=70",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark._jvm

    def heap_mb() -> float:
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 1e6

    env0 = env_probe(quick=True)
    print(f"env: DRAM {env0['membw_aggregate_gbps_2p']}->"
          f"{env0['membw_aggregate_gbps_8p']} GB/s, cpu scaling "
          f"{env0['cpu_scaling_2_to_8']}"
          + (" — WINDOW IS BANDWIDTH-BOUND" if env0["bandwidth_bound"] else ""))

    engines: dict[str, CdcEngine] = {}
    state: dict[str, dict] = {}
    for m in modes:
        root = tempfile.mkdtemp(prefix=f"billion_{m}_")
        # expiry cadence is NON-optional at this commit count: without it
        # retained history grows O(commits x rewrite-size) — the first
        # attempt of this run filled a 250 GB disk at ~600 COW commits
        engines[m] = CdcEngine(spark, root, num_buckets=NUM_BUCKETS,
                               write_mode=m,
                               auto_expire_every=64, expire_keep_last=16)
        state[m] = {"apply_s": 0.0, "bulk_s": 0.0, "tail_s": 0.0,
                    "bulk2_s": 0.0, "samples": []}

    # warm-up: JIT the hot codegen loops on throwaway tables
    for m in modes:
        warm_root = tempfile.mkdtemp(prefix="billion_warm_")
        warm = CdcEngine(spark, warm_root, num_buckets=32,
                         write_mode=m)
        wlog = generate_event_log(spark, 200_000,
                                  n_spark_partitions=cores * 2, **gen_common)
        warm.apply_log(wlog, n_batches=1, total_events=200_000,
                       cache_log=False)
        shutil.rmtree(warm_root, ignore_errors=True)

    gen_s = 0.0
    t_start = time.monotonic()

    def sample(m: str, events_applied: int, phase: str) -> None:
        eng = engines[m]
        # genuinely cold: a fresh handle alone still hits the process-global
        # segment LRU the engine's own commits populate — clear it so the
        # timed open pays the real pointer + snapshot json + segment reads
        table_mod._SEGMENT_CACHE.clear()
        t0 = time.monotonic()
        cold = LakeTable(spark, eng.table.root)
        snap = cold.current()
        n_files = len(snap.files)                 # full file-list materialize
        cold_open_s = time.monotonic() - t0
        mn, msz = _dir_stats(os.path.join(eng.table.root, "manifests"))
        sn, ssz = _dir_stats(os.path.join(eng.table.root, "snapshots"))
        st = state[m]
        s = {
            "mode": m, "phase": phase, "events_applied": events_applied,
            "snapshots": snap.version,
            "apply_s": round(st["apply_s"], 1),
            "events_per_sec": round(events_applied / max(st["apply_s"], 1e-9)),
            "driver_heap_mb": round(heap_mb()),
            "cold_open_s": round(cold_open_s, 3),
            "live_files": n_files,
            "manifest_files": mn, "manifest_mb": round(msz / 1e6, 1),
            "snapshot_files": sn, "snapshot_json_mb": round(ssz / 1e6, 1),
        }
        st["samples"].append(s)
        print(json.dumps(s), flush=True)

    def flush_json() -> None:
        out = os.path.join(REPO, "BENCH", "billion.json")
        with open(out + ".tmp", "w") as fh:
            json.dump({"samples": {m: state[m]["samples"] for m in modes},
                       "gen_elapsed_s": round(gen_s, 1),
                       "plan": {"total": total, "bulk_batch": bulk_batch,
                                "tail_batch": TAIL_BATCH,
                                "tail_events": tail_events},
                       "env": env0}, fh, indent=1)
        os.replace(out + ".tmp", out)

    def run_phase(phase: str, lo: int, n_events: int, chunk: int,
                  per_batch: int, gen_kwargs: dict) -> None:
        nonlocal gen_s
        n_chunks = -(-n_events // chunk)
        for ci in range(n_chunks):
            c_lo = lo + ci * chunk
            c_n = min(chunk, lo + n_events - c_lo)
            chunk_dir = tempfile.mkdtemp(prefix="billion_log_")
            log_path = os.path.join(chunk_dir, "log.parquet")
            t0 = time.monotonic()
            (generate_event_log(
                spark, c_n, lsn_start=c_lo,
                n_spark_partitions=max(cores * 4, 128), **gen_kwargs,
            ).write.option("compression", "zstd").parquet(log_path))
            gen_s += time.monotonic() - t0
            log = spark.read.parquet(log_path)

            # both modes apply the SAME chunk concurrently (independent
            # tables, one SparkSession — the scheduler interleaves their
            # jobs). Small-batch commits are driver-latency-bound and leave
            # most of the 32 cores idle; running the modes side by side
            # fills that idle time. Per-mode wall time is still attributed
            # per mode — concurrent-mode stretches are flagged in the
            # sample so the doc can call out the shared-core window.
            def apply_one(m: str) -> None:
                t0 = time.monotonic()
                engines[m].apply_log(log, events_per_batch=per_batch,
                                     total_events=c_n, cache_log=False)
                dt = time.monotonic() - t0
                state[m]["apply_s"] += dt
                state[m][f"{phase}_s"] += dt

            if len(modes) > 1 and per_batch <= 1_000_000:
                import threading
                ths = [threading.Thread(target=apply_one, args=(m,))
                       for m in modes]
                for t in ths:
                    t.start()
                for t in ths:
                    t.join()
                shared = True
            else:
                for m in modes:
                    apply_one(m)
                shared = False
            shutil.rmtree(chunk_dir, ignore_errors=True)
            for m in modes:
                sample(m, c_lo + c_n, phase)
                state[m]["samples"][-1]["concurrent_modes"] = shared
            flush_json()

    # Phase order front-loads the rarest evidence: seed the table to the
    # 96M-baseline scale, then drive it past 1,000 snapshots (the manifest/
    # driver-heap validation target), then continue the bulk backfill
    # toward the full event budget — a stopped run still leaves the
    # 1,000-snapshot samples in BENCH/billion.json.
    seed_events = min(bulk_events, 49_000_000)
    run_phase("bulk", 0, seed_events, bulk_chunk, bulk_batch, gen_common)
    run_phase("tail", seed_events, tail_events, tail_chunk, TAIL_BATCH,
              dict(gen_common, key_locality=48, locality_window=TAIL_BATCH))
    if bulk_events > seed_events:
        run_phase("bulk2", seed_events + tail_events,
                  bulk_events - seed_events, bulk_chunk, bulk_batch,
                  gen_common)

    wall = time.monotonic() - t_start
    results = {}
    for m in modes:
        st = state[m]
        final = st["samples"][-1]
        results[m] = {
            "mode": m, "cores": cores, "total_events": total,
            "bulk_events": bulk_events, "bulk_batch": bulk_batch,
            "tail_events": tail_events, "tail_batch": TAIL_BATCH,
            "apply_elapsed_s": round(st["apply_s"], 1),
            "events_per_sec": round(total / st["apply_s"]),
            "bulk_events_per_sec": round(bulk_events / max(st["bulk_s"], 1e-9)),
            "tail_commits_per_sec": round(
                (tail_events / TAIL_BATCH) / max(st["tail_s"], 1e-9), 2),
            "snapshots": final["snapshots"],
            "driver_heap_mb_series": [s["driver_heap_mb"] for s in st["samples"]],
            "cold_open_s_series": [s["cold_open_s"] for s in st["samples"]],
            "final": final,
        }
        print(json.dumps(results[m]), flush=True)
    summary = {"gen_elapsed_s": round(gen_s, 1), "wall_s": round(wall, 1),
               "env": env0, "results": results}
    out = os.path.join(REPO, "BENCH", "billion.json")
    with open(out, "w") as fh:
        # superset of the incremental flush shape: write_billion_md reads
        # the top-level env/plan/gen_elapsed_s keys either way
        json.dump({"samples": {m: state[m]["samples"] for m in modes},
                   "gen_elapsed_s": round(gen_s, 1),
                   "plan": {"total": total, "bulk_batch": bulk_batch,
                            "tail_batch": TAIL_BATCH,
                            "tail_events": tail_events},
                   "env": env0,
                   "summary": summary}, fh, indent=1)
    print(json.dumps({k: v for k, v in summary.items() if k != "results"}))
    print(f"wrote {out}")
    for m in modes:
        shutil.rmtree(os.path.dirname(engines[m].table.root),
                      ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
