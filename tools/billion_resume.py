"""Resume an interrupted tools/bench_billion.py run's bulk2 phase against
the surviving table roots (the apply loop is checkpointed: chunks at or
below each table's applied-LSN watermark replay as no-ops, chunks above it
apply normally — so both modes can consume the same chunk stream even when
they stopped at different offsets).

Usage:
  python tools/billion_resume.py <cow_root> <mor_root> <from_lsn> <to_lsn>
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

CHUNK = 49_000_000
PER_BATCH = 24_500_000


def main() -> None:
    cow_root, mor_root = sys.argv[1], sys.argv[2]
    lo_all, hi_all = int(sys.argv[3]), int(sys.argv[4])
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

    from translator_ingests_spark.cdc.apply import CdcEngine
    from translator_ingests_spark.cdc.generator import generate_event_log
    from translator_ingests_spark.lake import table as table_mod
    from translator_ingests_spark.lake.table import LakeTable
    from translator_ingests_spark.session import get_spark

    spark = get_spark(
        "billion-resume", cores=cores, shuffle_partitions=64,
        extra_conf={"spark.driver.extraJavaOptions":
                    "-XX:+UnlockExperimentalVMOptions "
                    "-XX:G1NewSizePercent=50 -XX:G1MaxNewSizePercent=70"})
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark._jvm

    def heap_mb() -> float:
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 1e6

    engines = {
        "cow": CdcEngine(spark, cow_root, num_buckets=256,
                         write_mode="cow",
                         auto_expire_every=64, expire_keep_last=16),
        "mor": CdcEngine(spark, mor_root, num_buckets=256,
                         write_mode="mor",
                         auto_expire_every=64, expire_keep_last=16),
    }
    out_path = os.path.join(REPO, "BENCH", "billion.json")
    with open(out_path) as fh:
        doc = json.load(fh)
    # events actually APPLIED in this session per mode (a replayed chunk
    # adds wall time but zero events — keep it out of the throughput)
    applied = {m: 0 for m in engines}
    bulk2_s = {m: 0.0 for m in engines}
    base_apply = {m: doc["samples"][m][-1]["apply_s"] for m in engines}

    gen_common = dict(seed=42, n_repos=500, n_mega_repos=2, hot_fraction=0.3,
                      paths_per_repo=200, content_repeat=2)
    for c_lo in range(lo_all, hi_all, CHUNK):
        c_n = min(CHUNK, hi_all - c_lo)
        chunk_dir = tempfile.mkdtemp(prefix="billion_log_")
        log_path = os.path.join(chunk_dir, "log.parquet")
        (generate_event_log(spark, c_n, lsn_start=c_lo,
                            n_spark_partitions=max(cores * 4, 128),
                            **gen_common)
         .write.option("compression", "zstd").parquet(log_path))
        log = spark.read.parquet(log_path)
        for m, eng in engines.items():
            before = eng.table.head().last_batch_id
            t0 = time.monotonic()
            eng.apply_log(log, events_per_batch=PER_BATCH, total_events=c_n,
                          cache_log=False)
            dt = time.monotonic() - t0
            after = eng.table.head().last_batch_id
            if after > before:  # at least one NEW batch committed
                bulk2_s[m] += dt
                # a boundary chunk can be PARTIALLY replayed (some batches
                # at or below the watermark skip as no-ops): credit only
                # the newly-committed batches' events, never the full
                # chunk, or the boundary chunk inflates events/sec
                applied[m] += min(c_n, (after - before) * PER_BATCH)
        shutil.rmtree(chunk_dir, ignore_errors=True)
        for m, eng in engines.items():
            # clear the process-global segment LRU so the timed open is
            # genuinely cold (pointer + snapshot json + segment reads)
            table_mod._SEGMENT_CACHE.clear()
            t0 = time.monotonic()
            cold = LakeTable(spark, eng.table.root)
            snap = cold.current()
            n_files = len(snap.files)
            cold_open_s = time.monotonic() - t0
            s = {
                "mode": m, "phase": "bulk2", "events_applied": c_lo + c_n,
                "snapshots": snap.version,
                "apply_s": round(base_apply[m] + bulk2_s[m], 1),
                "bulk2_s": round(bulk2_s[m], 1),
                "bulk2_events": applied[m],
                "bulk2_events_per_sec": round(
                    applied[m] / max(bulk2_s[m], 1e-9)),
                "driver_heap_mb": round(heap_mb()),
                "cold_open_s": round(cold_open_s, 3),
                "live_files": n_files,
            }
            doc["samples"][m].append(s)
            print(json.dumps(s), flush=True)
        with open(out_path + ".tmp", "w") as fh:
            json.dump(doc, fh, indent=1)
        os.replace(out_path + ".tmp", out_path)
    spark.stop()


if __name__ == "__main__":
    main()
