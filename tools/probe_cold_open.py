"""Genuinely-cold table-open probe at 1,000+ accumulated snapshots.

BENCH/BILLION.md's original cold-open series was measured through a fresh
LakeTable handle but with the process-global segment LRU still warm from
the engine's own commits — so it demonstrated the pointer + snapshot-json
path being O(1), not a cold open. This probe replays the published run's
steady-state tail shape (key-clustered small-batch commits, auto-expiry
cadence 64/keep 16, both write modes) to 1,100+ snapshots and times opens
with ``lake.table._SEGMENT_CACHE`` CLEARED first, so every sample pays the
real pointer + snapshot json + segment-file reads for the full file-list
materialization.

Writes BENCH/cold_open.json and prints one JSON line per sample.

Usage: python tools/probe_cold_open.py [n_commits=1100] [events_per_commit=2000]
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


def main() -> None:
    n_commits = int(sys.argv[1]) if len(sys.argv) > 1 else 1100
    per_commit = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from translator_ingests_spark.cdc.apply import CdcEngine
    from translator_ingests_spark.cdc.generator import generate_event_log
    from translator_ingests_spark.lake import table as table_mod
    from translator_ingests_spark.lake.table import LakeTable
    from translator_ingests_spark.session import get_spark

    spark = get_spark("cold-open-probe", cores=cores, shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    gen_common = dict(seed=42, n_repos=500, n_mega_repos=2, hot_fraction=0.3,
                      paths_per_repo=200, content_repeat=2)
    total = n_commits * per_commit
    log_dir = tempfile.mkdtemp(prefix="cold_probe_log_")
    log_path = os.path.join(log_dir, "log.parquet")
    (generate_event_log(spark, total, n_spark_partitions=cores * 2,
                        key_locality=48, locality_window=per_commit,
                        **gen_common)
     .write.option("compression", "zstd").parquet(log_path))
    log = spark.read.parquet(log_path)

    modes = ["cow", "mor"]
    roots = {m: tempfile.mkdtemp(prefix=f"cold_probe_{m}_") for m in modes}
    engines = {
        m: CdcEngine(spark, os.path.join(roots[m], "t"), num_buckets=32,
                     write_mode=m,
                     auto_expire_every=64, expire_keep_last=16)
        for m in modes
    }

    samples: dict[str, list[dict]] = {m: [] for m in modes}

    def sample(m: str) -> None:
        eng = engines[m]
        table_mod._SEGMENT_CACHE.clear()
        t0 = time.monotonic()
        cold = LakeTable(spark, eng.table.root)
        snap = cold.current()
        n_files = len(snap.files)
        cold_s = time.monotonic() - t0
        s = {"mode": m, "snapshots": snap.version, "live_files": n_files,
             "cold_open_s": round(cold_s, 4)}
        samples[m].append(s)
        print(json.dumps(s), flush=True)

    # apply in interval chunks so cold opens are sampled across the whole
    # 2 -> 1,100-snapshot trajectory, not just at the end
    chunks = 25
    per_chunk = (n_commits // chunks) * per_commit
    lo = 0
    t_start = time.monotonic()
    for c in range(chunks):
        n = per_chunk if c < chunks - 1 else total - lo
        part = log.where((log["lsn"] >= lo) & (log["lsn"] < lo + n))
        for m in modes:
            engines[m].apply_log(part, events_per_batch=per_commit,
                                 total_events=n, cache_log=False)
        lo += n
        for m in modes:
            sample(m)
    wall = time.monotonic() - t_start

    out = {"samples": samples, "n_commits": n_commits,
           "events_per_commit": per_commit, "wall_s": round(wall, 1),
           "note": "segment LRU cleared before every timed open"}
    with open(os.path.join(REPO, "BENCH", "cold_open.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    for m in modes:
        ss = samples[m]
        print(json.dumps({
            "mode": m, "final_snapshots": ss[-1]["snapshots"],
            "cold_open_max_s": max(s["cold_open_s"] for s in ss),
            "cold_open_first_s": ss[0]["cold_open_s"],
            "cold_open_last_s": ss[-1]["cold_open_s"]}), flush=True)
    shutil.rmtree(log_dir, ignore_errors=True)
    for r in roots.values():
        shutil.rmtree(r, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
