"""Interleaved A/B of the fused vs join COW merge on the bench replay point.

The host's load drifts in multi-minute ±3x waves, so back-to-back process
runs are incomparable; this interleaves variants within one session and
reports per-variant best-of-N (the bench's own noise methodology).

    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python tools/ab_merge.py [iters]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    iters = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    point = sys.argv[2] if len(sys.argv) > 2 else "replay"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from translator_ingests_spark.session import get_spark

    spark = get_spark("ab_merge", cores=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()

    from translator_ingests_spark.cdc.apply import CdcEngine
    from translator_ingests_spark.cdc.generator import generate_event_log
    from translator_ingests_spark.operators.cdc_queries import events_as_cdc_log

    work = tempfile.mkdtemp(prefix="ab_merge_")
    samples: dict[str, list[float]] = {"fuse": [], "join": []}
    try:
        if point == "replay":
            log_path = os.path.join(work, "replay_log")
            events_as_cdc_log(spark, sf_dir).write.parquet(log_path)
            n = spark.read.parquet(log_path).count()

            def run() -> float:
                root = tempfile.mkdtemp(prefix="ab_cdc_")
                try:
                    eng = CdcEngine(spark, root, num_buckets=32)
                    t0 = time.monotonic()
                    eng.apply_log(spark.read.parquet(log_path), n_batches=4,
                                  total_events=n, cache_log=False)
                    return time.monotonic() - t0
                finally:
                    shutil.rmtree(root, ignore_errors=True)
        elif point == "clustered":
            from pyspark.sql import functions as F

            seed_path = os.path.join(work, "clu_seed")
            generate_event_log(
                spark, 200_000, seed=7, n_repos=500, n_mega_repos=2,
                hot_fraction=0.1, paths_per_repo=200, content_repeat=16,
                n_spark_partitions=cpus * 2,
            ).write.parquet(seed_path)
            clu_path = os.path.join(work, "clu_log")
            (
                generate_event_log(
                    spark, 300_000, seed=8, n_repos=500, n_mega_repos=2,
                    hot_fraction=0.1, paths_per_repo=200, content_repeat=16,
                    key_locality=48, locality_window=100_000,
                    n_spark_partitions=cpus * 2,
                )
                .withColumn("lsn", F.col("lsn") + F.lit(200_000))
                .withColumn("source_offset", F.col("source_offset") + F.lit(200_000))
                .write.parquet(clu_path)
            )
            cn = spark.read.parquet(clu_path).count()

            def run() -> float:
                root = tempfile.mkdtemp(prefix="ab_clu_")
                try:
                    eng = CdcEngine(spark, root, num_buckets=256)
                    eng.apply_log(spark.read.parquet(seed_path), n_batches=1,
                                  total_events=200_000, cache_log=False)
                    t0 = time.monotonic()
                    eng.apply_log(spark.read.parquet(clu_path), n_batches=3,
                                  total_events=cn, cache_log=False)
                    return time.monotonic() - t0
                finally:
                    shutil.rmtree(root, ignore_errors=True)
        else:
            raise SystemExit(f"unknown point {point!r}")

        for i in range(iters):
            pair = [("fuse", "1"), ("join", "0")]
            if i % 2:
                pair.reverse()  # alternate order: load waves hit both sides
            for variant, flag in pair:
                os.environ["SPARK_GRAFT_MERGE_FUSE"] = flag
                samples[variant].append(round(run(), 3))
    finally:
        os.environ.pop("SPARK_GRAFT_MERGE_FUSE", None)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        v: {"best": min(s), "samples": s} for v, s in samples.items()
    }))


if __name__ == "__main__":
    main()
