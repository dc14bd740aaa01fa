"""Phase-level profiler for the CDC apply path (guide §1: measure first).

Monkeypatches timing probes around the driver-side phases of one bench
throughput point (replay / generator / clustered / mor) and prints a JSON
breakdown: upfront meta job, per-unit head() loads, Catalyst planning of the
merge write, the write job itself, footer-stats fetch, snapshot commit, and
checkpoint-manifest write. Usage:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python tools/profile_apply.py replay
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ACC: dict[str, float] = defaultdict(float)
CNT: dict[str, int] = defaultdict(int)


def timed(label):
    def deco(fn):
        def wrap(*a, **kw):
            t0 = time.monotonic()
            try:
                return fn(*a, **kw)
            finally:
                ACC[label] += time.monotonic() - t0
                CNT[label] += 1
        return wrap
    return deco


def main():
    point = sys.argv[1] if len(sys.argv) > 1 else "replay"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from translator_ingests_spark.session import get_spark

    spark = get_spark("profile_apply", cores=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()

    from pyspark.sql.readwriter import DataFrameWriter

    from translator_ingests_spark.cdc import apply as apply_mod
    from translator_ingests_spark.cdc.apply import CdcEngine
    from translator_ingests_spark.cdc.generator import generate_event_log
    from translator_ingests_spark.lake import table as table_mod
    from translator_ingests_spark.operators.cdc_queries import events_as_cdc_log

    # ---- probes ----
    table_mod.LakeTable.head = timed("head")(table_mod.LakeTable.head)
    table_mod.LakeTable.merge = timed("merge_total")(table_mod.LakeTable.merge)
    table_mod.LakeTable.commit_rebase = timed("commit")(table_mod.LakeTable.commit_rebase)
    table_mod._file_stats_from_footer = timed("footer_stats")(
        table_mod._file_stats_from_footer)
    CdcEngine._write_ckpt = timed("ckpt_write")(CdcEngine._write_ckpt)
    CdcEngine._apply_data_unit = timed("unit_total")(CdcEngine._apply_data_unit)
    CdcEngine.apply_log = timed("apply_log_total")(CdcEngine.apply_log)
    apply_mod.compute_code_hash = timed("code_hash")(apply_mod.compute_code_hash)

    orig_parquet = DataFrameWriter.parquet

    def patched_parquet(self, path, **kw):
        df = self._df
        t0 = time.monotonic()
        df._jdf.queryExecution().executedPlan()
        ACC["write_planning"] += time.monotonic() - t0
        CNT["write_planning"] += 1
        t0 = time.monotonic()
        try:
            return orig_parquet(self, path, **kw)
        finally:
            ACC["write_job"] += time.monotonic() - t0
            CNT["write_job"] += 1

    DataFrameWriter.parquet = patched_parquet

    work = tempfile.mkdtemp(prefix="profile_apply_")
    try:
        if point == "replay":
            log_path = os.path.join(work, "replay_log")
            events_as_cdc_log(spark, sf_dir).write.parquet(log_path)
            n = spark.read.parquet(log_path).count()
            ACC.clear(); CNT.clear()
            root = os.path.join(work, "cdc")
            eng = CdcEngine(spark, root, num_buckets=32)
            t0 = time.monotonic()
            eng.apply_log(spark.read.parquet(log_path), n_batches=4,
                          total_events=n, cache_log=False)
            wall = time.monotonic() - t0
        elif point == "generator":
            log_path = os.path.join(work, "gen_log")
            generate_event_log(
                spark, 500_000, seed=42, n_repos=500, n_mega_repos=2,
                hot_fraction=0.3, paths_per_repo=200, content_repeat=16,
                n_spark_partitions=cpus * 2,
            ).write.parquet(log_path)
            n = spark.read.parquet(log_path).count()
            ACC.clear(); CNT.clear()
            root = os.path.join(work, "cdc")
            eng = CdcEngine(spark, root, num_buckets=32)
            t0 = time.monotonic()
            eng.apply_log(spark.read.parquet(log_path), n_batches=1,
                          total_events=n, cache_log=False)
            wall = time.monotonic() - t0
        elif point in ("clustered", "mor"):
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
            root = os.path.join(work, "cdc")
            kw = dict(num_buckets=256)
            if point == "mor":
                kw.update(write_mode="mor", auto_compact_every=None)
            eng = CdcEngine(spark, root, **kw)
            eng.apply_log(spark.read.parquet(seed_path), n_batches=1,
                          total_events=200_000, cache_log=False)
            ACC.clear(); CNT.clear()
            t0 = time.monotonic()
            eng.apply_log(spark.read.parquet(clu_path), n_batches=3,
                          total_events=cn, cache_log=False)
            wall = time.monotonic() - t0
            if point == "mor":
                t0 = time.monotonic()
                eng.final_state().count()
                ACC["folded_read"] = time.monotonic() - t0
        else:
            raise SystemExit(f"unknown point {point!r}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out = {
        "point": point, "wall_s": round(wall, 3),
        "phases": {k: {"s": round(v, 3), "n": CNT.get(k, 0)} for k, v in sorted(ACC.items())},
    }
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
