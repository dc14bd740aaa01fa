"""SparkSession factory tuned for the engine.

Local mode is the test/bench stand-in for a multi-executor cluster: one JVM,
N executor threads. The configs below are the ones that matter at 100 TB on a
real cluster too — AQE (runtime re-plan, skew-join splitting, shuffle-partition
coalescing), Arrow for every Python<->JVM hop, and a shuffle-partition count
sized to the parallelism rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "translator_ingests_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` → ``local[*]``. ``shuffle_partitions`` defaults to the core
    count so local runs don't schedule 200 tiny tasks per shuffle.
    """
    cores_env = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is None and cores_env:
        cores = int(cores_env)
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cores if cores else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # snappy stays the session default for non-lake writes (materialized
        # event logs, bench and tool outputs): they keep their bytes and the
        # cheaper encode. Lake data files get zstd from the table's own
        # writer options (LakeTable._parquet_write_options).
        .config("spark.sql.parquet.compression.codec", "snappy")
        # parquet row-group size for everything this engine WRITES. Scan
        # parallelism of a parquet file is bounded by its row-group count
        # (a split only processes row groups whose midpoint falls inside
        # it), and the default 128m block turns any single-task write into
        # a near-unsplittable file — measured: a 1M-event replay log written
        # as one 128m row group re-scans on 1 of 32 cores. 16m keeps every
        # materialized log/lake file splittable ~8x per 128m while row
        # groups stay large enough for dictionary/statistics efficiency; at
        # cluster scale raise it via SPARK_GRAFT_PARQUET_BLOCK (files there
        # are written by many tasks, so splittability matters less than
        # compression ratio).
        .config(
            "spark.hadoop.parquet.block.size",
            os.environ.get("SPARK_GRAFT_PARQUET_BLOCK", str(16 * 1024 * 1024)),
        )
        # direct task commit (no serial driver-side rename pass) and no
        # local-FS .crc sidecars — both dominate small-commit latency
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        # wide rows (KB-scale content) make sort-merge joins sort-bound;
        # shuffled-hash joins skip the sort entirely
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # STATIC broadcast decisions stay at the 10m default: file-size ×
        # selectivity estimates are unreliable enough that a raised static
        # threshold was observed to broadcast a filtered FACT table (q3's
        # lineitem side — a driver-collect of millions of rows, and exactly
        # the side that must stream at 100 TB). The LWW reduce's winners
        # side doesn't need the static threshold — the engine passes an
        # explicit broadcast() hint when its exact per-batch key count
        # qualifies (cdc/apply.py). The ADAPTIVE threshold, which acts on
        # runtime-exact shuffle sizes, stays at 64m so genuinely small
        # post-filter sides still convert to broadcast at runtime.
        .config("spark.sql.autoBroadcastJoinThreshold", "10m")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
