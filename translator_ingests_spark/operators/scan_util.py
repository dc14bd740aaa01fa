"""Adaptive fan-out for under-partitioned scans (guide §2/§6).

The driver fixtures are SINGLE parquet files with 128 MB row groups, and a
parquet split only processes row groups whose midpoint falls inside it — so
a 1M-row ``events.parquet`` or a 20k-vector ``embeddings.parquet`` scans as
ONE task, and everything narrow downstream (per-row hashing, interpreted
cosine folds, partial aggregation) runs on one core of 32. ``fan_out``
re-spreads such scans once, by a DETERMINISTIC hash key (never round-robin:
keyless repartition pays a per-partition sort and redraws assignments on
task retry — guide §2.5), sized to the session parallelism. Inputs that are
already adequately split (the engine's own multi-file outputs, cluster-scale
tables) skip the shuffle entirely, so this is a no-op exactly where a
100-TB layout makes it unnecessary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame, key: str) -> DataFrame:
    """Repartition ``df`` by ``key`` to the default parallelism iff its scan
    yields fewer than half that many partitions. Every caller passes a bare
    ``spark.read.parquet`` scan, so the ``getNumPartitions`` probe plans
    only that file scan (splits come from the file listing), not a query."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, par // 2):
        return df.repartition(par, key)
    return df


def load_documents(spark, sf_dir: str) -> DataFrame:
    """The documents table with adaptive fan-out (shingling, fingerprinting
    and text metrics are per-row CPU that would otherwise serialize on the
    single-file fixture's one-task scan)."""
    return fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id")
