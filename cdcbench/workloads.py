"""Workload inputs: generated change logs, written to parquet before timing.

Every log comes from ``cdc.generator.generate_event_log`` and is then
post-processed here: a hash-chosen share of the data rows gets non-ASCII
content that Unicode NFC changes (a decomposed ``e`` + combining acute) and
CRLF line endings, so the normalization has real work on a known share of
rows. Every value is a function of the workload seed and the LSN.

A log is split into units, one ``apply_log`` call each, written as one
parquet directory per unit (``<log>/unit=<k>``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from translator_ingests_spark.cdc.generator import generate_event_log

NONASCII_PREFIX = "// cafe\u0301 nai\u0308ve \u2014 u\u0308ber\r\n"
NONASCII_PCT = 5  # share of data rows, in percent, that get NONASCII_PREFIX


@dataclass(frozen=True)
class Workload:
    name: str
    write_mode: str
    num_buckets: int
    units: tuple[int, ...]  # events of each generated unit (one apply_log call)
    min_rounds: int  # timed rounds a run runs at least (a unit, or a replay)
    warmup_units: int  # leading units applied untimed
    gen: dict  # generate_event_log arguments
    lookup_every_unit: bool  # a 10-key lookup after each unit
    read_phase_lookups: int  # 10-key lookups after the timed phase
    replay: bool  # every round replays all units into a fresh table

    def __post_init__(self):
        # apply_log cuts a log into floor(lsn / events_per_batch) batches;
        # a unit whose first LSN is a multiple of its size is one batch
        for lo, n in zip(self.starts(), self.units):
            if lo % n:
                raise ValueError(f"{self.name}: unit at LSN {lo} is not aligned to {n}")

    def starts(self) -> list[int]:
        out, lo = [], 0
        for n in self.units:
            out.append(lo)
            lo += n
        return out

    def size(self, unit: int) -> int:
        return self.units[unit]


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            name="bulk_replay",
            write_mode="cow",
            num_buckets=32,
            # the first batch loads the empty table, the second COW-merges
            # into the live one. Both stay below the engine's 1M
            # small_batch_events threshold, so the window reduce runs: on a
            # 4-core host a batch above it makes each run about 25 s longer
            units=(60_000, 60_000),
            min_rounds=2,
            warmup_units=0,
            gen=dict(n_repos=100, n_mega_repos=2, hot_fraction=0.3, content_repeat=8),
            lookup_every_unit=False,
            read_phase_lookups=4,
            replay=True,
        ),
        Workload(
            name="mor_mixed",
            write_mode="mor",
            num_buckets=256,
            # nine untimed units seed the table and warm it up, then eight
            # timed ones: 17 apply_log calls, one more than the engine's
            # auto_compact_every (16)
            units=(2_000,) * 17,
            min_rounds=8,
            warmup_units=9,
            # scattered keys: uniform over 100 repos x 500 paths
            gen=dict(n_repos=100, hot_fraction=0.0, content_repeat=4),
            lookup_every_unit=True,
            read_phase_lookups=0,
            replay=False,
        ),
    ]
}

KEYS = ["repo", "path"]


def _post_process(df: DataFrame, seed: int) -> DataFrame:
    pick = (F.pmod(F.xxhash64(F.lit(seed), F.lit("nonascii"), F.col("lsn")), F.lit(100))
            < NONASCII_PCT) & F.col("content").isNotNull()
    content = F.when(
        pick,
        F.concat(F.lit(NONASCII_PREFIX), F.regexp_replace("content", "\n", "\r\n")),
    ).otherwise(F.col("content"))
    return df.withColumn("content", content)


def write_logs(spark: SparkSession, w: Workload, seed: int, log_dir: str,
               n_parts: int) -> None:
    """Generate the log, cut it into units and write it to parquet."""
    lsn = F.col("lsn")
    log = generate_event_log(
        spark, sum(w.units), seed=seed, n_spark_partitions=n_parts, **w.gen,
    ).withColumn("unit", sum((lsn >= lo).cast("int") for lo in w.starts()) - 1)
    # every column is a pure function of (seed, lsn), so the logs are
    # identical across runs with the same seed
    _post_process(log, seed).write.partitionBy("unit").parquet(log_dir)


def unit_df(spark: SparkSession, log_dir: str, unit: int) -> DataFrame:
    return spark.read.parquet(os.path.join(log_dir, f"unit={unit}"))
