"""Oracle-checked queries for the multi-source merge job: the change log is
split into 3 per-source streams, each replayed into its own lake table, then
``merge_lakes`` combines them — and the merged final state must equal a
single global replay of the whole log (the DuckDB oracle recomputes exactly
that, so the value-hash gate covers version gating + raw-state union +
global LWW + tombstone propagation end-to-end)."""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from translator_ingests_spark.cdc.apply import CdcEngine, compute_code_hash
from translator_ingests_spark.lake.merge_sources import merge_lakes
from translator_ingests_spark.lake.table import LakeTable
from translator_ingests_spark.operators.cdc_queries import (
    CDC_REPLAY_SQL,
    events_as_cdc_log,
)

_N_SOURCES = 3


def _merged_root(spark: SparkSession, sf_dir: str) -> str:
    """Build (once, cached by code hash) the 3 per-source lakes and their
    merge; return the merged table root."""
    code = compute_code_hash()
    digest = hashlib.sha256(
        f"{os.path.abspath(sf_dir)}|{code}|msrc{_N_SOURCES}".encode()
    ).hexdigest()[:16]
    root = os.path.join(tempfile.gettempdir(), "spark_graft_msrc", digest)
    marker = os.path.join(root, "_COMPLETE")
    if os.path.exists(marker):
        return os.path.join(root, "merged")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)

    log = events_as_cdc_log(spark, sf_dir)
    tables = []
    for i in range(_N_SOURCES):
        eng = CdcEngine(
            spark,
            os.path.join(root, f"src{i}"),
            num_buckets=16,
        )
        eng.apply_log(
            log.filter(F.pmod(F.col("lsn"), F.lit(_N_SOURCES)) == i), n_batches=2
        )
        tables.append(eng.table)
    merge_lakes(spark, tables, os.path.join(root, "merged"))
    with open(marker, "w") as fh:
        fh.write(code)
    return os.path.join(root, "merged")


def multi_source_merge_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-source merge final state == global replay final state (reference
    entry point: /root/reference/src/translator_ingest/merging.py:170-315)."""
    merged = LakeTable(spark, _merged_root(spark, sf_dir))
    return (
        merged.read()
        .select("repo", "path", "commit", "lang", "content", "content_sha256", "last_lsn")
        .orderBy("repo", "path")
    )


QUERIES = {
    # same oracle as the single-table replay: merging N partitions of one
    # log then LWW-reducing must reproduce the global replay exactly
    "multi_source_merge_final_state": (multi_source_merge_final_state, CDC_REPLAY_SQL),
}
