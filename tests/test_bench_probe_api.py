"""The benchmark's traced probes (``cdcbench/run.py``, ``probes``) call the
engine's reduce and content functions directly. ``cdcbench/`` changes only
together with the benchmark, so an engine signature change must fail here,
not on the next traced run. Same calls, on a tiny frame."""

import hashlib

from pyspark.sql import functions as F

from cdcbench.workloads import KEYS
from translator_ingests_spark.cdc.apply import EVENT_SCHEMA
from translator_ingests_spark.cdc.reduce import lww_reduce
from translator_ingests_spark.functions.content import (
    content_digest,
    normalize_content,
)


def ev(lsn, op, path, content):
    return {"lsn": lsn, "op": op, "repo": "r", "path": path, "commit": "c",
            "lang": "py", "content": content, "schema_change": None,
            "source_partition": 0, "source_offset": lsn, "extras": None}


def test_benchmark_probe_calls(spark):
    batch = spark.createDataFrame([
        ev(1, "insert", "a", "old"),
        ev(2, "update", "a", "café\r\nx"),
        ev(3, "insert", "b", "keep"),
        ev(4, "delete", "b", None),
    ], EVENT_SCHEMA).filter(
        F.col("op").isin("insert", "update", "delete")
        & F.col("repo").isNotNull() & F.col("path").isNotNull()
    )
    reduced = lww_reduce(batch, keys=KEYS)
    norm = F.when(F.col("op") != "delete", normalize_content(F.col("content")))
    derived = reduced.select(*KEYS, norm.alias("content")).select(
        *KEYS, "content", content_digest(F.col("content")).alias("content_sha256"))
    got = {r["path"]: (r["content"], r["content_sha256"]) for r in derived.collect()}
    text = "café\nx"
    assert got == {
        "a": (text, hashlib.sha256(text.encode()).hexdigest()),
        "b": (None, None),
    }
