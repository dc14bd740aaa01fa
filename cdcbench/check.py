"""Input properties and the independent correctness check.

The expected state is computed here from the applied log alone, read with
Arrow and reduced with Arrow's group-by and the ``normalize_py`` reference:
per key the max-LSN event wins, a winning delete leaves no row, ``last_lsn``
is the winner's LSN and ``content_sha256 == sha256(normalize_py(content))``.
No engine reduce or merge code runs here.
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from translator_ingests_spark.functions.content import normalize_py


def load_events(log_dir: str, units: list[int]) -> pa.Table:
    """The valid (keyed) events of the given units, read with Arrow."""
    return ds.dataset(log_dir, format="parquet", partitioning="hive").to_table(
        columns=["unit", "lsn", "op", "repo", "path", "commit", "lang", "content"],
        filter=ds.field("unit").isin(units)
        & ds.field("repo").is_valid() & ds.field("path").is_valid(),
    )


def per_key(events: pa.Table) -> pd.DataFrame:
    """One row per (unit, key): event count, the unit's winning (max-LSN)
    event, and the byte and content figures the input properties need."""
    def octets(col):
        return pc.fill_null(pc.binary_length(events.column(col)), 0)

    content = events.column("content")
    t = events.append_column(
        "bytes", pc.add(functools.reduce(pc.add, [octets(c) for c in
                        ("op", "repo", "path", "commit", "lang", "content")]), 8),
    ).append_column("content_len", pc.binary_length(content)).append_column(
        "nonascii", pc.fill_null(pc.invert(pc.string_is_ascii(content)), False).cast(pa.int64())
    ).sort_by("lsn")
    keep_nulls = pc.ScalarAggregateOptions(skip_nulls=False)
    g = t.group_by(["unit", "repo", "path"], use_threads=False).aggregate([
        ("lsn", "count"),
        ("lsn", "last"),
        ("op", "last"),
        ("commit", "last", keep_nulls),
        ("lang", "last", keep_nulls),
        ("content", "last", keep_nulls),
        ("bytes", "sum"),
        ("content", "count"),
        ("content_len", "sum"),
        ("nonascii", "sum"),
    ])
    return g.to_pandas().rename(columns={
        "lsn_count": "n", "lsn_last": "lsn", "op_last": "op", "commit_last": "commit",
        "lang_last": "lang", "content_last": "content", "bytes_sum": "bytes",
        "content_count": "n_content", "content_len_sum": "content_bytes",
        "nonascii_sum": "n_nonascii",
    })


def buckets_touched(spark, log_dir: str, units: list[int], num_buckets: int) -> float:
    """Mean distinct buckets per unit, by the lake's xxhash64 bucket rule."""
    rows = (
        spark.read.parquet(log_dir).filter(F.col("unit").isin(units))
        .filter(F.col("repo").isNotNull() & F.col("path").isNotNull())
        .select("unit", F.pmod(F.xxhash64("repo", "path"), F.lit(num_buckets)).alias("b"))
        .distinct().groupBy("unit").count()
        .collect()  # one row per unit
    )
    return sum(r["count"] for r in rows) / max(len(rows), 1)


def properties(keyed: pd.DataFrame, units: list[int]) -> dict:
    """Input properties of the given (timed) units."""
    k = keyed[keyed.unit.isin(units)]
    events = int(k.n.sum())
    n_content = max(int(k.n_content.sum()), 1)
    # hot keys: the most frequent 1% of each unit's keys (at least one)
    hot = sum(
        int(g.n.nlargest(max(1, len(g) // 100)).sum()) for _, g in k.groupby("unit")
    )
    return {
        "units": int(k.unit.nunique()),
        "events": events,
        "distinct_keys": int(len(k[["repo", "path"]].drop_duplicates())),
        "survivor_ratio": len(k) / events,
        "hot_key_share": hot / events,
        "nonascii_share": int(k.n_nonascii.sum()) / n_content,
        "mean_content_bytes": float(k.content_bytes.sum()) / n_content,
        "user_bytes": int(k.bytes.sum()),
    }


def _visible(r) -> tuple:
    content = normalize_py(r.content)
    sha = hashlib.sha256(content.encode()).hexdigest() if content is not None else None
    return (r.commit, r.lang, content, sha, int(r.lsn))


def expected_rows(keyed: pd.DataFrame, upto_unit: int, keys=None) -> dict:
    """Key -> the expected visible row once ``upto_unit`` and every unit
    before it are applied; restricted to ``keys`` when given."""
    k = keyed[keyed.unit <= upto_unit]
    if keys is not None:
        k = k[pd.MultiIndex.from_frame(k[["repo", "path"]]).isin(list(keys))]
    win = k.sort_values("lsn").drop_duplicates(["repo", "path"], keep="last")
    win = win[win.op != "delete"]
    return {(r.repo, r.path): _visible(r) for r in win.itertuples(index=False)}


def visible_rows(df: DataFrame) -> tuple[dict, int]:
    """The engine's visible rows by key, and the row count (duplicates
    included)."""
    pdf = df.select("repo", "path", "commit", "lang", "content", "content_sha256",
                    "last_lsn").toPandas()
    rows = {
        (r.repo, r.path): (r.commit, r.lang, r.content, r.content_sha256, int(r.last_lsn))
        for r in pdf.itertuples(index=False)
    }
    return rows, len(pdf)


def mismatches(expected: dict, actual: dict, n_rows: int | None = None) -> int:
    """Keys whose row differs, is missing or is unexpected; duplicate rows
    (``n_rows`` above the distinct key count) count as mismatches too."""
    bad = sum(1 for k in expected.keys() | actual.keys() if expected.get(k) != actual.get(k))
    if n_rows is not None:
        bad += n_rows - len(actual)
    return bad


def visible_bytes(expected: dict) -> int:
    """Logical bytes of the visible state: UTF-8 strings plus 8 per LSN."""
    total = 0
    for (repo, path), (commit, lang, content, sha, _) in expected.items():
        for v in (repo, path, commit, lang, content, sha):
            if v is not None:
                total += len(v.encode())
        total += 8
    return total


def _mix(x: np.ndarray, seed: int) -> np.ndarray:
    """splitmix64 of ``x`` offset by the seed: a seeded pseudo-random order."""
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def lookup_keys(log_dir: str, seed: int, want: dict[int, int]) -> dict[int, list[tuple]]:
    """Deterministic key picks: ``want[unit]`` distinct keys of each unit,
    in an order given by a seeded hash of the event LSN. Read straight from
    the parquet log with Arrow, so no Spark job runs."""
    t = ds.dataset(log_dir, format="parquet", partitioning="hive").to_table(
        columns=["unit", "lsn", "repo", "path"],
        filter=ds.field("repo").is_valid() & ds.field("path").is_valid(),
    )
    unit = t.column("unit").to_numpy()
    order = np.argsort(_mix(t.column("lsn").to_numpy(), seed), kind="stable")
    repo, path = t.column("repo"), t.column("path")
    out: dict[int, list[tuple]] = {}
    for u, n in want.items():
        keys: list[tuple] = []
        for i in order[unit[order] == u]:
            k = (repo[int(i)].as_py(), path[int(i)].as_py())
            if k not in keys:
                keys.append(k)
                if len(keys) == n:
                    break
        out[u] = keys
    return out
