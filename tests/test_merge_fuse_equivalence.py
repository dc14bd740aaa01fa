"""Round-6 optimization guards: the fused (union + window LWW) COW merge
and the window-shaped simple reduce must be row-identical to the join /
max_by shapes they replaced — on batches exercising every merge arm:
strictly-newer updates, stale updates, LSN ties (target must win), deletes
of existing/missing keys, re-inserts over tombstones, and empty targets.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from translator_ingests_spark.cdc.apply import EVENT_SCHEMA, CdcEngine
from translator_ingests_spark.cdc.reduce import lww_reduce


def ev(lsn, op, repo, path, commit, lang, content):
    return {
        "lsn": lsn, "op": op, "repo": repo, "path": path, "commit": commit,
        "lang": lang, "content": content, "schema_change": None,
        "source_partition": 0, "source_offset": lsn, "extras": None,
    }


SEED = [
    ev(1, "insert", "r", "a", "c1", "py", "va"),
    ev(2, "insert", "r", "b", "c2", "py", "vb"),
    ev(3, "insert", "r", "c", "c3", "py", "vc"),
    ev(4, "delete", "r", "d", None, None, None),  # tombstone from day one
]

# second batch: every merge decision arm
UPDATES = [
    ev(10, "update", "r", "a", "c4", "py", "va2"),   # newer → source wins
    ev(2, "update", "r", "b", "c9", "py", "stale"),  # tie LSN → target wins
    ev(1, "update", "r", "c", "c8", "py", "older"),  # stale → target wins
    ev(11, "insert", "r", "d", "c5", "py", "vd"),    # re-insert over tombstone
    ev(12, "delete", "r", "b", None, None, None),    # delete existing
    ev(13, "delete", "r", "zz", None, None, None),   # delete missing → tombstone
    ev(14, "insert", "r", "new", "c6", "py", "vn"),  # plain insert
]


def _final(spark, root, fuse: str):
    os.environ["SPARK_GRAFT_MERGE_FUSE"] = fuse
    try:
        eng = CdcEngine(spark, root, num_buckets=8)
        eng.apply_log(spark.createDataFrame(SEED, EVENT_SCHEMA),
                      events_per_batch=100)
        eng.apply_log(spark.createDataFrame(UPDATES, EVENT_SCHEMA),
                      events_per_batch=100)
        rows = eng.table.read_raw().collect()
        return sorted(
            tuple(r[c] for c in ("repo", "path", "commit", "lang", "content",
                                 "content_sha256", "last_lsn", "__tombstone"))
            for r in rows
        )
    finally:
        os.environ.pop("SPARK_GRAFT_MERGE_FUSE", None)


def test_fused_merge_matches_join_merge(spark, tmp_path):
    fused = _final(spark, str(tmp_path / "fuse"), "1")
    joined = _final(spark, str(tmp_path / "join"), "0")
    assert fused == joined
    # and the arms actually happened: tie kept target, delete tombstoned,
    # re-insert resurrected
    by_key = {(r[0], r[1]): r for r in fused}
    assert by_key[("r", "b")][7] is True          # deleted
    assert by_key[("r", "c")][4] == "vc"          # stale update rejected
    assert by_key[("r", "d")][4] == "vd"          # re-insert over tombstone
    assert by_key[("r", "zz")][7] is True         # delete-missing tombstone
    assert by_key[("r", "a")][6] == 10            # newer update applied


@pytest.mark.parametrize("dup", [False, True])
def test_simple_reduce_window_matches_maxby(spark, dup):
    rows = SEED + UPDATES
    if dup:
        rows = rows + rows  # exact redelivery: tie-hash path must agree
    df = spark.createDataFrame(rows, EVENT_SCHEMA).filter(
        F.col("repo").isNotNull() & F.col("path").isNotNull()
        & F.col("lsn").isNotNull()
    )
    a = lww_reduce(df, keys=["repo", "path"], simple=True)
    b = lww_reduce(df, keys=["repo", "path"], simple=True,
                   simple_via_window=True)
    key = lambda r: (r["repo"], r["path"])  # noqa: E731
    ra = sorted((tuple(r) for r in a.collect()), key=lambda t: (t[2], t[3]))
    rb = sorted((tuple(r) for r in b.collect()), key=lambda t: (t[2], t[3]))
    assert ra == rb
