"""Merge guards: the COW merge (one union + row_number window) must land
the expected raw state on a batch exercising every merge arm — strictly-newer
updates, stale updates, LSN ties (target must win), deletes of existing and
missing keys, re-inserts over tombstones, and empty targets — and the
window resolving raw events must be row-identical to a merge of the batch
pre-reduced by the max_by reduce.
"""

from __future__ import annotations

import hashlib

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
    ev(5, "insert", "r", "e", "c7", "py", "ve"),
]

# second batch: every merge decision arm
UPDATES = [
    ev(10, "update", "r", "a", "c4", "py", "va2"),   # newer → source wins
    ev(2, "update", "r", "b", "c9", "py", "stale"),  # loses in-batch to lsn 12
    ev(5, "update", "r", "e", "c9", "py", "tie"),    # tie LSN → target wins
    ev(1, "update", "r", "c", "c8", "py", "older"),  # stale → target wins
    ev(11, "insert", "r", "d", "c5", "py", "vd"),    # re-insert over tombstone
    ev(12, "delete", "r", "b", None, None, None),    # delete existing
    ev(13, "delete", "r", "zz", None, None, None),   # delete missing → tombstone
    ev(14, "insert", "r", "new", "c6", "py", "vn"),  # plain insert
]


def _sha(text):
    return hashlib.sha256(text.encode()).hexdigest()


# (repo, path, commit, lang, content, content_sha256, last_lsn, __tombstone)
EXPECTED = sorted([
    ("r", "a", "c4", "py", "va2", _sha("va2"), 10, False),  # newer applied
    ("r", "b", None, None, None, None, 12, True),           # deleted
    ("r", "c", "c3", "py", "vc", _sha("vc"), 3, False),     # stale rejected
    ("r", "d", "c5", "py", "vd", _sha("vd"), 11, False),    # re-insert
    ("r", "e", "c7", "py", "ve", _sha("ve"), 5, False),     # tie keeps target
    ("r", "new", "c6", "py", "vn", _sha("vn"), 14, False),  # plain insert
    ("r", "zz", None, None, None, None, 13, True),          # delete missing
])


def _final(spark, root, scatter: bool):
    # scatter delivery holds the retention watermark, so the stale and tied
    # updates reach the merge instead of being dropped by the watermark guard
    kw = dict(n_batches=1, scatter_delivery=True) if scatter else dict(
        events_per_batch=100)
    eng = CdcEngine(spark, root, num_buckets=8)
    eng.apply_log(spark.createDataFrame(SEED, EVENT_SCHEMA), **kw)
    eng.apply_log(spark.createDataFrame(UPDATES, EVENT_SCHEMA), **kw)
    rows = eng.table.read_raw().collect()
    return sorted(
        tuple(r[c] for c in ("repo", "path", "commit", "lang", "content",
                             "content_sha256", "last_lsn", "__tombstone"))
        for r in rows
    )


def test_cow_merge_arms_land_expected_raw_state(spark, tmp_path):
    assert _final(spark, str(tmp_path / "ord"), scatter=False) == EXPECTED
    assert _final(spark, str(tmp_path / "sc"), scatter=True) == EXPECTED


@pytest.mark.parametrize("dup", [False, True])
def test_simple_reduce_window_matches_maxby(spark, tmp_path, dup):
    """The merge window resolving the raw events lands the same raw rows as
    a merge of the batch pre-reduced by the standalone max_by reduce — same
    total order (lsn, op rank, tie hash), so same-LSN ties and exact
    redeliveries pick the same survivor."""
    rows = SEED + UPDATES
    if dup:
        rows = rows + rows  # exact redelivery: tie-hash path must agree
    df = spark.createDataFrame(rows, EVENT_SCHEMA).filter(
        F.col("repo").isNotNull() & F.col("path").isNotNull()
        & F.col("lsn").isNotNull()
    )

    def merged(sub, events):
        eng = CdcEngine(spark, str(tmp_path / sub), num_buckets=8)
        eng.init_table()
        snap = eng.table.head()
        eng.table.merge(eng._derive_columns(events, snap), batch_id=0,
                        winner_cols=eng._content_cols(snap))
        return sorted(tuple(r) for r in eng.table.read_raw().collect())

    assert merged("maxby", lww_reduce(df, keys=["repo", "path"], simple=True)) \
        == merged("window", df)
