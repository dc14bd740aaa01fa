"""Partial-update streams (Paimon partial-update merge-engine analog):
a non-delete event's NULL value column means "no change" — the engine
assembles each key's row column-wise (last non-null writer) in the merge's
one window, within a batch and across batches (a winning patch takes the
target's value for each column no event in its batch set, unless the batch
also deleted the key).
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from translator_ingests_spark.cdc import CdcEngine, EVENT_SCHEMA


def ev(lsn, op, repo=None, path=None, commit=None, lang=None, content=None):
    return {
        "lsn": lsn, "op": op, "repo": repo, "path": path, "commit": commit,
        "lang": lang, "content": content, "schema_change": None,
        "source_partition": 0, "source_offset": lsn, "extras": None,
    }


def mk(spark, tmp_path, sub="p"):
    return CdcEngine(spark, str(tmp_path / sub), num_buckets=4,
                     auto_compact_every=None, partial_updates=True)


def apply(eng, spark, events, **kw):
    kw.setdefault("events_per_batch", 100)
    eng.apply_log(spark.createDataFrame(events, EVENT_SCHEMA), **kw)


def state(eng):
    return {(r["repo"], r["path"]): r.asDict() for r in eng.final_state().collect()}


def sha(text):
    return hashlib.sha256(text.encode()).hexdigest()


def test_same_batch_patches_assemble_columnwise(spark, tmp_path):
    eng = mk(spark, tmp_path)
    apply(eng, spark, [
        ev(0, "insert", "r", "a", commit="c0", lang="py", content="v0"),
        ev(1, "update", "r", "a", lang="rust"),          # only lang
        ev(2, "update", "r", "a", content="v2"),         # only content
    ])
    row = state(eng)[("r", "a")]
    assert row["lang"] == "rust"          # lsn-1 writer survives for lang
    assert row["content"] == "v2"         # lsn-2 writer survives for content
    assert row["commit"] == "c0"          # untouched column keeps lsn-0 value
    assert row["last_lsn"] == 2
    assert row["content_sha256"] == sha("v2")


def test_cross_batch_patch_keeps_old_columns(spark, tmp_path):
    eng = mk(spark, tmp_path)
    apply(eng, spark, [ev(0, "insert", "r", "a", "c0", "py", "v0")])
    apply(eng, spark, [ev(10, "update", "r", "a", lang="go")])  # patch lang only
    row = state(eng)[("r", "a")]
    assert row["lang"] == "go"
    assert row["content"] == "v0"                   # retained from the table
    assert row["content_sha256"] == sha("v0")       # sha retained WITH it
    assert row["last_lsn"] == 10


def test_delete_kills_columns_below_it(spark, tmp_path):
    eng = mk(spark, tmp_path)
    apply(eng, spark, [
        ev(1, "insert", "r", "a", "c1", "py", "v1"),
        ev(5, "delete", "r", "a"),
        ev(8, "update", "r", "a", lang="go"),   # partial re-create after delete
    ])
    row = state(eng)[("r", "a")]
    assert row["lang"] == "go"
    assert row["content"] is None        # written below the delete: dead
    assert row["commit"] is None
    assert row["last_lsn"] == 8


def test_in_batch_delete_kills_target_columns(spark, tmp_path):
    # the delete below the patch is in the batch, not in the table: the
    # merge must not fill the patch's unset columns from the live target
    eng = mk(spark, tmp_path)
    apply(eng, spark, [ev(1, "insert", "r", "a", "c1", "py", "v1")])
    apply(eng, spark, [
        ev(5, "delete", "r", "a"),
        ev(8, "update", "r", "a", lang="go"),
    ])
    row = state(eng)[("r", "a")]
    assert row["lang"] == "go"
    assert row["content"] is None and row["content_sha256"] is None
    assert row["commit"] is None
    assert row["last_lsn"] == 8


def test_stale_patch_cannot_resurrect_deleted_key(spark, tmp_path):
    eng = mk(spark, tmp_path)
    apply(eng, spark, [
        ev(1, "insert", "r", "a", "c1", "py", "v1"),
        ev(5, "delete", "r", "a"),
    ])
    apply(eng, spark, [ev(3, "update", "r", "a", lang="go")])  # stale patch
    assert ("r", "a") not in state(eng)


def test_stale_patch_below_stored_tombstone_feeds_no_column(spark, tmp_path):
    # the tombstone at lsn 60 is in the table; the next call brings a live
    # patch above it and a redelivered patch below it. In-order replay
    # drops the lsn-47 commit with the delete, so scatter must too.
    eng = mk(spark, tmp_path)
    once = dict(n_batches=1, scatter_delivery=True)
    apply(eng, spark, [
        ev(10, "insert", "r", "a", "c10", "py", "v10"),
        ev(60, "delete", "r", "a"),
    ], **once)
    apply(eng, spark, [
        ev(61, "update", "r", "a", lang="go"),
        ev(47, "update", "r", "a", commit="c47"),
    ], **once)
    row = state(eng)[("r", "a")]
    assert row["lang"] == "go" and row["last_lsn"] == 61
    assert row["commit"] is None
    assert row["content"] is None and row["content_sha256"] is None


def test_stale_patches_in_mixed_tail_keep_target(spark, tmp_path):
    # scatter delivery holds the watermark, so the stale tail reaches the
    # merge. The table does not record a's delete at lsn 4: only the live
    # target's lsn 5 keeps the redelivered lsn-3 patch from bringing back
    # the lang it set before that delete.
    eng = mk(spark, tmp_path)
    once = dict(n_batches=1, scatter_delivery=True)
    apply(eng, spark, [
        ev(1, "insert", "r", "a", "c1", "py", "v1"),
        ev(4, "delete", "r", "a"),
        ev(5, "update", "r", "a", content="v5"),
        ev(2, "insert", "r", "c", "c2", None, "vc"),
    ], **once)
    apply(eng, spark, [
        ev(3, "update", "r", "a", lang="go"),       # below the live lsn 5
        ev(1, "update", "r", "c", lang="rs"),       # stale
        ev(2, "update", "r", "c", commit="tie"),    # ties the target's lsn
        ev(6, "insert", "r", "b", "c6", "py", "v6"),
    ], **once)
    got = state(eng)
    a, c = got[("r", "a")], got[("r", "c")]
    assert a["lang"] is None and a["commit"] is None
    assert a["content"] == "v5" and a["last_lsn"] == 5
    assert c["lang"] is None
    assert c["commit"] == "c2" and c["last_lsn"] == 2   # a tie keeps the target
    assert got[("r", "b")]["last_lsn"] == 6


def test_delete_as_final_event_wins(spark, tmp_path):
    eng = mk(spark, tmp_path)
    apply(eng, spark, [
        ev(0, "insert", "r", "a", "c0", "py", "v0"),
        ev(1, "update", "r", "a", content="v1"),
        ev(9, "delete", "r", "a"),
    ])
    assert ("r", "a") not in state(eng)


def test_replay_is_idempotent(spark, tmp_path):
    eng = mk(spark, tmp_path)
    events = [
        ev(0, "insert", "r", "a", "c0", "py", "v0"),
        ev(1, "update", "r", "a", lang="go"),
    ]
    apply(eng, spark, events)
    before = state(eng)
    v = eng.table.current().version
    apply(eng, spark, events)  # full replay: exactly-once no-op
    assert eng.table.current().version == v and state(eng) == before


def test_partial_requires_cow(spark, tmp_path):
    with pytest.raises(ValueError):
        CdcEngine(spark, str(tmp_path / "x"), partial_updates=True,
                  write_mode="mor")
    with pytest.raises(ValueError):
        CdcEngine(spark, str(tmp_path / "y"), partial_updates=True,
                  write_mode="auto")


def test_partial_patch_with_schema_added_column(spark, tmp_path):
    # a partial patch that ONLY sets an evolution-added column (via extras)
    # keeps every base column; a later patch with no extras keeps the
    # added-column value through the extras coalesce
    eng = mk(spark, tmp_path, sub="se")
    e0 = ev(0, "insert", "r", "a", "c0", "py", "v0")
    sc = {"lsn": 1, "op": "schema_change", "repo": None, "path": None,
          "commit": None, "lang": None, "content": None,
          "schema_change": {"kind": "add_column", "column": "stars",
                            "new_name": None, "new_type": "long"},
          "source_partition": 0, "source_offset": 1, "extras": None}
    e2 = {**ev(2, "update", "r", "a"), "extras": {"stars": "7"}}
    e3 = ev(3, "update", "r", "a", lang="go")  # no extras: stars must survive
    apply(eng, spark, [e0, sc, e2, e3])
    row = state(eng)[("r", "a")]
    assert row["content"] == "v0" and row["lang"] == "go"
    assert row["stars"] == 7
    assert row["last_lsn"] == 3
