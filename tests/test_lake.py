"""Unit tests for the from-scratch lake-table format: atomic snapshots,
bucketed COW merge semantics, field-id schema evolution, batch idempotency."""

import pytest
from lake_fixtures import merge_by_bucket_range
from pyspark.sql import functions as F

from translator_ingests_spark.lake import LakeSchema, LakeTable

SCHEMA = LakeSchema.from_names(
    [("repo", "string"), ("path", "string"), ("content", "string"), ("last_lsn", "long")]
)


def make_table(spark, root, num_buckets=4):
    return LakeTable.create(spark, root, SCHEMA, key_cols=["repo", "path"],
                            lsn_col="last_lsn", num_buckets=num_buckets)


def src_df(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, content string, op string, lsn long"
    )


def state(table):
    return {
        (r["repo"], r["path"]): (r["content"], r["last_lsn"])
        for r in table.read().collect()
    }


def test_create_and_empty_read(spark, tmp_table_root):
    t = make_table(spark, tmp_table_root)
    assert t.read().count() == 0
    assert t.current().version == 0
    assert t.current().schema.names() == ["repo", "path", "content", "last_lsn"]


def test_merge_insert_update_delete(spark, tmp_table_root):
    t = make_table(spark, tmp_table_root)
    t.merge(src_df(spark, [("r1", "a", "v1", "insert", 1), ("r1", "b", "v1", "insert", 2)]), 0)
    assert state(t) == {("r1", "a"): ("v1", 1), ("r1", "b"): ("v1", 2)}

    t.merge(src_df(spark, [("r1", "a", "v2", "update", 3), ("r1", "b", None, "delete", 4)]), 1)
    assert state(t) == {("r1", "a"): ("v2", 3)}


def test_stale_lsn_ignored(spark, tmp_table_root):
    t = make_table(spark, tmp_table_root)
    t.merge(src_df(spark, [("r1", "a", "new", "update", 10)]), 0)
    # a late, stale event (lower LSN) must not overwrite
    t.merge(src_df(spark, [("r1", "a", "old", "update", 5)]), 1)
    assert state(t) == {("r1", "a"): ("new", 10)}
    # stale delete must not remove either
    t.merge(src_df(spark, [("r1", "a", None, "delete", 7)]), 2)
    assert state(t) == {("r1", "a"): ("new", 10)}


def test_delete_then_stale_update_stays_absent(spark, tmp_table_root):
    """FIXTURES scenario 4: the delete is retained as a tombstone, so a late
    stale update (lower LSN) cannot resurrect the key."""
    t = make_table(spark, tmp_table_root)
    t.merge(src_df(spark, [("r1", "a", "v1", "insert", 1)]), 0)
    t.merge(src_df(spark, [("r1", "a", None, "delete", 9)]), 1)
    assert state(t) == {}
    t.merge(src_df(spark, [("r1", "a", "stale", "update", 5)]), 2)
    assert state(t) == {}
    # a genuinely newer write re-creates the key
    t.merge(src_df(spark, [("r1", "a", "fresh", "update", 11)]), 3)
    assert state(t) == {("r1", "a"): ("fresh", 11)}


def test_tombstone_even_when_key_never_seen(spark, tmp_table_root):
    t = make_table(spark, tmp_table_root)
    t.merge(src_df(spark, [("rX", "never", None, "delete", 20)]), 0)
    assert state(t) == {}
    t.merge(src_df(spark, [("rX", "never", "stale", "update", 15)]), 1)
    assert state(t) == {}


def test_batch_idempotency_guard(spark, tmp_table_root):
    t = make_table(spark, tmp_table_root)
    t.merge(src_df(spark, [("r1", "a", "v1", "insert", 1)]), 0)
    v1 = t.current().version
    # re-applying the same batch id is a metadata no-op
    t.merge(src_df(spark, [("r1", "a", "OTHER", "update", 99)]), 0)
    assert t.current().version == v1
    assert state(t) == {("r1", "a"): ("v1", 1)}


def test_file_pruning_rewrites_only_affected(spark, tmp_table_root):
    t = make_table(spark, tmp_table_root, num_buckets=8)
    rows = [(f"r{i}", f"p{i}", "v", "insert", i) for i in range(50)]
    nxt = merge_by_bucket_range(t, src_df(spark, rows), 4)  # four files
    snap0 = t.current()
    files0 = {f["path"] for f in snap0.files}
    assert len(files0) > 1  # multiple bucket-range files
    # single-key update touches only the file(s) covering its bucket
    t.merge(src_df(spark, [("r7", "p7", "v2", "update", 100)]), nxt)
    snap1 = t.current()
    files1 = {f["path"] for f in snap1.files}
    kept = files0 & files1
    assert kept, "unaffected files must be retained, not rewritten"
    assert len(files0 - files1) < len(files0), "pruning must not drop all files"
    assert state(t)[("r7", "p7")] == ("v2", 100)
    assert t.read().count() == 50
    # every file's bucket range is within the table's bucket domain
    for f in snap1.files:
        assert 0 <= f["bucket_min"] <= f["bucket_max"] < 8


def test_schema_evolution_add_rename_widen(spark, tmp_table_root):
    schema = LakeSchema.from_names(
        [("repo", "string"), ("path", "string"), ("n", "int"), ("last_lsn", "long")]
    )
    t = LakeTable.create(spark, tmp_table_root, schema, ["repo", "path"], "last_lsn", 4)
    t.merge(
        spark.createDataFrame([("r", "a", 1, "insert", 1)],
                              "repo string, path string, n int, op string, lsn long"),
        0,
    )
    # add a column: old rows read as null
    t.update_schema("add_column", "lang_meta", new_type="string")
    assert t.current().schema.names() == ["repo", "path", "n", "last_lsn", "lang_meta"]
    row = t.read().collect()[0]
    assert row["lang_meta"] is None and row["n"] == 1

    # rename: metadata-only, old files still readable via field id
    t.update_schema("rename_column", "n", new_name="count")
    assert t.read().collect()[0]["count"] == 1

    # widen int -> long: old files cast on read
    t.update_schema("widen_type", "count", new_type="long")
    row = t.read().collect()[0]
    assert row["count"] == 1 and t.current().schema.by_id()[3].type == "long"

    # new data lands in the evolved schema
    t.merge(
        spark.createDataFrame(
            [("r", "a", 2, "xx", "update", 5)],
            "repo string, path string, count long, lang_meta string, op string, lsn long",
        ),
        1,
    )
    row = t.read().collect()[0]
    assert (row["count"], row["lang_meta"]) == (2, "xx")

    # idempotent replays
    t.update_schema("add_column", "lang_meta", new_type="string")
    t.update_schema("rename_column", "n", new_name="count")
    t.update_schema("widen_type", "count", new_type="long")

    with pytest.raises(ValueError):
        t.update_schema("widen_type", "repo", new_type="long")


def test_time_travel_snapshots(spark, tmp_table_root):
    t = make_table(spark, tmp_table_root)
    t.merge(src_df(spark, [("r", "a", "v1", "insert", 1)]), 0)
    t.merge(src_df(spark, [("r", "a", "v2", "update", 2)]), 1)
    assert t.history() == [0, 1, 2]
    old = t.snapshot_at(1)
    assert t._read_files(old, old.files).collect()[0]["content"] == "v1"


def test_lookup_int_key_finds_every_row(spark, tmp_table_root):
    """lookup hashes each key as its column's lake type: an int key hashed
    as a Python-inferred long lands in another bucket for about half the
    keys, and the bucket-pruned read then misses the row."""
    schema = LakeSchema.from_names([("k", "int"), ("v", "string"), ("last_lsn", "long")])
    t = LakeTable.create(spark, tmp_table_root, schema, key_cols=["k"],
                         lsn_col="last_lsn", num_buckets=16)
    rows = [(i, f"v{i}", "insert", i) for i in range(40)]
    t.merge(spark.createDataFrame(rows, "k int, v string, op string, lsn long"), 0)
    missed = [i for i in range(40)
              if [r["v"] for r in t.lookup([(i,)]).collect()] != [f"v{i}"]]
    assert missed == []
    assert t.lookup([(2**40,)]).collect() == []  # outside int: no row, no error
