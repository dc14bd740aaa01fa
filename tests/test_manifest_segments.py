"""Two-level manifest: snapshots hold segment REFS, file entries live in
immutable content-addressed segment files shared across snapshots.

What 100-TB property each test pins down:
- commit I/O is O(touched segments), not O(table files) — a bucket-local
  merge reuses every untouched parent segment byte-for-byte;
- loading a snapshot costs one small JSON read (lazy file list);
- the serving path (lookup/read_buckets) opens only segment refs whose
  bucket range intersects the request — two-level pruning;
- GC removes segments referenced by no retained snapshot and nothing else.
"""

import json
import os

import pytest
from lake_fixtures import merge_by_bucket_range

import translator_ingests_spark.lake.table as lt
from translator_ingests_spark.lake import LakeSchema, LakeTable
from translator_ingests_spark.lake.maintenance import expire_snapshots
from translator_ingests_spark.lake.table import _LazyFiles

SCHEMA = LakeSchema.from_names(
    [("repo", "string"), ("path", "string"), ("content", "string"), ("last_lsn", "long")]
)


def mk(spark, root, num_buckets=8):
    return LakeTable.create(spark, root, SCHEMA, key_cols=["repo", "path"],
                            lsn_col="last_lsn", num_buckets=num_buckets)


def src(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, content string, op string, lsn long"
    )


def seg_names(table, version):
    return [r["name"] for r in table._raw_snapshot(version).get("segments", [])]


def wide_batch(spark, lsn, n=64):
    # keys spread over many buckets
    return src(spark, [(f"r{i}", "a", f"v{lsn}", "insert", lsn + i) for i in range(n)])


def test_snapshot_json_holds_refs_not_files(spark, tmp_path):
    t = mk(spark, str(tmp_path / "l"))
    t.merge(wide_batch(spark, 0), batch_id=0)
    raw = t._raw_snapshot(t.current().version)
    assert "files" not in raw and raw["segments"]
    # refs are tiny: name + stats only
    assert set(raw["segments"][0]) == {
        "name", "n_files", "bucket_min", "bucket_max", "has_deltas"
    }
    # round-trip: resolved snapshot enumerates the same files the merge wrote
    snap = t.current()
    assert isinstance(snap.files, _LazyFiles)
    assert sum(r["n_files"] for r in raw["segments"]) == len(list(snap.files))


def test_untouched_segments_reused_across_commits(spark, tmp_path, monkeypatch):
    # small segments so one table has several, and a bucket-local write
    # can only break the segment covering its bucket
    monkeypatch.setattr(lt, "SEGMENT_MAX_FILES", 2)
    t = mk(spark, str(tmp_path / "l"))
    nxt = merge_by_bucket_range(t, wide_batch(spark, 0), 8)  # a file per bucket
    v1 = t.current().version
    segs1 = set(seg_names(t, v1))
    assert len(segs1) > 2

    # single-key update → merge rewrites one bucket's file(s)
    t.merge(src(spark, [("r1", "a", "patched", "update", 10_000)]), batch_id=nxt)
    v2 = t.current().version
    segs2 = set(seg_names(t, v2))
    reused = segs1 & segs2
    assert reused, "bucket-local commit must re-reference untouched segments"
    # and only a bounded number of NEW segment files were written
    assert len(segs2 - segs1) <= 2

    # correctness unchanged: the update is visible, everything else intact
    rows = {(r["repo"], r["path"]): r["content"] for r in t.read().collect()}
    assert rows[("r1", "a")] == "patched" and len(rows) == 64


def test_metadata_only_commit_writes_no_new_segments(spark, tmp_path):
    t = mk(spark, str(tmp_path / "l"))
    t.merge(wide_batch(spark, 0), batch_id=0)
    v1 = t.current().version
    t.update_schema("add_column", "stars", new_type="long", at_lsn=10_000)
    v2 = t.current().version
    assert seg_names(t, v2) == seg_names(t, v1)


def test_current_is_lazy_and_pruned_read_opens_only_needed_segments(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setattr(lt, "SEGMENT_MAX_FILES", 2)
    t = mk(spark, str(tmp_path / "l"))
    merge_by_bucket_range(t, wide_batch(spark, 0), 4)  # four files

    t2 = LakeTable(spark, str(tmp_path / "l"))
    snap = t2.current()
    assert isinstance(snap.files, _LazyFiles) and snap.files._data is None

    # count segment opens via the loader, bypassing the process cache
    lt._SEGMENT_CACHE.clear()
    opened = []
    orig = LakeTable._load_segment

    def counting(self, name):
        opened.append(name)
        return orig(self, name)

    monkeypatch.setattr(LakeTable, "_load_segment", counting)
    one_key = t2.lookup([("r1", "a")])
    assert one_key.count() == 1
    assert 0 < len(set(opened)) < len(snap.segments)
    # the lazy full list was never materialized by the pruned path
    assert snap.files._data is None


def test_gc_drops_expired_segments_keeps_live(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(lt, "SEGMENT_MAX_FILES", 2)
    t = mk(spark, str(tmp_path / "l"))
    t.merge(wide_batch(spark, 0), batch_id=0)
    for b in range(1, 4):
        t.merge(src(spark, [(f"r{b}", "a", f"p{b}", "update", 10_000 + b)]), batch_id=b)
    live = set(seg_names(t, t.current().version))

    res = expire_snapshots(t, keep_last=1)
    assert res["segments_removed"] > 0
    on_disk = {f for f in os.listdir(t._manifest_dir) if f.startswith("seg-")}
    assert live <= on_disk
    # nothing unreferenced survives
    assert on_disk == live
    # the retained snapshot still reads fully (cache cleared → from disk)
    lt._SEGMENT_CACHE.clear()
    assert LakeTable(spark, str(tmp_path / "l")).read().count() == 64


def test_segments_content_addressed_and_fence_loser_garbage_is_inert(
    spark, tmp_path
):
    t = mk(spark, str(tmp_path / "l"))
    t.merge(wide_batch(spark, 0), batch_id=0)
    snap = t.current()
    # identical content → identical segment name (idempotent re-write)
    refs_again = t._write_segments(snap)
    assert [r["name"] for r in refs_again] == seg_names(t, snap.version)


def test_mor_delta_segment_flag_routes_to_fold(spark, tmp_path):
    t = mk(spark, str(tmp_path / "l"))
    t.merge(wide_batch(spark, 0), batch_id=0)
    t.merge(src(spark, [("r1", "a", "dv", "update", 10_000)]), batch_id=1, mode="mor")
    raw = t._raw_snapshot(t.current().version)
    assert any(r["has_deltas"] for r in raw["segments"])
    # pruned lookup must still fold the delta (closure path)
    row = t.lookup([("r1", "a")]).collect()
    assert len(row) == 1 and row[0]["content"] == "dv"


def test_segment_cache_lru_on_every_access_path():
    """Plain indexing, setdefault and update must refresh LRU recency and
    respect the bound — not only .get / item assignment (round-4 ADVICE)."""
    from translator_ingests_spark.lake import table as tbl

    cache = tbl._SegmentCache()
    old_max = tbl._SEGMENT_CACHE_MAX
    tbl._SEGMENT_CACHE_MAX = 3
    try:
        cache["a"] = 1
        cache["b"] = 2
        cache["c"] = 3
        _ = cache["a"]          # plain indexing refreshes recency
        cache["d"] = 4          # evicts LRU = "b", not "a"
        assert "a" in cache and "b" not in cache
        assert cache.setdefault("c", 99) == 3  # refreshes "c", keeps value
        cache.update({"e": 5})
        assert len(cache) <= 3
        cache.update({"f": 6, "g": 7, "h": 8, "i": 9})
        assert len(cache) <= 3
    finally:
        tbl._SEGMENT_CACHE_MAX = old_max
