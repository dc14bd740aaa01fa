"""Change data feed (table.changes): net row-level diffs between committed
snapshots, bucket-pruned, with COW carry-over rows cancelled and compaction
noise excluded."""

from lake_fixtures import merge_by_bucket_range

from translator_ingests_spark.lake import LakeSchema, LakeTable
from translator_ingests_spark.lake.maintenance import compact

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


def feed(table, v_from, v_to=None):
    return {
        (r["repo"], r["path"]): (r["content"], r["last_lsn"], r["_change_type"])
        for r in table.changes(v_from, v_to).collect()
    }


def test_upserts_deletes_and_carryover_cancellation(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "lake"))
    t.merge(src_df(spark, [
        ("r1", "a", "v1", "insert", 1),
        ("r1", "b", "v1", "insert", 2),
        ("r2", "c", "v1", "insert", 3),
    ]), 0)
    v1 = t.current().version

    # batch 1 touches only SOME keys; untouched keys in rewritten buckets
    # are COW carry-over and must NOT appear in the feed
    t.merge(src_df(spark, [
        ("r1", "a", "v2", "update", 10),
        ("r1", "b", None, "delete", 11),
    ]), 1)

    ch = feed(t, v1)
    assert ch == {
        ("r1", "a"): ("v2", 10, "upsert"),
        ("r1", "b"): (None, 11, "delete"),
    }


def test_stale_events_produce_empty_feed(spark, tmp_path):
    """A batch of only-stale events rewrites buckets with identical rows —
    the feed between the surrounding snapshots must be EMPTY."""
    t = make_table(spark, str(tmp_path / "lake"))
    t.merge(src_df(spark, [("r1", "a", "new", "update", 10)]), 0)
    v1 = t.current().version
    t.merge(src_df(spark, [("r1", "a", "old", "update", 5)]), 1)
    assert feed(t, v1) == {}


def test_compaction_is_not_a_change(spark, tmp_path):
    """Folding a tombstone out (retention) between the two versions must not
    emit anything — it is not a data change."""
    t = make_table(spark, str(tmp_path / "lake"))
    t.merge(src_df(spark, [("r1", "a", "v1", "insert", 1)]), 0)
    t.merge(src_df(spark, [("r1", "a", None, "delete", 5)]), 1,
            advance_watermark_to=5)
    v2 = t.current().version
    compact(t, drop_tombstones=True)
    assert t.current().version > v2  # compaction committed a snapshot
    assert feed(t, v2) == {}


def test_multi_version_feed_is_net_change(spark, tmp_path):
    """v1 → v3 reports the NET change: an insert+update collapses to one
    upsert at the final LSN; an insert-then-delete whose whole lifecycle
    falls inside the window emits NOTHING (the key is absent from both
    endpoints' visible state, so any feed row would violate the
    composition contract: read_at(v_from) + feed == read_at(v_to) with
    every row load-bearing)."""
    t = make_table(spark, str(tmp_path / "lake"))
    t.merge(src_df(spark, [("r1", "keep", "k1", "insert", 1)]), 0)
    v1 = t.current().version
    t.merge(src_df(spark, [
        ("r1", "x", "x1", "insert", 10),
        ("r1", "y", "y1", "insert", 11),
    ]), 1)
    t.merge(src_df(spark, [
        ("r1", "x", "x2", "update", 20),
        ("r1", "y", None, "delete", 21),
    ]), 2)

    ch = feed(t, v1)
    assert ch == {
        ("r1", "x"): ("x2", 20, "upsert"),
    }


def test_point_lookup_prunes_to_key_buckets(spark, tmp_path):
    """table.lookup reads only the files of the looked-up keys' buckets and
    returns exactly the visible rows for those keys."""
    t = make_table(spark, str(tmp_path / "lake"), num_buckets=8)
    rows = [("r1", f"f{i}.py", f"c{i}", "insert", i) for i in range(40)]
    nxt = merge_by_bucket_range(t, src_df(spark, rows), 4)  # four files
    t.merge(src_df(spark, [("r1", "f3.py", None, "delete", 100)]), nxt)

    got = {
        (r["repo"], r["path"]): (r["content"], r["last_lsn"])
        for r in t.lookup([("r1", "f7.py"), ("r1", "f3.py"), ("rX", "nope")]).collect()
    }
    # f7 present, f3 deleted (tombstone invisible), unknown key absent
    assert got == {("r1", "f7.py"): ("c7", 7)}

    # pruning: the scan must read fewer files than the table holds (the
    # three keys cover at most 3 of 8 buckets)
    snap = t.current()
    pruned = t._files_overlapping(
        snap,
        sorted(
            {
                r["__b"]
                for r in t.spark.createDataFrame(
                    [("r1", "f7.py"), ("r1", "f3.py"), ("rX", "nope")],
                    schema=["repo", "path"],
                )
                .select(t._bucket_expr(snap.num_buckets, snap.key_cols).alias("__b"))
                .collect()
            }
        ),
    )
    assert len(pruned) < len(snap.files)


def _keys_by_bucket(spark, t, num_buckets, n_candidates=400):
    """Probe candidate keys and map bucket -> list of (repo, path) keys."""
    cands = [("r1", f"k{i}.py") for i in range(n_candidates)]
    rows = (
        spark.createDataFrame(cands, schema=["repo", "path"])
        .select("repo", "path",
                t._bucket_expr(num_buckets, ["repo", "path"]).alias("__b"))
        .collect()
    )
    by_bucket: dict[int, list[tuple[str, str]]] = {}
    for r in rows:
        by_bucket.setdefault(r["__b"], []).append((r["repo"], r["path"]))
    return by_bucket


def test_feed_excludes_untouched_file_spanned_by_new_file_range(spark, tmp_path):
    """Regression (round-4 ADVICE high): a COW merge can write one new file
    whose contiguous bucket-group range SPANS a live file the merge never
    touched (live files [0,1] and [2,2]; batch touching buckets 0 and 3
    writes one file [0,3]). The untouched file's rows must NOT join the
    before side of the diff — or they surface as orphan negatives and the
    vanished-delete synthesis emits spurious deletes for keys still visible
    at v_to."""
    t = make_table(spark, str(tmp_path / "lake"), num_buckets=8)
    kb = _keys_by_bucket(spark, t, 8)
    assert all(kb.get(b) for b in (0, 1, 2, 3)), "probe exhausted; widen candidates"
    k0, k1, k2, k3 = kb[0][0], kb[1][0], kb[2][0], kb[3][0]

    # batch 0: buckets {0,1} -> grouped write yields one file [0,1]
    t.merge(src_df(spark, [(*k0, "a0", "insert", 1), (*k1, "b0", "insert", 2)]), 0)
    # batch 1: bucket {2} -> one file [2,2]; file [0,1] untouched
    t.merge(src_df(spark, [(*k2, "c0", "insert", 3)]), 1)
    v2 = t.current().version
    snap = t.current()
    ranges = sorted((f["bucket_min"], f["bucket_max"]) for f in snap.files)
    assert ranges == [(0, 1), (2, 2)], f"fixture drifted: {ranges}"

    # batch 2: buckets {0,3} -> rewrites file [0,1]; carried buckets {0,1} +
    # new bucket 3 all land in contiguous group 0 -> ONE file spanning [0,3]
    t.merge(src_df(spark, [(*k0, "a1", "update", 10), (*k3, "d0", "insert", 11)]), 2)
    snap = t.current()
    new_ranges = sorted((f["bucket_min"], f["bucket_max"]) for f in snap.files)
    assert new_ranges == [(0, 3), (2, 2)], f"fixture drifted: {new_ranges}"

    ch = feed(t, v2)
    # k2 (bucket 2, untouched) must NOT appear — especially not as a delete
    assert ch == {
        k0: ("a1", 10, "upsert"),
        k3: ("d0", 11, "upsert"),
    }
