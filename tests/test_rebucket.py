"""Bucket-count (partition-spec) evolution and snapshot time travel.

At 10^10 rows the bucket count fixed at CREATE is the scaling ceiling —
``rebucket`` rewrites the table under a new count and every downstream path
(merge pruning, apply-loop masks, point lookup) must switch over atomically
at the commit; ``read_at`` serves any retained historical snapshot.
"""

from pyspark.sql import functions as F

from translator_ingests_spark.cdc import CdcEngine, EVENT_SCHEMA
from translator_ingests_spark.lake.maintenance import rebucket, suggest_num_buckets
from translator_ingests_spark.lake.table import TOMBSTONE_COL, ConcurrentModificationError


def ev(lsn, op, repo=None, path=None, commit=None, lang=None, content=None,
       source_partition=0):
    return {
        "lsn": lsn, "op": op, "repo": repo, "path": path, "commit": commit,
        "lang": lang, "content": content, "schema_change": None,
        "source_partition": source_partition, "source_offset": lsn,
        "extras": None,
    }


def seed(spark, tmp_path, n=24, **kw):
    eng = CdcEngine(spark, str(tmp_path / "t"), num_buckets=4,
                    auto_compact_every=None, **kw)
    events = [ev(i, "insert", "r", f"p{i}", f"c{i}", "py", f"v{i}") for i in range(n)]
    eng.apply_log(spark.createDataFrame(events, EVENT_SCHEMA), events_per_batch=100)
    return eng


def state(eng):
    return sorted(
        (r["repo"], r["path"], r["content"], r["last_lsn"])
        for r in eng.final_state().collect()
    )


def test_rebucket_preserves_state_and_switches_count(spark, tmp_path):
    eng = seed(spark, tmp_path)
    before = state(eng)
    snap = rebucket(eng.table, 16)
    assert snap.operation == "rebucket" and snap.num_buckets == 16
    assert state(eng) == before
    # every data file's bucket range is now under the new modulus
    assert all(f["bucket_max"] < 16 for f in snap.files)
    # the exactly-once guard carries over
    assert snap.last_batch_id == eng.table.current().last_batch_id


def test_merge_and_lookup_after_rebucket(spark, tmp_path):
    eng = seed(spark, tmp_path)
    rebucket(eng.table, 16)
    nxt = [ev(100, "update", "r", "p3", "cx", "py", "fresh"),
           ev(101, "delete", "r", "p5")]
    eng.apply_log(spark.createDataFrame(nxt, EVENT_SCHEMA), events_per_batch=100)
    st = dict(((r, p), (c, l)) for r, p, c, l in state(eng))
    assert st[("r", "p3")] == ("fresh", 100)
    assert ("r", "p5") not in st
    rows = eng.table.lookup([("r", "p3")]).collect()
    assert len(rows) == 1 and rows[0]["content"] == "fresh"



def test_pre_grouped_unit_retried_after_concurrent_rebucket(spark, tmp_path, monkeypatch):
    """A rebucket commits while a unit is in flight; the unit loses the
    commit race and retries. Its bucket set was computed under the old
    count, so the retry must recompute it: every row is then found by a
    bucket-pruned read and by lookup."""
    eng = seed(spark, tmp_path, write_mode="mor")
    table = eng.table
    real_merge = table.merge
    calls = []

    def racing_merge(source, **kw):
        calls.append(kw)
        if len(calls) == 1:
            rebucket(table, 16)
            raise ConcurrentModificationError("a rebucket committed first")
        return real_merge(source, **kw)

    monkeypatch.setattr(table, "merge", racing_merge)
    nxt = [ev(100 + i, "insert", "r", f"q{i}", f"c{i}", "py", f"w{i}") for i in range(24)]
    eng.apply_log(spark.createDataFrame(nxt, EVENT_SCHEMA), events_per_batch=100)
    assert len(calls) == 2 and calls[0]["affected_buckets"]
    assert calls[0]["src_num_buckets"] == 4 and table.current().num_buckets == 16

    bucket = table._bucket_expr(16, ["repo", "path"])
    by_bucket: dict[int, set] = {}
    for r in eng.final_state().select("repo", "path", bucket.alias("b")).collect():
        by_bucket.setdefault(r["b"], set()).add((r["repo"], r["path"]))
    assert sum(len(ks) for ks in by_bucket.values()) == 48
    for b, ks in by_bucket.items():
        read = {(r["repo"], r["path"]) for r in table.read_buckets([b]).collect()}
        assert ks <= read, f"bucket {b}"
        looked = {(r["repo"], r["path"]) for r in table.lookup(sorted(ks)).collect()}
        assert looked == ks, f"bucket {b}"

def test_rebucket_folds_mor_deltas(spark, tmp_path):
    eng = seed(spark, tmp_path, write_mode="mor")
    assert any(f.get("delta") for f in eng.table.current().files)
    before = state(eng)
    snap = rebucket(eng.table, 8)
    assert not any(f.get("delta") for f in snap.files)
    assert state(eng) == before


def test_rebucket_respects_tombstone_watermark(spark, tmp_path):
    eng = seed(spark, tmp_path, n=6)
    # scatter delivery: watermark does NOT advance, so the delete tombstone
    # must SURVIVE the rebucket (still-contested LSN territory)
    nxt = [ev(50, "delete", "r", "p1"), ev(51, "update", "r", "p2", "cz", "py", "z")]
    eng.apply_log(spark.createDataFrame(nxt, EVENT_SCHEMA),
                  n_batches=1, scatter_delivery=True)
    rebucket(eng.table, 8)
    tombs = eng.table.read_raw().filter(F.col(TOMBSTONE_COL)).collect()
    assert [(r["repo"], r["path"]) for r in tombs] == [("r", "p1")]


def test_suggest_num_buckets_from_manifest_rows(spark, tmp_path):
    eng = seed(spark, tmp_path, n=24)
    snap = eng.table.current()
    # 24 rows over 4 buckets: a 2-row target wants 16 buckets (power of two)
    assert suggest_num_buckets(snap, target_rows_per_bucket=2) == 16
    # already satisfied → no suggestion
    assert suggest_num_buckets(snap, target_rows_per_bucket=1_000) is None


def test_time_travel_read_at(spark, tmp_path):
    eng = seed(spark, tmp_path, n=4)
    v1 = eng.table.current().version
    nxt = [ev(100, "update", "r", "p0", "cy", "py", "new"),
           ev(101, "delete", "r", "p1")]
    eng.apply_log(spark.createDataFrame(nxt, EVENT_SCHEMA), events_per_batch=100)
    old = {(r["repo"], r["path"]): r["content"]
           for r in eng.table.read_at(v1).collect()}
    now = {(r["repo"], r["path"]): r["content"]
           for r in eng.table.read().collect()}
    assert old[("r", "p0")] == "v0" and ("r", "p1") in old
    assert now[("r", "p0")] == "new" and ("r", "p1") not in now


def test_changes_feed_across_rebucket(spark, tmp_path):
    # a diff that SPANS a bucket-count change: the rebucket commit rewrites
    # every file, so the feed's seed covers the full (new) bucket range and
    # both sides read completely — net changes only, no rebucket noise
    eng = seed(spark, tmp_path, n=6)
    v1 = eng.table.current().version
    from translator_ingests_spark.lake.maintenance import rebucket
    rebucket(eng.table, 16)
    nxt = [ev(100, "update", "r", "p2", "cx", "py", "fresh"),
           ev(101, "delete", "r", "p4")]
    eng.apply_log(spark.createDataFrame(nxt, EVENT_SCHEMA), events_per_batch=100)
    feed = eng.table.changes(v1).select("repo", "path", "content", "_change_type").collect()
    got = sorted((r["repo"], r["path"], r["content"], r["_change_type"]) for r in feed)
    assert got == [("r", "p2", "fresh", "upsert"), ("r", "p4", None, "delete")]


def test_cluster_by_tightens_row_group_stats(spark, tmp_path):
    """After cluster_by("lang"), rows inside each file are lang-runs within
    bucket runs — the layout that makes parquet row-group min/max stats on
    lang tight at production row-group sizes, so lang predicates skip
    groups instead of reading every page."""
    import pyarrow.parquet as pq

    from translator_ingests_spark.lake.maintenance import cluster_by

    eng = CdcEngine(spark, str(tmp_path / "t"), num_buckets=2,
                    auto_compact_every=None)
    langs = ["a", "b", "c", "d"]
    events = [ev(i, "insert", "r", f"p{i}", "c", langs[i % 4], f"v{i}")
              for i in range(64)]
    eng.apply_log(spark.createDataFrame(events, EVENT_SCHEMA), events_per_batch=100)
    snap = cluster_by(eng.table, ["lang"], target_files=1)
    assert snap.operation == "cluster"
    assert eng.final_state().count() == 64  # state unchanged by the rewrite
    for f in snap.files:
        tbl = pq.read_table(eng.table.localize_path(f["path"]),
                            columns=["__bucket", "lang"])
        pairs = list(zip(tbl.column("__bucket").to_pylist(),
                         tbl.column("lang").to_pylist()))
        assert pairs == sorted(pairs), "file not (bucket, lang)-sorted"
        # sortedness bounds value transitions: ≤ buckets × langs runs, so a
        # row-group boundary lands inside a run and its min==max stats are
        # tight (vs the unclustered key-sort where lang cycles every 4 rows)
        runs = 1 + sum(1 for i in range(1, len(pairs)) if pairs[i] != pairs[i - 1])
        assert runs <= 2 * len(langs)


def test_cluster_by_rejects_unknown_column(spark, tmp_path):
    import pytest

    from translator_ingests_spark.lake.maintenance import cluster_by

    eng = seed(spark, tmp_path, n=4)
    with pytest.raises(ValueError):
        cluster_by(eng.table, ["nope"])


def test_lookup_still_correct_after_cluster_by(spark, tmp_path):
    # cluster_by replaces the key-sorted secondary layout — point lookups
    # lose row-group skipping but must stay CORRECT
    from translator_ingests_spark.lake.maintenance import cluster_by

    eng = seed(spark, tmp_path, n=16)
    cluster_by(eng.table, ["lang"])
    rows = eng.table.lookup([("r", "p7")]).collect()
    assert len(rows) == 1 and rows[0]["content"] == "v7"
