"""Merge-on-read (MOR) mode: delta-file merges, read-time LWW fold,
compaction fold-back, and equivalence with copy-on-write.

The contract under test: ``CdcEngine(write_mode="mor")`` produces the SAME
final visible state as ``write_mode="cow"`` on any log (deletes, stale
redelivery, out-of-order scatter, schema evolution included), while a MOR
merge writes O(batch) delta files and leaves every base file untouched.
"""

import hashlib

import pytest
from lake_fixtures import apply_by_bucket_range
from pyspark.sql import functions as F

from translator_ingests_spark.cdc import CdcEngine, EVENT_SCHEMA, generate_event_log
from translator_ingests_spark.cdc.oracle import replay_oracle
from translator_ingests_spark.lake.maintenance import compact_incremental
from translator_ingests_spark.lake.table import TOMBSTONE_COL


def ev(lsn, op, repo=None, path=None, commit=None, lang=None, content=None,
       schema_change=None, source_partition=0, source_offset=None, extras=None):
    return {
        "lsn": lsn, "op": op, "repo": repo, "path": path, "commit": commit,
        "lang": lang, "content": content, "schema_change": schema_change,
        "source_partition": source_partition,
        "source_offset": source_offset if source_offset is not None else lsn,
        "extras": extras,
    }


def run(spark, tmp_path, events, sub="m", events_per_batch=3, **engine_kw):
    engine_kw.setdefault("write_mode", "mor")
    engine_kw.setdefault("auto_compact_every", None)  # keep deltas pending
    eng = CdcEngine(spark, str(tmp_path / sub), num_buckets=4, **engine_kw)
    df = spark.createDataFrame(events, EVENT_SCHEMA)
    eng.apply_log(df, events_per_batch=events_per_batch)
    return eng


def state(eng):
    return {(r["repo"], r["path"]): r.asDict() for r in eng.final_state().collect()}


def delta_files(eng):
    return [f for f in eng.table.current().files if f.get("delta")]


def test_mor_equals_cow_on_generated_log(spark, tmp_path):
    log = generate_event_log(spark, 600, seed=11, n_repos=12, paths_per_repo=6,
                             delete_fraction=0.12)
    rows = [r.asDict() for r in log.collect()]
    cow = CdcEngine(spark, str(tmp_path / "cow"), num_buckets=4,
                    write_mode="cow", auto_compact_every=None)
    mor = CdcEngine(spark, str(tmp_path / "mor"), num_buckets=4,
                    write_mode="mor", auto_compact_every=None)
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    cow.apply_log(df, n_batches=5)
    mor.apply_log(df, n_batches=5)
    cols = ["repo", "path", "commit", "lang", "content", "content_sha256", "last_lsn"]
    a = sorted(tuple(r[c] for c in cols) for r in cow.final_state().collect())
    b = sorted(tuple(r[c] for c in cols) for r in mor.final_state().collect())
    assert a == b and len(a) > 0
    # the MOR table really deferred its merges
    assert len(delta_files(mor)) > 0
    assert len(delta_files(cow)) == 0


def test_mor_delete_then_stale_update_stays_deleted(spark, tmp_path):
    events = [
        ev(0, "insert", "r", "a", "c0", "py", "v0"),
        ev(1, "insert", "r", "b", "c1", "py", "w0"),
        ev(5, "delete", "r", "a"),
        # stale update (lsn 3 < delete lsn 5) arrives in a LATER batch:
        # the delta tombstone must out-rank it at read time
        ev(3, "update", "r", "a", "c3", "py", "v3"),
    ]
    eng = run(spark, tmp_path, events)
    st = state(eng)
    assert set(st) == {("r", "b")}
    # the tombstone row is retained (hidden) in the folded raw state
    raw = eng.table.read_raw().filter(F.col(TOMBSTONE_COL)).collect()
    assert [(r["repo"], r["path"], r["last_lsn"]) for r in raw] == [("r", "a", 5)]


def test_mor_scatter_delivery_matches_oracle(spark, tmp_path):
    log = generate_event_log(spark, 400, seed=7, n_repos=8, paths_per_repo=5,
                             delete_fraction=0.15)
    rows = [r.asDict() for r in log.collect()]
    eng = CdcEngine(spark, str(tmp_path / "sc"), num_buckets=4,
                    write_mode="mor", auto_compact_every=None)
    eng.apply_log(spark.createDataFrame(rows, EVENT_SCHEMA),
                  n_batches=4, scatter_delivery=True)
    expect = replay_oracle(rows)
    got = state(eng)
    assert set(got) == set(expect)
    for k, row in expect.items():
        assert got[k]["content"] == row["content"], k
        assert got[k]["last_lsn"] == row["last_lsn"], k
        if row["content"] is not None:
            assert got[k]["content_sha256"] == hashlib.sha256(
                row["content"].encode()).hexdigest()


def test_mor_schema_evolution_midstream(spark, tmp_path):
    events = [
        ev(0, "insert", "r", "a", "c0", "py", "v0"),
        ev(1, "insert", "r", "b", "c1", "py", "w0"),
        ev(2, "schema_change",
           schema_change={"kind": "add_column", "column": "stars",
                          "new_name": None, "new_type": "long"}),
        ev(3, "update", "r", "a", "c3", "py", "v3", extras={"stars": "42"}),
    ]
    eng = run(spark, tmp_path, events)
    st = state(eng)
    assert st[("r", "a")]["stars"] == 42
    assert st[("r", "a")]["content"] == "v3"
    assert st[("r", "b")]["stars"] is None


def test_mor_base_files_never_rewritten(spark, tmp_path):
    first = [ev(i, "insert", "r", f"p{i}", f"c{i}", "py", f"v{i}") for i in range(8)]
    eng = run(spark, tmp_path, first, events_per_batch=100)
    # batch 1 committed: fold pending deltas into base so the next merge
    # has base files to (not) rewrite
    compact_incremental(eng.table)
    base_before = sorted(
        f["path"] for f in eng.table.current().files if not f.get("delta")
    )
    assert base_before and not delta_files(eng)
    second = [ev(100 + i, "update", "r", f"p{i}", "cx", "py", f"u{i}") for i in range(8)]
    eng.apply_log(spark.createDataFrame(second, EVENT_SCHEMA), events_per_batch=100)
    snap = eng.table.current()
    base_after = sorted(f["path"] for f in snap.files if not f.get("delta"))
    # MOR: every pre-existing base file still referenced byte-identically
    assert base_after == base_before
    assert len(delta_files(eng)) > 0
    # and the folded read serves the updated values
    st = state(eng)
    assert st[("r", "p3")]["content"] == "u3"
    assert st[("r", "p3")]["last_lsn"] == 103


def test_mor_compaction_folds_deltas_away(spark, tmp_path):
    events = [
        ev(0, "insert", "r", "a", "c0", "py", "v0"),
        ev(1, "insert", "r", "b", "c1", "py", "w0"),
        ev(4, "update", "r", "a", "c4", "py", "v4"),
        ev(5, "delete", "r", "b"),
    ]
    eng = run(spark, tmp_path, events)
    assert delta_files(eng)
    before = sorted((k, v["content"]) for k, v in state(eng).items())
    snap = compact_incremental(eng.table)
    assert snap.operation == "compact"
    assert not delta_files(eng)
    # state unchanged by the fold-back; watermark-passed tombstone dropped
    assert sorted((k, v["content"]) for k, v in state(eng).items()) == before
    assert eng.table.read_raw().filter(F.col(TOMBSTONE_COL)).count() == 0


def test_cow_merge_after_mor_consumes_overlapping_deltas(spark, tmp_path):
    events = [ev(i, "insert", "r", f"p{i}", f"c{i}", "py", f"v{i}") for i in range(6)]
    eng = run(spark, tmp_path, events, events_per_batch=100)
    assert delta_files(eng)
    # switch the SAME table to COW for the next batch (mixed-mode pipeline)
    eng2 = CdcEngine(spark, str(tmp_path / "m"), num_buckets=4,
                     write_mode="cow", auto_compact_every=None)
    nxt = [ev(50 + i, "update", "r", f"p{i}", "cy", "py", f"z{i}") for i in range(6)]
    eng2.apply_log(spark.createDataFrame(nxt, EVENT_SCHEMA), events_per_batch=100)
    st = state(eng2)
    assert st[("r", "p2")]["content"] == "z2"
    # the COW rewrite consumed every delta whose buckets it touched — with
    # updates on every key, no delta may survive
    assert not delta_files(eng2)


def test_mor_changes_feed_emits_net_rows(spark, tmp_path):
    events = [
        ev(0, "insert", "r", "a", "c0", "py", "v0"),
        ev(1, "insert", "r", "b", "c1", "py", "w0"),
        ev(2, "insert", "r", "c", "c2", "py", "x0"),
    ]
    eng = run(spark, tmp_path, events, events_per_batch=100)
    v1 = eng.table.current().version
    nxt = [ev(10, "update", "r", "a", "c9", "py", "v9"), ev(11, "delete", "r", "c")]
    eng.apply_log(spark.createDataFrame(nxt, EVENT_SCHEMA), events_per_batch=100)
    feed = eng.table.changes(v1).select("repo", "path", "content", "_change_type").collect()
    got = sorted((r["repo"], r["path"], r["content"], r["_change_type"]) for r in feed)
    assert got == [("r", "a", "v9", "upsert"), ("r", "c", None, "delete")]


def test_mor_point_lookup_sees_pending_deltas(spark, tmp_path):
    events = [ev(i, "insert", "r", f"p{i}", f"c{i}", "py", f"v{i}") for i in range(6)]
    eng = run(spark, tmp_path, events, events_per_batch=100)
    nxt = [ev(20, "update", "r", "p1", "cz", "py", "fresh")]
    eng.apply_log(spark.createDataFrame(nxt, EVENT_SCHEMA), events_per_batch=100)
    rows = eng.table.lookup([("r", "p1")]).collect()
    assert len(rows) == 1 and rows[0]["content"] == "fresh"


def test_mor_duplicate_redelivery_idempotent(spark, tmp_path):
    events = [
        ev(0, "insert", "r", "a", "c0", "py", "v0"),
        ev(1, "update", "r", "a", "c1", "py", "v1"),
    ]
    eng = run(spark, tmp_path, events, events_per_batch=100)
    df = spark.createDataFrame(events, EVENT_SCHEMA)
    # full replay of the same log: exactly-once guard makes it a no-op
    version_before = eng.table.current().version
    eng.apply_log(df, events_per_batch=100)
    assert eng.table.current().version == version_before
    st = state(eng)
    assert st[("r", "a")]["content"] == "v1"


def test_mor_rejects_bad_mode(spark, tmp_path):
    with pytest.raises(ValueError):
        CdcEngine(spark, str(tmp_path / "x"), write_mode="nope")


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_read_without_deltas_never_folds(spark, tmp_path):
    # a pure-COW table's read must stay a plain scan — no aggregate, no
    # shuffle from the MOR fold sneaking onto the COW path
    events = [ev(i, "insert", "r", f"p{i}", "c", "py", f"v{i}") for i in range(4)]
    eng = run(spark, tmp_path, events, write_mode="cow", events_per_batch=100)
    plan = _plan(eng.table.read())
    assert "WindowGroupLimit" not in plan and "Aggregate" not in plan


def test_read_with_deltas_folds_only_touched_buckets(spark, tmp_path):
    # base table over many buckets; ONE key updated via MOR → the fold's
    # aggregate must scan only the delta-touched slice, and the clean base
    # files must flow through a plain (non-aggregated) union branch
    eng = CdcEngine(spark, str(tmp_path / "t"), num_buckets=64,
                    write_mode="mor", auto_compact_every=None)
    # four delta files over disjoint bucket ranges, folded into four
    # range-partitioned base files
    first = [ev(i, "insert", "r", f"p{i}", "c", "py", f"v{i}") for i in range(64)]
    apply_by_bucket_range(eng, first, 4)
    compact_incremental(eng.table)  # all base now
    one = [ev(200, "update", "r", "p7", "cx", "py", "fresh")]
    eng.apply_log(spark.createDataFrame(one, EVENT_SCHEMA), events_per_batch=100)
    snap = eng.table.current()
    deltas = [f for f in snap.files if f.get("delta")]
    assert deltas
    dbuckets = set()
    for f in deltas:
        dbuckets.update(range(f["bucket_min"], f["bucket_max"] + 1))
    hot = [
        f for f in snap.files if not f.get("delta")
        and any(f["bucket_min"] <= b <= f["bucket_max"] for b in dbuckets)
    ]
    # pruning is real: the folded slice excludes at least one clean base file
    assert len(hot) < len(snap.files) - len(deltas)
    plan = _plan(eng.table.read())
    # the fold runs (row_number group-limit window since r06 — same
    # survivor as the old max_by aggregation, with a partial map-side pass)
    assert "WindowGroupLimit" in plan
    st = state(eng)
    assert st[("r", "p7")]["content"] == "fresh"


def test_auto_mode_picks_cow_for_bulk_then_mor_for_small_updates(spark, tmp_path):
    # bulk initial load: batch >> base (empty table) → COW; later small
    # clustered update: batch << rewritten base rows → MOR delta commit.
    # Decision is manifest math only — asserted via the per-unit metric.
    eng = CdcEngine(spark, str(tmp_path / "auto"), num_buckets=4,
                    write_mode="auto", auto_compact_every=None)
    bulk = [ev(i, "insert", "r", f"p{i}", f"c{i}", "py", f"v{i}") for i in range(40)]
    m1 = eng.apply_log(spark.createDataFrame(bulk, EVENT_SCHEMA), events_per_batch=100)
    assert m1[0]["metrics"]["write_mode"] == "cow"
    assert not delta_files(eng)
    small = [ev(100, "update", "r", "p1", "cx", "py", "fresh")]
    m2 = eng.apply_log(spark.createDataFrame(small, EVENT_SCHEMA), events_per_batch=100)
    assert m2[0]["metrics"]["write_mode"] == "mor"
    assert delta_files(eng)
    st = state(eng)
    assert st[("r", "p1")]["content"] == "fresh" and len(st) == 40


def test_expire_snapshots_keeps_live_delta_files(spark, tmp_path):
    # GC with pending deltas: delta files referenced by retained snapshots
    # survive; reads after expiry still fold correctly
    from translator_ingests_spark.lake.maintenance import expire_snapshots

    events = [ev(i, "insert", "r", f"p{i}", "c", "py", f"v{i}") for i in range(6)]
    eng = run(spark, tmp_path, events, events_per_batch=2)  # 3 delta commits
    before = state(eng)
    res = expire_snapshots(eng.table, keep_last=1)
    assert res["snapshots_removed"] >= 1
    assert delta_files(eng)           # current snapshot still has its deltas
    assert state(eng) == before       # fold unaffected by the GC
