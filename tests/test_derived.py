"""Derived tables over the change feed (lake/derived.py) and the feed's
preimage/extras-materialization semantics (table.changes).

Covered axes: preimage rows carry old values (deletes included) and stay
absent for pure inserts; the feed materializes evolution-added columns so a
replica cannot diverge from read(); replication is exactly-once under
crash-shaped cursor resets (LWW idempotency); incremental aggregates equal
the full recompute after insert/update/delete batches and never double-apply
a delta when the cursor lags the state table."""

import os

import pytest
from lake_fixtures import merge_by_bucket_range
from pyspark.sql import functions as F

from translator_ingests_spark.cdc.apply import CdcEngine, EVENT_SCHEMA
from translator_ingests_spark.lake.derived import (
    IncrementalAggregate,
    create_replica,
    sync_replica,
)
from translator_ingests_spark.streaming.change_consumer import ChangesConsumer


def ev(lsn, op, repo=None, path=None, commit=None, lang=None, content=None,
       extras=None, schema_change=None):
    return {
        "lsn": lsn, "op": op, "repo": repo, "path": path, "commit": commit,
        "lang": lang, "content": content, "schema_change": schema_change,
        "source_partition": 0, "source_offset": lsn, "extras": extras,
    }


def rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


@pytest.fixture
def engine(spark, tmp_path):
    eng = CdcEngine(spark, str(tmp_path / "src"), num_buckets=4,
                    auto_compact_every=None)
    evs = [
        ev(i, "insert", f"r{i % 3}", f"p{i}", f"c{i}", "py", f"v{i}")
        for i in range(12)
    ]
    eng.apply_log(spark.createDataFrame(evs, EVENT_SCHEMA), n_batches=1)
    return eng


def test_changes_preimage_rows(spark, engine):
    eng = engine
    v1 = eng.table.current().version
    evs = [
        ev(100, "update", "r0", "p0", "cX", "py", "NEW"),
        ev(101, "delete", "r1", "p1"),
        ev(102, "insert", "r9", "p9", "c9", "go", "fresh"),
    ]
    eng.apply_log(spark.createDataFrame(evs, EVENT_SCHEMA), n_batches=1)
    ch = eng.table.changes(v1, include_preimage=True).collect()
    by_type = {}
    for r in ch:
        by_type.setdefault(r["_change_type"], []).append(r)
    # postimages: one upsert for the update, one for the insert, one delete
    ups = {(r["repo"], r["path"]): r for r in by_type["upsert"]}
    assert ups[("r0", "p0")]["content"] == "NEW"
    assert ups[("r9", "p9")]["content"] == "fresh"
    assert [(r["repo"], r["path"]) for r in by_type["delete"]] == [("r1", "p1")]
    # preimages: OLD values for the updated and the deleted key, none for
    # the pure insert
    pre = {(r["repo"], r["path"]): r for r in by_type["update_preimage"]}
    assert set(pre) == {("r0", "p0"), ("r1", "p1")}
    assert pre[("r0", "p0")]["content"] == "v0"
    assert pre[("r1", "p1")]["content"] == "v1"  # the deleted row's content


def test_changes_projection_scoped(spark, engine):
    """columns= prunes the feed to keys + the named columns BEFORE diffing:
    a key whose projected columns are unchanged does not emit at all, while
    deletes always emit (tombstone flip is inside the projection)."""
    eng = engine
    v1 = eng.table.current().version
    evs = [
        # content-only churn: lang stays "py" → invisible to a lang-scoped feed
        ev(100, "update", "r0", "p0", "cX", "py", "CHURN"),
        # lang actually changes → emits
        ev(101, "update", "r0", "p3", "cY", "go", "v3"),
        ev(102, "delete", "r1", "p1"),
    ]
    eng.apply_log(spark.createDataFrame(evs, EVENT_SCHEMA), n_batches=1)

    ch = eng.table.changes(v1, columns=["lang"], include_preimage=True)
    assert sorted(ch.columns) == ["_change_type", "lang", "path", "repo"]
    got = {(r["repo"], r["path"], r["_change_type"]): r["lang"]
           for r in ch.collect()}
    assert got == {
        ("r0", "p3", "upsert"): "go",
        ("r0", "p3", "update_preimage"): "py",
        ("r1", "p1", "delete"): None,
        ("r1", "p1", "update_preimage"): "py",
    }
    # postimage-only mode: same pruning, no preimages
    post = eng.table.changes(v1, columns=["lang"]).collect()
    assert {(r["repo"], r["path"]) for r in post} == {("r0", "p3"), ("r1", "p1")}

    with pytest.raises(ValueError, match="unknown feed columns"):
        eng.table.changes(v1, columns=["no_such_col"])


def test_replica_sync_updates_deletes_and_crash_heal(spark, engine, tmp_path):
    eng = engine
    dst = create_replica(spark, eng.table, str(tmp_path / "replica"))
    cons = ChangesConsumer(eng.table, str(tmp_path / "cur"), name="rep")
    assert sync_replica(eng.table, dst, cons) == 1
    assert rows(dst.read()) == rows(eng.table.read())

    evs = [ev(100, "update", "r0", "p0", "cX", "py", "NEW"),
           ev(101, "delete", "r1", "p1"),
           ev(102, "insert", "r9", "p9", "c9", "go", "fresh")]
    eng.apply_log(spark.createDataFrame(evs, EVENT_SCHEMA), n_batches=1)
    assert sync_replica(eng.table, dst, cons) == 1
    assert rows(dst.read()) == rows(eng.table.read())

    # crash shape: cursor reset behind the replica's last applied batch —
    # the replica's last_batch_id is the authoritative cursor, so the
    # consumer fast-forwards to it instead of re-polling a moved window
    # (which would cancel contained insert→delete lifecycles): 0 batches
    cons._advance(1)
    assert sync_replica(eng.table, dst, cons) == 0
    assert rows(dst.read()) == rows(eng.table.read())

    # replica-side late redelivery cannot resurrect the deleted key
    assert dst.read().filter(
        (F.col("repo") == "r1") & (F.col("path") == "p1")
    ).count() == 0


def test_replica_auto_adds_evolved_column(spark, engine, tmp_path):
    eng = engine
    dst = create_replica(spark, eng.table, str(tmp_path / "replica"))
    cons = ChangesConsumer(eng.table, str(tmp_path / "cur"), name="rep")
    sync_replica(eng.table, dst, cons)

    add = {"kind": "add_column", "column": "score", "new_name": None,
           "new_type": "long"}
    evs = [ev(200, "schema_change", schema_change=add),
           ev(201, "update", "r0", "p0", "cY", "py", "scored",
              extras={"score": "7"})]
    eng.apply_log(spark.createDataFrame(evs, EVENT_SCHEMA), n_batches=1)
    sync_replica(eng.table, dst, cons)
    assert "score" in dst.read().columns
    assert rows(dst.read()) == rows(eng.table.read())
    got = dst.read().filter(F.col("path") == "p0").collect()[0]
    assert got["score"] == 7


def test_replica_refuses_source_rename(spark, engine, tmp_path):
    eng = engine
    dst = create_replica(spark, eng.table, str(tmp_path / "replica"))
    cons = ChangesConsumer(eng.table, str(tmp_path / "cur"), name="rep")
    sync_replica(eng.table, dst, cons)
    eng.table.update_schema("rename_column", "lang", new_name="language")
    evs = [ev(300, "update", "r0", "p0", "cZ", "py", "renamed")]
    eng.apply_log(spark.createDataFrame(evs, EVENT_SCHEMA), n_batches=1)
    with pytest.raises(ValueError, match="rename/drop"):
        sync_replica(eng.table, dst, cons)
    # after the matching rename on the replica, sync proceeds
    dst.update_schema("rename_column", "lang", new_name="language")
    sync_replica(eng.table, dst, cons)
    assert rows(dst.read()) == rows(eng.table.read())


def test_incremental_aggregate_matches_recompute(spark, engine, tmp_path):
    eng = engine
    # auto_strategy off: tiny fixtures rewrite most of the table per batch,
    # which would reroute every refresh to the full regroup — this test
    # pins the DELTA math
    agg = IncrementalAggregate(
        spark, eng.table, str(tmp_path / "agg"),
        group_cols=["repo"], sums={"sum_lsn": "last_lsn"},
        auto_strategy=False,
    )
    assert agg.refresh() == 1  # bootstrap batch
    assert rows(agg.read()) == rows(agg.recomputed())

    evs = [ev(100, "update", "r0", "p0", "cX", "py", "NEW"),
           ev(101, "delete", "r1", "p1"),
           ev(102, "insert", "r9", "p9", "c9", "go", "fresh"),
           ev(103, "delete", "r1", "p4"),
           ev(104, "delete", "r1", "p7"),
           ev(105, "delete", "r1", "p10")]
    eng.apply_log(spark.createDataFrame(evs, EVENT_SCHEMA), n_batches=1)
    assert agg.refresh() == 1
    assert rows(agg.read()) == rows(agg.recomputed())
    # every r1 row deleted → the group row itself is gone, not zero
    assert agg.read().filter(F.col("repo") == "r1").count() == 0

    # group resurrection after full deletion
    evs = [ev(200, "insert", "r1", "pX", "cR", "py", "back")]
    eng.apply_log(spark.createDataFrame(evs, EVENT_SCHEMA), n_batches=1)
    agg.refresh()
    assert rows(agg.read()) == rows(agg.recomputed())


def test_incremental_aggregate_crash_heal_no_double_count(spark, engine, tmp_path):
    eng = engine
    agg = IncrementalAggregate(
        spark, eng.table, str(tmp_path / "agg"), group_cols=["repo"],
        auto_strategy=False,
    )
    agg.refresh()
    evs = [ev(100, "update", "r0", "p0", "cX", "py", "NEW"),
           ev(101, "insert", "r9", "p9", "c9", "go", "fresh")]
    eng.apply_log(spark.createDataFrame(evs, EVENT_SCHEMA), n_batches=1)
    agg.refresh()
    before = rows(agg.read())
    # crash shape: state merged but cursor never advanced — rewind it; the
    # refresh must fast-forward to the state's last_batch_id, not re-apply
    agg.consumer._advance(1)
    agg.refresh()
    assert rows(agg.read()) == before
    assert rows(agg.read()) == rows(agg.recomputed())


def test_incremental_aggregate_max_min_recompute(spark, engine, tmp_path):
    """Max/min switch the strategy to affected-group recompute — the case a
    pure delta cannot maintain: deleting a group's current max row must
    surface the runner-up."""
    eng = engine
    agg = IncrementalAggregate(
        spark, eng.table, str(tmp_path / "agg"), group_cols=["repo"],
        sums={"sum_lsn": "last_lsn"}, maxes={"max_path": "path"},
        mins={"min_lsn": "last_lsn"}, auto_strategy=False,
    )
    agg.refresh()
    assert rows(agg.read()) == rows(agg.recomputed())

    # r0's rows are p0,p3,p6,p9 — max_path = "p9"; delete it
    evs = [ev(100, "delete", "r0", "p9")]
    eng.apply_log(spark.createDataFrame(evs, EVENT_SCHEMA), n_batches=1)
    agg.refresh()
    assert rows(agg.read()) == rows(agg.recomputed())
    got = agg.read().filter(F.col("repo") == "r0").collect()[0]
    assert got["max_path"] == "p6"  # the runner-up surfaced
    assert got["min_lsn"] == 0.0 or got["min_lsn"] == 0

    # wipe the whole group: its state row must die, not zero out
    evs = [ev(200 + i, "delete", "r0", f"p{i}") for i in (0, 3, 6)]
    eng.apply_log(spark.createDataFrame(evs, EVENT_SCHEMA), n_batches=1)
    agg.refresh()
    assert agg.read().filter(F.col("repo") == "r0").count() == 0
    assert rows(agg.read()) == rows(agg.recomputed())


def test_drop_readd_mid_window_resets_replica_and_aggregate(spark, engine, tmp_path):
    """A drop + re-add of the same column inside one sync window is
    metadata-only on the source (no feed rows) yet nulls the column's
    visible values table-wide. The replica must mirror the reset (field-id
    comparison, not names) and an aggregate OVER that column must force a
    full regroup — even in a window with no data events at all."""
    eng = engine
    add = {"kind": "add_column", "column": "score", "new_name": None,
           "new_type": "long"}
    evs = [ev(50, "schema_change", schema_change=add),
           ev(51, "update", "r0", "p0", "cA", "py", "scored",
              extras={"score": "7"})]
    eng.apply_log(spark.createDataFrame(evs, EVENT_SCHEMA), n_batches=1)

    dst = create_replica(spark, eng.table, str(tmp_path / "replica"))
    cons = ChangesConsumer(eng.table, str(tmp_path / "cur"), name="rep")
    sync_replica(eng.table, dst, cons)
    agg = IncrementalAggregate(
        spark, eng.table, str(tmp_path / "agg"),
        group_cols=["repo"], sums={"sum_score": "score"},
        auto_strategy=False,  # the reset must force regroup even with auto off
    )
    agg.refresh()
    assert rows(dst.read()) == rows(eng.table.read())

    # metadata-only window: drop + re-add, zero data events
    drop = {"kind": "drop_column", "column": "score", "new_name": None,
            "new_type": None}
    evs = [ev(60, "schema_change", schema_change=drop),
           ev(61, "schema_change", schema_change=add)]
    eng.apply_log(spark.createDataFrame(evs, EVENT_SCHEMA), n_batches=1)
    assert eng.table.read().filter(F.col("score").isNotNull()).count() == 0

    sync_replica(eng.table, dst, cons)
    assert rows(dst.read()) == rows(eng.table.read())
    assert dst.read().filter(F.col("score").isNotNull()).count() == 0
    agg.refresh()
    assert rows(agg.read()) == rows(agg.recomputed())


def test_widen_mid_window_mirrors_to_replica(spark, engine, tmp_path):
    """A source type widen mid-window must widen the replica column too —
    the feed's rows arrive in the wide type and the narrow replica column
    would otherwise reject or truncate them."""
    eng = engine
    add = {"kind": "add_column", "column": "score", "new_name": None,
           "new_type": "int"}
    evs = [ev(50, "schema_change", schema_change=add),
           ev(51, "update", "r0", "p0", "cA", "py", "scored",
              extras={"score": "7"})]
    eng.apply_log(spark.createDataFrame(evs, EVENT_SCHEMA), n_batches=1)
    dst = create_replica(spark, eng.table, str(tmp_path / "replica"))
    cons = ChangesConsumer(eng.table, str(tmp_path / "cur"), name="rep")
    sync_replica(eng.table, dst, cons)

    widen = {"kind": "widen_type", "column": "score", "new_name": None,
             "new_type": "long"}
    evs = [ev(60, "schema_change", schema_change=widen),
           ev(61, "update", "r0", "p3", "cB", "py", "wide",
              extras={"score": str(2**40)})]
    eng.apply_log(spark.createDataFrame(evs, EVENT_SCHEMA), n_batches=1)
    sync_replica(eng.table, dst, cons)
    assert dict(dst.current().schema.fields and {
        f.name: f.type for f in dst.current().schema.fields
    })["score"] == "long"
    assert rows(dst.read()) == rows(eng.table.read())


def test_vanished_delete_synthesized(spark, tmp_path):
    """A key deleted AND tombstone-compacted inside one feed window leaves
    no row (possibly no FILE) at v_to — the feed must synthesize the delete
    (lsn = low_watermark) or a replica resurrects the key forever. Found by
    the adversarial derived-tables property; pinned here deterministically."""
    eng = CdcEngine(spark, str(tmp_path / "cdc"), num_buckets=4,
                    auto_compact_every=1)
    evs = [ev(0, "insert", "r1", "b", "c0", "py", "v0"),
           ev(1, "insert", "r0", "b", "c1", "py", "v1")]
    eng.apply_log(spark.createDataFrame(evs, EVENT_SCHEMA), n_batches=1)
    v1 = eng.table.current().version
    dst = create_replica(spark, eng.table, str(tmp_path / "replica"))
    cons = ChangesConsumer(eng.table, str(tmp_path / "cur"), name="rep")
    sync_replica(eng.table, dst, cons)

    # the delete's tombstone is compaction-dropped in the same window (the
    # per-unit cadence), leaving bucket(r1,b) with no covering file at all
    evs = [ev(2, "delete", "r1", "b"),
           ev(3, "update", "r0", "a", "c3", "py", "v3")]
    eng.apply_log(spark.createDataFrame(evs, EVENT_SCHEMA), n_batches=1)
    s2 = eng.table.current()
    assert s2.tombstones_dropped_below >= 2  # the scenario actually dropped it

    ch = {(r["repo"], r["path"]): r
          for r in eng.table.changes(v1).collect()}
    assert ch[("r1", "b")]["_change_type"] == "delete"
    assert ch[("r1", "b")]["last_lsn"] == s2.low_watermark

    sync_replica(eng.table, dst, cons)
    assert rows(dst.read()) == rows(eng.table.read())
    assert dst.read().filter(
        (F.col("repo") == "r1") & (F.col("path") == "b")
    ).count() == 0


def test_aggregate_auto_picks_full_regroup(spark, engine, tmp_path):
    """Under COW a scattered batch rewrites most of a small table; the auto
    strategy must detect that from manifest metadata and take the full
    regroup instead of diffing rows it would mostly cancel — and the result
    must stay exact, including dropped groups."""
    eng = engine
    agg = IncrementalAggregate(
        spark, eng.table, str(tmp_path / "agg"),
        group_cols=["repo"], sums={"sum_lsn": "last_lsn"},
    )
    full_calls = []
    orig = agg._recompute_full
    agg._recompute_full = lambda v: (full_calls.append(v), orig(v))[1]
    agg.refresh()
    assert full_calls  # bootstrap window = the whole table
    assert rows(agg.read()) == rows(agg.recomputed())

    # every r1 row deleted: the full path must also drop the group row
    evs = [ev(100, "update", "r0", "p0", "cX", "py", "NEW"),
           ev(101, "delete", "r1", "p1"), ev(102, "delete", "r1", "p4"),
           ev(103, "delete", "r1", "p7"), ev(104, "delete", "r1", "p10")]
    eng.apply_log(spark.createDataFrame(evs, EVENT_SCHEMA), n_batches=1)
    agg.refresh()
    assert len(full_calls) == 2  # tiny table → rewrite fraction over the bar
    assert agg.read().filter(F.col("repo") == "r1").count() == 0
    assert rows(agg.read()) == rows(agg.recomputed())

    # crash shape: cursor rewound — the full path's batch_id gate makes the
    # redelivered window a no-op, same as the delta path
    agg.consumer._advance(1)
    before = rows(agg.read())
    agg.refresh()
    assert rows(agg.read()) == before


def test_mor_window_key_scoped_feed_and_incremental(spark, tmp_path):
    """A pure-MOR change window engages the key-scoped feed (broadcast
    semi join on the delta keys — diff shuffle O(churn), not O(bucket
    closure)) and the auto strategy keeps the incremental path."""
    eng = CdcEngine(spark, str(tmp_path / "src"), num_buckets=4,
                    auto_compact_every=None, write_mode="mor")
    evs = [ev(i, "insert", f"r{i % 3}", f"p{i}", f"c{i}", "py", f"v{i}")
           for i in range(12)]
    eng.apply_log(spark.createDataFrame(evs, EVENT_SCHEMA), n_batches=1)
    agg = IncrementalAggregate(
        spark, eng.table, str(tmp_path / "agg"),
        group_cols=["repo"], sums={"sum_lsn": "last_lsn"},
    )
    agg.refresh()

    v1 = eng.table.current().version
    evs = [ev(100, "update", "r0", "p0", "cX", "py", "NEW"),
           ev(101, "delete", "r1", "p1"),
           ev(102, "insert", "r9", "p9", "c9", "go", "fresh")]
    eng.apply_log(spark.createDataFrame(evs, EVENT_SCHEMA), n_batches=1)

    # the key-scoped restriction is in the plan AND the emitted rows are
    # exactly the net changes (stale-loser cancellation unaffected)
    ch = eng.table.changes(v1, include_preimage=True)
    plan = ch._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    got = {(r["repo"], r["path"], r["_change_type"]) for r in ch.collect()}
    assert got == {
        ("r0", "p0", "upsert"), ("r0", "p0", "update_preimage"),
        ("r1", "p1", "delete"), ("r1", "p1", "update_preimage"),
        ("r9", "p9", "upsert"),
    }

    full_calls = []
    orig = agg._recompute_full
    agg._recompute_full = lambda v: (full_calls.append(v), orig(v))[1]
    agg.refresh()
    assert not full_calls  # pure-MOR window stays incremental
    assert rows(agg.read()) == rows(agg.recomputed())


def _repo_bucket_layout(spark, table, num_buckets, repos, buckets_per_repo=2,
                        paths_per_bucket=3):
    """Probe (repo, path) candidates so repo r_k's rows land ONLY in buckets
    {k*bpr .. k*bpr+bpr-1} — giving per-file repo min/max stats that actually
    discriminate (bucket hashing otherwise spreads every repo everywhere)."""
    out = {}
    for k, repo in enumerate(repos):
        wanted = set(range(k * buckets_per_repo, (k + 1) * buckets_per_repo))
        cands = [(repo, f"p{i}.py") for i in range(800)]
        got = (
            spark.createDataFrame(cands, schema=["repo", "path"])
            .select("repo", "path",
                    table._bucket_expr(num_buckets, ["repo", "path"]).alias("__b"))
            .collect()
        )
        per_bucket: dict[int, list[str]] = {}
        for r in got:
            if r["__b"] in wanted:
                per_bucket.setdefault(r["__b"], []).append(r["path"])
        assert all(len(per_bucket.get(b, [])) >= paths_per_bucket for b in wanted), \
            "probe exhausted; widen candidates"
        out[repo] = [
            (b, p) for b in sorted(wanted) for p in per_bucket[b][:paths_per_bucket]
        ]
    return out


def test_multi_column_group_max_refresh_prunes_source_files(spark, tmp_path):
    """Round-4 VERDICT weak #2: a 2-column group key must still engage
    manifest file pruning — on the LEADING group column — instead of opening
    every source file per max/min refresh."""
    from translator_ingests_spark.lake import LakeSchema, LakeTable
    from translator_ingests_spark.lake import scan as scan_mod

    schema = LakeSchema.from_names(
        [("repo", "string"), ("path", "string"), ("lang", "string"),
         ("size", "long"), ("last_lsn", "long")]
    )
    src = LakeTable.create(spark, str(tmp_path / "src"), schema,
                           key_cols=["repo", "path"], lsn_col="last_lsn",
                           num_buckets=8)
    repos = ["r0", "r1", "r2", "r3"]
    layout = _repo_bucket_layout(spark, src, 8, repos)
    lsn = 0
    batch = []
    for repo in repos:
        for b, p in layout[repo]:
            lsn += 1
            batch.append((repo, p, "py" if b % 2 else "go", 10 * lsn, "insert", lsn))
    nxt = merge_by_bucket_range(src, spark.createDataFrame(
        batch, "repo string, path string, lang string, size long, op string, lsn long"
    ), 4)
    # one file per repo's bucket pair (one commit per pair) — each file
    # single-repo by construction
    files = src.current().files
    assert len(files) >= 4
    agg = IncrementalAggregate(
        spark, src, str(tmp_path / "agg"), group_cols=["repo", "lang"],
        maxes={"max_size": "size"}, auto_strategy=False,
    )
    agg.refresh()
    assert rows(agg.read()) == rows(agg.recomputed())

    # touch ONE repo; the refresh must prune source files on repo
    tb, tp = layout["r1"][0]
    src.merge(
        spark.createDataFrame(
            [("r1", tp, "go" if tb % 2 else "py", 99999, "update", 10_000)],
            "repo string, path string, lang string, size long, op string, lsn long",
        ),
        nxt,
    )
    calls = []
    real_read_where = scan_mod.read_where

    def spy(table, preds, at=None):
        calls.append((preds, at))
        return real_read_where(table, preds, at=at)

    scan_mod.read_where = spy
    try:
        agg.refresh()
    finally:
        scan_mod.read_where = real_read_where
    assert rows(agg.read()) == rows(agg.recomputed())
    assert calls, "multi-column group refresh never engaged file pruning"
    preds, at = calls[-1]
    assert preds == [("repo", "in", ["r1"])]
    v_to = src.current().version
    assert at == v_to  # as-of read, not current()
    # the prune keeps only r1's files — a small fraction of the table
    snap = src.snapshot_at(v_to)
    kept = scan_mod.prune_files(src, snap, preds)
    assert len(kept) <= len(snap.files) // 2, (
        f"pruning ineffective: {len(kept)}/{len(snap.files)} files kept"
    )


def test_affected_recompute_reads_as_of_v_to_not_current(spark, engine, tmp_path):
    """Round-4 ADVICE low: a commit racing in AFTER the poll must stay out
    of the affected-group recompute — the window's merge is stamped
    batch_id=v_to, so folding later-version data under it would stamp that
    data with an earlier version (transient divergence)."""
    eng = engine
    agg = IncrementalAggregate(
        spark, eng.table, str(tmp_path / "agg2"), group_cols=["repo"],
        maxes={"max_lsn": "last_lsn"}, auto_strategy=False,
    )
    agg.refresh()

    # window batch: bump r0's max to 100
    eng.apply_log(spark.createDataFrame(
        [ev(100, "update", "r0", "p0", "cX", "py", "W1")], EVENT_SCHEMA),
        n_batches=1)
    polled = agg.consumer.poll()
    assert polled is not None
    df, v_from, v_to = polled
    # racing commit AFTER the poll: bumps r0's max to 500 at v_to+1
    eng.apply_log(spark.createDataFrame(
        [ev(500, "update", "r0", "p3", "cY", "py", "W2")], EVENT_SCHEMA),
        n_batches=1)
    agg._apply_batch(df, v_from, v_to)
    got = {r["repo"]: r["max_lsn"] for r in agg.read().collect()}
    assert got["r0"] == 100  # NOT 500 — the racing commit stayed out
    # ... and the next refresh folds the racing commit in
    agg.consumer.commit(v_to)
    agg.refresh()
    got = {r["repo"]: r["max_lsn"] for r in agg.read().collect()}
    assert got["r0"] == 500
    assert rows(agg.read()) == rows(agg.recomputed())


class _CrashBeforeCursorAdvance(ChangesConsumer):
    """Fault injection: the first cursor commit raises AFTER the sink's
    merge has landed — the classic crash window between a replica merge and
    its cursor advance."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.crashed = False

    def commit(self, version):
        if not self.crashed:
            self.crashed = True
            raise RuntimeError("injected crash before cursor advance")
        super().commit(version)


def test_replica_crash_redelivery_contained_lifecycle(spark, engine, tmp_path):
    """A crash between the replica merge and the cursor advance redelivers
    a MOVED window (poll re-targets the new head). The strict net diff
    cancels an insert→delete lifecycle contained in that wider window, so
    upsert-redelivery LWW alone would strand the inserted key in the
    replica forever. sync_replica must treat the replica's last_batch_id as
    the authoritative cursor (fast-forward), exactly like
    IncrementalAggregate.refresh does."""
    eng = engine
    dst = create_replica(spark, eng.table, str(tmp_path / "replica"))
    cons = _CrashBeforeCursorAdvance(eng.table, str(tmp_path / "cur"), name="rep")
    cons.crashed = True  # clean bootstrap first
    assert sync_replica(eng.table, dst, cons) == 1
    assert rows(dst.read()) == rows(eng.table.read())

    # window 1: insert a fresh key; the sink merge lands, the cursor does not
    eng.apply_log(spark.createDataFrame(
        [ev(100, "insert", "r9", "p9", "c9", "go", "fresh")], EVENT_SCHEMA),
        n_batches=1)
    cons.crashed = False
    with pytest.raises(RuntimeError, match="injected crash"):
        sync_replica(eng.table, dst, cons)
    assert dst.read().filter(F.col("repo") == "r9").count() == 1  # merged

    # window 2: the same key is deleted before the consumer recovers — the
    # net diff (old cursor → new head) contains NOTHING for it
    eng.apply_log(spark.createDataFrame(
        [ev(101, "delete", "r9", "p9")], EVENT_SCHEMA), n_batches=1)

    sync_replica(eng.table, dst, cons)
    assert rows(dst.read()) == rows(eng.table.read())
    assert dst.read().filter(F.col("repo") == "r9").count() == 0


def test_replica_dirty_rebootstrap_after_expiry_emits_stale_deletes(
        spark, engine, tmp_path):
    """A crashed bootstrap-after-v0-expiry leaves a full-state replica with
    NO cursor. The retried bootstrap lands at a LATER source version: keys
    deleted in between are absent from the new full state, so an
    upsert-only bootstrap would strand them. The fallback must emit
    tombstones for replica keys missing from the bootstrap state (at
    stored-lsn + 1 — provably below the true delete's LSN, so no genuine
    later event can ever be shadowed)."""
    from translator_ingests_spark.lake.maintenance import expire_snapshots

    eng = engine
    expire_snapshots(eng.table, keep_last=1)  # v0 gone → fallback path
    dst = create_replica(spark, eng.table, str(tmp_path / "replica"))
    cons = _CrashBeforeCursorAdvance(eng.table, str(tmp_path / "cur"), name="rep")
    with pytest.raises(RuntimeError, match="injected crash"):
        sync_replica(eng.table, dst, cons)
    assert cons.position() is None
    assert dst.read().count() == eng.table.read().count()  # dirty full state

    # the source deletes a key while the consumer is down
    eng.apply_log(spark.createDataFrame(
        [ev(200, "delete", "r0", "p0")], EVENT_SCHEMA), n_batches=1)

    sync_replica(eng.table, dst, cons)
    assert rows(dst.read()) == rows(eng.table.read())
    assert dst.read().filter(
        (F.col("repo") == "r0") & (F.col("path") == "p0")).count() == 0

    # ...and a genuine later re-insert still beats the synthesized tombstone
    eng.apply_log(spark.createDataFrame(
        [ev(300, "insert", "r0", "p0", "cZ", "py", "back")], EVENT_SCHEMA),
        n_batches=1)
    sync_replica(eng.table, dst, cons)
    assert rows(dst.read()) == rows(eng.table.read())


def test_replica_self_heals_after_cursor_expiry(spark, engine, tmp_path):
    """A consumer whose cursor snapshot was expired (max_cursor_lag
    eviction, or expiry with respect_cursors off) must not leave the
    replica permanently stuck on CursorExpiredError: sync_replica
    re-bootstraps from the current full state — including tombstones for
    replica keys the source deleted inside the lost window — and resumes
    incrementally. The Kafka offset-out-of-range auto-reset analog, made
    lossless here because a replica only needs the net final state."""
    from translator_ingests_spark.lake.maintenance import expire_snapshots

    eng = engine
    dst = create_replica(spark, eng.table, str(tmp_path / "replica"))
    cons = ChangesConsumer(eng.table, str(tmp_path / "cur"), name="rep")
    sync_replica(eng.table, dst, cons)
    assert rows(dst.read()) == rows(eng.table.read())

    # the source moves on: one delete + one insert, then the consumer's
    # pinned snapshot is expired out from under it
    eng.apply_log(spark.createDataFrame(
        [ev(100, "delete", "r0", "p0"),
         ev(101, "insert", "r9", "p9", "c9", "go", "fresh")], EVENT_SCHEMA),
        n_batches=1)
    expire_snapshots(eng.table, keep_last=1, respect_cursors=False)

    assert sync_replica(eng.table, dst, cons) >= 1
    assert rows(dst.read()) == rows(eng.table.read())
    assert dst.read().filter(
        (F.col("repo") == "r0") & (F.col("path") == "p0")).count() == 0
    # ...and consumption continues incrementally afterwards
    eng.apply_log(spark.createDataFrame(
        [ev(200, "update", "r9", "p9", "cA", "go", "fresher")], EVENT_SCHEMA),
        n_batches=1)
    assert sync_replica(eng.table, dst, cons) == 1
    assert rows(dst.read()) == rows(eng.table.read())


def test_aggregate_self_heals_after_cursor_expiry(spark, engine, tmp_path):
    """Same auto-reset for IncrementalAggregate.refresh: on
    CursorExpiredError the state is rebuilt by a full regroup (exact, and
    it deletes vanished groups), the cursor re-commits at the recomputed
    version, and incremental maintenance resumes."""
    from translator_ingests_spark.lake.maintenance import expire_snapshots

    eng = engine
    agg = IncrementalAggregate(
        spark, eng.table, str(tmp_path / "agg"), group_cols=["repo"],
        sums={}, auto_strategy=False,
    )
    agg.refresh()
    assert rows(agg.read()) == rows(agg.recomputed())

    eng.apply_log(spark.createDataFrame(
        [ev(100, "delete", "r2", "p2"),
         ev(101, "delete", "r2", "p5"),
         ev(102, "delete", "r2", "p8"),
         ev(103, "delete", "r2", "p11"),
         ev(104, "insert", "rX", "pX", "cX", "py", "vX")], EVENT_SCHEMA),
        n_batches=1)
    expire_snapshots(eng.table, keep_last=1, respect_cursors=False)

    assert agg.refresh() >= 1
    assert rows(agg.read()) == rows(agg.recomputed())
    # the r2 group vanished entirely — the heal must have deleted its row
    assert agg.read().filter(F.col("repo") == "r2").count() == 0
    # ...and incremental maintenance resumes
    eng.apply_log(spark.createDataFrame(
        [ev(300, "insert", "r2", "pN", "cN", "py", "vN")], EVENT_SCHEMA),
        n_batches=1)
    assert agg.refresh() == 1
    assert rows(agg.read()) == rows(agg.recomputed())
