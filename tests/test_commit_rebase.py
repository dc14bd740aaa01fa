"""Optimistic-concurrency commit rebase (Iceberg commit-retry analog).

A fence loser whose file-level change is DISJOINT from the winner's splices
its change onto the winner's manifest and retries, instead of failing —
this is what lets a minutes-long OPTIMIZE land against a seconds-cadence
apply loop. An OVERLAPPING race (both rewrote the same file) must raise
``ConcurrentModificationError``, never splice: the loser's output would
resurrect rows the winner already folded.

Races are injected deterministically: the victim's ``_commit_snapshot`` is
wrapped to run the concurrent commit (through an independent table/engine
handle on the same root) immediately before the victim's first fence
attempt — the real conflict path, no sleeps, no threads.
"""

import os

import pytest
from lake_fixtures import apply_by_bucket_range
from pyspark.sql import functions as F

from translator_ingests_spark.cdc import CdcEngine, EVENT_SCHEMA
from translator_ingests_spark.lake import maintenance
from translator_ingests_spark.lake.table import (
    ConcurrentModificationError,
    LakeTable,
)


def ev(lsn, op, repo, path, content):
    return {
        "lsn": lsn, "op": op, "repo": repo, "path": path, "commit": f"c{lsn}",
        "lang": "py", "content": content, "schema_change": None,
        "source_partition": 0, "source_offset": lsn, "extras": None,
    }


def seed(spark, tmp_path, n=24, n_ranges=1):
    """``n`` inserted keys in ``n_ranges`` files over disjoint bucket
    ranges."""
    eng = CdcEngine(spark, str(tmp_path / "t"), num_buckets=8,
                    auto_compact_every=None)
    events = [ev(i, "insert", f"r{i % 6}", f"p{i}", f"v{i}") for i in range(n)]
    apply_by_bucket_range(eng, events, n_ranges)
    return eng


def second_batch(spark, eng, lsns):
    """Apply one more unit through an INDEPENDENT engine handle."""
    eng2 = CdcEngine(eng.spark, eng.root, num_buckets=8,
                     auto_compact_every=None)
    events = [ev(i, "update", f"r{i % 6}", f"p{i}", f"w{i}") for i in lsns]
    eng2.apply_log(spark.createDataFrame(events, EVENT_SCHEMA), n_batches=1)
    return eng2


def merge_source(spark, events):
    """A pre-reduced batch shaped for a DIRECT ``LakeTable.merge`` call
    (the engine's ``_derive_columns`` normally adds the digest column)."""
    return spark.createDataFrame(events, EVENT_SCHEMA).select(
        "repo", "path", "commit", "lang", "content",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        "op", "lsn", "extras",
    )


def inject_before_commit(monkeypatch, table, action):
    """Run ``action`` once, right before the table's next fence attempt."""
    orig = table._commit_snapshot
    fired = {}

    def racy(snap, staged=None):
        if not fired:
            fired["x"] = True
            action()
        return orig(snap, staged)

    monkeypatch.setattr(table, "_commit_snapshot", racy)


def rows(t):
    return {
        (r["repo"], r["path"]): r["content"] for r in t.read().collect()
    }


# -- layout op loses the fence to a disjoint merge --------------------------


def test_layout_commit_rebases_over_disjoint_merge(spark, tmp_path):
    eng = seed(spark, tmp_path, n_ranges=4)
    t = eng.table
    base = t.head()  # compaction's (stale) base

    # a new batch lands AFTER the compaction captured its base
    second_batch(spark, eng, lsns=[100, 101])
    head = t.head()
    assert head.version == base.version + 1

    # compact ONLY base files the merge did NOT replace (disjoint by
    # construction), committing against the STALE base -> fence conflict
    head_paths = {f["path"] for f in head.files}
    survivors = [f for f in base.files if f["path"] in head_paths]
    assert survivors, "need at least one file untouched by the merge"
    expected = rows(t)
    snap = maintenance._rewrite_files(
        t, base, rewrite=survivors, keep=[],
        target_files=2, drop_tombstones=False, force=False,
    )

    # rebased: committed as a child of the merge's head, both changes in
    assert snap.version == head.version + 1 and snap.parent == head.version
    assert t.head().version == snap.version
    new_paths = {f["path"] for f in snap.files}
    merge_added = head_paths - {f["path"] for f in base.files}
    assert merge_added <= new_paths            # winner's files kept
    assert not ({f["path"] for f in survivors} & new_paths)  # rewritten out
    # metadata the layout op does not own follows the winner's head
    assert snap.last_batch_id == head.last_batch_id
    assert rows(t) == expected                 # content unchanged by layout


def test_layout_commit_overlapping_merge_raises(spark, tmp_path):
    eng = seed(spark, tmp_path)
    t = eng.table
    base = t.head()

    second_batch(spark, eng, lsns=[100, 101])
    head = t.head()
    expected = rows(t)

    # rewrite set includes EVERY base file — some were replaced by the
    # merge, so a splice would resurrect pre-merge rows: must refuse
    with pytest.raises(ConcurrentModificationError):
        maintenance._rewrite_files(
            t, base, rewrite=list(base.files), keep=[],
            target_files=2, drop_tombstones=False, force=False,
        )
    # loser left no trace on the committed chain
    assert t.head().version == head.version
    assert rows(t) == expected
    # recomputing against the fresh head succeeds
    snap = maintenance.compact(t, target_files=2)
    assert snap.version == head.version + 1 and rows(t) == expected


# -- schema change loses the fence to a merge --------------------------------


def test_update_schema_rebases_over_concurrent_merge(spark, tmp_path, monkeypatch):
    eng = seed(spark, tmp_path)
    t = eng.table

    inject_before_commit(
        monkeypatch, t,
        action=lambda: second_batch(spark, eng, lsns=[100, 101]),
    )
    snap = t.update_schema("add_column", "stars", new_type="long", at_lsn=200)

    head = t.head()
    assert head.version == snap.version and snap.operation == "schema"
    assert "stars" in snap.schema.names()
    # the merge's data and exactly-once metadata survived under the rebase
    assert snap.last_batch_id >= 1
    got = rows(t)
    assert got[("r4", "p100")] == "w100" and got[("r5", "p101")] == "w101"
    df = t.read()
    assert df.filter(F.col("stars").isNotNull()).count() == 0


def test_concurrent_schema_changes_conflict(spark, tmp_path, monkeypatch):
    eng = seed(spark, tmp_path)
    t = eng.table
    t2 = LakeTable(spark, t.root)

    inject_before_commit(
        monkeypatch, t,
        action=lambda: t2.update_schema("add_column", "forks", new_type="long"),
    )
    with pytest.raises(ConcurrentModificationError):
        t.update_schema("add_column", "stars", new_type="long")
    # the winner's change is in; the loser can re-derive and re-apply
    assert "forks" in t.head().schema.names()
    snap = t.update_schema("add_column", "stars", new_type="long")
    assert {"forks", "stars"} <= set(snap.schema.names())


# -- merge loses the fence ----------------------------------------------------


def test_merge_rebases_over_disjoint_layout_commit(spark, tmp_path, monkeypatch):
    eng = seed(spark, tmp_path, n_ranges=4)
    t = eng.table
    base = t.head()

    # pick one base file; the injected layout commit rewrites ONLY it. The
    # next batch's keys are chosen so the merge replaces OTHER files: keys
    # p100/p101 hash to some buckets — exclude any base file overlapping
    # them from the injected rewrite by letting the merge go first on a
    # scratch copy? Simpler: inject a rewrite of the file with the FEWEST
    # bucket overlap and assert rebase only when disjointness held.
    def inject():
        t2 = LakeTable(spark, t.root)
        live = t2.head()
        # rewrite the single file whose bucket range misses the batch's
        # buckets (batch keys p100,p101 under 8 buckets)
        bts = {
            r["__b"] for r in spark.createDataFrame(
                [("r4", "p100"), ("r5", "p101")], ["repo", "path"]
            ).select(
                t2._bucket_expr(live.num_buckets, ["repo", "path"]).alias("__b")
            ).collect()
        }
        disjoint = [
            f for f in live.files
            if not any(b in bts for b in range(f["bucket_min"], f["bucket_max"] + 1))
        ]
        assert disjoint, "fixture needs a file outside the batch's buckets"
        maintenance._rewrite_files(
            t2, live, rewrite=disjoint[:1],
            keep=[f for f in live.files if f["path"] != disjoint[0]["path"]],
            target_files=1, drop_tombstones=False, force=False,
        )

    inject_before_commit(monkeypatch, t, action=inject)
    second = [ev(i, "update", f"r{i % 6}", f"p{i}", f"w{i}") for i in (100, 101)]
    snap = t.merge(merge_source(spark, second), batch_id=base.last_batch_id + 1)
    # merge rebased onto the layout commit: one linear chain, both present
    assert snap.version == base.version + 2
    got = rows(t)
    assert got[("r4", "p100")] == "w100" and got[("r5", "p101")] == "w101"
    assert len(got) == 26
    assert t.head().last_batch_id == base.last_batch_id + 1


def test_merge_conflicts_with_concurrent_merge(spark, tmp_path, monkeypatch):
    eng = seed(spark, tmp_path)
    t = eng.table
    base = t.head()

    inject_before_commit(
        monkeypatch, t,
        action=lambda: second_batch(spark, eng, lsns=[100, 101]),
    )
    third = [ev(200, "update", "r0", "p0", "z200")]
    # direct table.merge (bypassing the engine's retry): two merges racing
    # the same exactly-once guard must fail loudly, never splice
    with pytest.raises(ConcurrentModificationError):
        t.merge(merge_source(spark, third), batch_id=base.last_batch_id + 1)
    # winner's state intact
    assert t.head().last_batch_id == base.last_batch_id + 1
    assert rows(t)[("r4", "p100")] == "w100"


# -- GC orphan age gate -------------------------------------------------------


def test_expire_age_gates_unreferenced_files(spark, tmp_path):
    eng = seed(spark, tmp_path)
    t = eng.table
    second_batch(spark, eng, lsns=[100, 101])

    # a fresh unreferenced parquet = possibly an in-flight writer's output
    stray_dir = os.path.join(t.root, "data", "commit-99999999-deadbeef")
    os.makedirs(stray_dir)
    stray = os.path.join(stray_dir, "part-0.parquet")
    with open(stray, "wb") as fh:
        fh.write(b"PAR1stub")

    maintenance.expire_snapshots(t, keep_last=1)
    assert os.path.exists(stray), "fresh orphan must survive the grace window"

    # ...but a stale one (fence loser, crashed writer) is collected. A new
    # commit first — expire early-returns when history is already minimal.
    maintenance.compact(t, target_files=2)
    os.utime(stray, (1, 1))
    res = maintenance.expire_snapshots(t, keep_last=1, orphan_grace_s=3600)
    assert not os.path.exists(stray)
    assert res["files_removed"] >= 1
    # the table is still fully readable
    assert t.read().count() == 26


# -- engine-level recovery across a multi-batch replay ------------------------


def test_replay_with_compaction_landing_mid_merge(spark, tmp_path, monkeypatch):
    """Every unit's merge loses its first fence attempt to a full-table
    compaction committed through an independent maintenance handle while
    the merge job is in flight (the worst case: a full rewrite overlaps
    every merge, so nothing can splice — the engine must recompute each
    unit). Final state must equal a clean sequential replay."""
    events = [
        ev(i, op, f"r{i % 7}", f"p{i % 40}", f"v{i}")
        for i, op in ((j, "delete" if j % 11 == 10 else "update")
                      for j in range(160))
    ]
    df = spark.createDataFrame(events, EVENT_SCHEMA)

    eng = CdcEngine(spark, str(tmp_path / "raced"), num_buckets=8,
                    auto_compact_every=None)
    t2 = LakeTable(spark, eng.table.root)
    orig = eng.table._commit_snapshot
    state = {"armed": False, "compactions": 0}

    def racy(snap, staged=None):
        if state["armed"] and snap.operation == "merge":
            state["armed"] = False
            try:
                maintenance.compact(t2, target_files=2)
                state["compactions"] += 1
            except ConcurrentModificationError:
                pass
        return orig(snap, staged)

    monkeypatch.setattr(eng.table, "_commit_snapshot", racy)
    manifests = []
    for unit in range(4):
        state["armed"] = unit > 0  # first unit creates the table unraced
        lo, hi = unit * 40, (unit + 1) * 40
        part = df.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi))
        manifests += eng.apply_log(part, n_batches=1, total_events=40)

    assert len(manifests) == 4
    assert state["compactions"] == 3  # every armed race really landed

    ref = CdcEngine(spark, str(tmp_path / "clean"), num_buckets=8,
                    auto_compact_every=None)
    ref.apply_log(df, n_batches=4, total_events=160)

    got = {(r["repo"], r["path"]): (r["content"], r["last_lsn"])
           for r in eng.final_state().collect()}
    want = {(r["repo"], r["path"]): (r["content"], r["last_lsn"])
            for r in ref.final_state().collect()}
    assert got == want
