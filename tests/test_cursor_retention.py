"""Consumer-aware snapshot retention: registered change-feed cursors pin
their snapshot against ``expire_snapshots`` (the Kafka consumer-group-offset
retention analog), so the ingest side's auto-expiry cadence
(``CdcEngine.auto_expire_every``) needs no hand coordination with the
slowest downstream consumer's lag."""

import warnings

import pytest

from translator_ingests_spark.lake import LakeSchema, LakeTable, refs
from translator_ingests_spark.lake.derived import create_replica, sync_replica
from translator_ingests_spark.lake.maintenance import expire_snapshots
from translator_ingests_spark.streaming.change_consumer import (
    ChangesConsumer,
    CursorExpiredError,
)

SCHEMA = LakeSchema.from_names(
    [("repo", "string"), ("path", "string"), ("content", "string"),
     ("last_lsn", "long")]
)


def mk(spark, root):
    return LakeTable.create(spark, root, SCHEMA, key_cols=["repo", "path"],
                            lsn_col="last_lsn", num_buckets=8)


def src(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, content string, op string, lsn long"
    )


def seed(spark, root, n=20):
    t = mk(spark, root)
    t.merge(src(spark, [(f"r{i}", "a", f"v0-{i}", "insert", i)
                        for i in range(n)]), batch_id=0)
    return t


def test_cursor_registry_roundtrip(spark, tmp_path):
    t = seed(spark, str(tmp_path / "l"))
    v = t.current().version
    refs.register_cursor(t, "idx", v)
    assert refs.list_cursors(t) == {"idx": v}
    # registering must point at a committed snapshot (same contract as tag)
    with pytest.raises(FileNotFoundError):
        refs.register_cursor(t, "bad", 99)
    # drop is idempotent (consumer teardown can always run it)
    refs.drop_cursor(t, "idx")
    refs.drop_cursor(t, "idx")
    assert refs.list_cursors(t) == {}
    # names are registry filenames: separators/traversal must be rejected,
    # on drop too (name="../refs" would target refs.json)
    for bad in ("a/b", "../refs", ".", "..", ""):
        with pytest.raises(ValueError):
            refs.register_cursor(t, bad, v)
        with pytest.raises(ValueError):
            refs.drop_cursor(t, bad)


def test_pinned_cursor_survives_expiry_and_poll_serves(spark, tmp_path):
    t = seed(spark, str(tmp_path / "l"))
    c = ChangesConsumer(t, str(tmp_path / "ckpt"), name="idx")
    c.bootstrap()
    pinned = c.position()
    assert refs.list_cursors(t) == {"idx": pinned}

    for b in range(1, 6):
        t.merge(src(spark, [("r1", "a", f"p{b}", "update", 1000 + b)]),
                batch_id=b)
    res = expire_snapshots(t, keep_last=1)
    # history between the pin and the keep_last window still expired...
    assert res["snapshots_removed"] > 0
    assert pinned in t.history()
    # ...and the pinned endpoint diff still serves: net change = r1 at p5
    df, v_from, v_to = c.poll()
    rows = [r for r in df.collect() if r["repo"] == "r1"]
    assert v_from == pinned and len(rows) == 1 and rows[0]["content"] == "p5"
    c.commit(v_to)
    # commit moved the pin forward; the old snapshot is now reclaimable
    assert refs.list_cursors(t) == {"idx": v_to}
    expire_snapshots(t, keep_last=1)
    assert pinned not in t.history()


def test_unpinned_consumer_still_expires(spark, tmp_path):
    t = seed(spark, str(tmp_path / "l"))
    c = ChangesConsumer(t, str(tmp_path / "ckpt"), name="idx",
                        pin_retention=False)
    c.bootstrap()
    assert refs.list_cursors(t) == {}
    for b in range(1, 4):
        t.merge(src(spark, [("r1", "a", f"p{b}", "update", 1000 + b)]),
                batch_id=b)
    expire_snapshots(t, keep_last=1)
    with pytest.raises(CursorExpiredError):
        c.poll()


def test_max_cursor_lag_bounds_abandoned_consumer(spark, tmp_path):
    t = seed(spark, str(tmp_path / "l"))
    c = ChangesConsumer(t, str(tmp_path / "ckpt"), name="dead")
    c.bootstrap()
    head0 = t.current().version
    for b in range(1, 6):
        t.merge(src(spark, [("r1", "a", f"p{b}", "update", 1000 + b)]),
                batch_id=b)
    # the cursor lags 5 versions; a 2-version bound refuses the pin (warned)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        expire_snapshots(t, keep_last=1, max_cursor_lag=2)
    assert any("dead" in str(x.message) for x in w)
    assert head0 not in t.history()
    with pytest.raises(CursorExpiredError):
        c.poll()
    # re-bootstrap re-registers at head: the consumer is healthy again
    c.bootstrap()
    assert refs.list_cursors(t) == {"dead": t.current().version}
    # a stale registry entry pointing at expired history is ignored, not
    # an error, on the next expiry run
    expire_snapshots(t, keep_last=1)


def test_engine_auto_expiry_respects_registered_consumer(spark, tmp_path):
    # the ingest loop's auto-expiry cadence (CdcEngine.auto_expire_every)
    # must keep a lagging-but-registered consumer serviceable with NO
    # hand-tuned expire_keep_last
    from translator_ingests_spark.cdc import EVENT_SCHEMA, CdcEngine

    def ev(lsn, path, content):
        return {"lsn": lsn, "op": "update", "repo": "r", "path": path,
                "commit": f"c{lsn}", "lang": "py", "content": content,
                "schema_change": None, "source_partition": 0,
                "source_offset": lsn, "extras": None}

    eng = CdcEngine(spark, str(tmp_path / "t"), num_buckets=4,
                    auto_compact_every=None, auto_expire_every=3,
                    expire_keep_last=1)
    eng.apply_log(spark.createDataFrame([ev(i, f"p{i}", "s") for i in range(4)],
                                        EVENT_SCHEMA),
                  n_batches=1, total_events=4, cache_log=False)
    c = ChangesConsumer(eng.table, str(tmp_path / "ckpt"), name="idx")
    c.bootstrap()
    # 9 more units: three auto-expiry firings with keep_last=1, all of
    # which must pin the consumer's snapshot
    for u in range(1, 10):
        eng.apply_log(spark.createDataFrame([ev(100 * u + i, f"p{i}", f"u{u}")
                                             for i in range(4)], EVENT_SCHEMA),
                      n_batches=1, total_events=4, cache_log=False)
    df, v_from, v_to = c.poll()
    assert v_from == c.position()
    got = {(r["path"], r["content"]) for r in df.collect()
           if r["_change_type"] == "upsert"}
    assert got == {(f"p{i}", "u9") for i in range(4)}
    c.commit(v_to)
    # with the pin advanced, the next expiry reclaims the old history
    expire_snapshots(eng.table, keep_last=1)
    assert v_from not in eng.table.history()


def test_aggregates_get_distinct_default_pins(spark, tmp_path):
    # two IncrementalAggregates over ONE source must not share a registry
    # name: a static default would clobber each other's retention pins and
    # expose whichever lags to GC. Defaults derive from the state root.
    from translator_ingests_spark.lake.derived import IncrementalAggregate

    t = seed(spark, str(tmp_path / "l"))
    a1 = IncrementalAggregate(spark, t, str(tmp_path / "agg1"),
                              group_cols=["repo"], sums={"s": "last_lsn"})
    a2 = IncrementalAggregate(spark, t, str(tmp_path / "agg2"),
                              group_cols=["repo"], sums={"s": "last_lsn"})
    assert a1.consumer.name != a2.consumer.name
    a1.refresh()
    for b in range(1, 4):
        t.merge(src(spark, [("r1", "a", f"p{b}", "update", 1000 + b)]),
                batch_id=b)
    # only a1 has refreshed: its pin must survive an expiry even while a2
    # (bootstrapping later) registers its own
    expire_snapshots(t, keep_last=1)
    a2.refresh()
    assert set(refs.list_cursors(t)) == {a1.consumer.name, a2.consumer.name}
    a1.refresh()
    want = {(r["repo"], r["n_rows"], r["s"]) for r in a1.recomputed().collect()}
    assert {(r["repo"], r["n_rows"], r["s"]) for r in a1.read().collect()} == want
    assert {(r["repo"], r["n_rows"], r["s"]) for r in a2.read().collect()} == want


def test_bootstrap_after_v0_expired(spark, tmp_path):
    # consumers created AFTER snapshot v0 has been GC'd (routine under
    # auto-expiry) must still bootstrap: the changes(0, head) trick is not
    # servable, so both derived-table flavors fall back to a full-state
    # bootstrap stamped with the same exactly-once batch id
    from translator_ingests_spark.lake.derived import (
        IncrementalAggregate, create_replica, sync_replica,
    )

    t = seed(spark, str(tmp_path / "l"))
    for b in range(1, 4):
        t.merge(src(spark, [("r1", "a", f"p{b}", "update", 1000 + b)]),
                batch_id=b)
    expire_snapshots(t, keep_last=1)
    assert 0 not in t.history()

    agg = IncrementalAggregate(spark, t, str(tmp_path / "agg"),
                               group_cols=["repo"], sums={"s": "last_lsn"})
    assert agg.refresh() >= 1
    key = lambda df: {(r["repo"], r["n_rows"], r["s"]) for r in df.collect()}
    assert key(agg.read()) == key(agg.recomputed())

    dst = create_replica(spark, t, str(tmp_path / "replica"))
    cons = ChangesConsumer(t, str(tmp_path / "ckpt"), name="rep")
    assert sync_replica(t, dst, cons) >= 1
    rows = lambda df: {(r["repo"], r["path"], r["content"])
                       for r in df.collect()}
    assert rows(dst.read()) == rows(t.read())

    # both keep tracking incrementally after the fallback bootstrap
    t.merge(src(spark, [("r2", "a", "zz", "update", 5000)]), batch_id=9)
    agg.refresh()
    sync_replica(t, dst, cons)
    assert key(agg.read()) == key(agg.recomputed())
    assert rows(dst.read()) == rows(t.read())


def test_replica_sync_survives_aggressive_expiry(spark, tmp_path):
    # end-to-end: a derived replica's consumer (pinned by default) stays
    # serviceable across an expire cadence tighter than its poll cadence
    t = seed(spark, str(tmp_path / "l"), n=30)
    dst = create_replica(spark, t, str(tmp_path / "replica"))
    consumer = ChangesConsumer(t, str(tmp_path / "ckpt"), name="replica")
    sync_replica(t, dst, consumer)  # bootstraps its own cursor at v0
    for b in range(1, 7):
        t.merge(src(spark, [("r2", "a", f"q{b}", "update", 2000 + b),
                            (f"r{b}", "b", f"n{b}", "insert", 3000 + b)]),
                batch_id=b)
        expire_snapshots(t, keep_last=1)  # tighter than the sync cadence
        if b % 3 == 0:
            sync_replica(t, dst, consumer)
    sync_replica(t, dst, consumer)
    want = {(r["repo"], r["path"], r["content"])
            for r in t.read().collect()}
    got = {(r["repo"], r["path"], r["content"])
           for r in dst.read().collect()}
    assert got == want
