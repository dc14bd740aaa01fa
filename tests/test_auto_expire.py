"""Snapshot-expiry cadence inside the apply loop: a long train must not
retain O(commits x rewrite-size) of dead files (the round-5 billion run
exhausted a 250 GB disk at ~600 COW commits without it)."""

import os

from translator_ingests_spark.cdc import EVENT_SCHEMA, CdcEngine


def _ev(lsn, repo, path, content):
    return {
        "lsn": lsn, "op": "update", "repo": repo, "path": path,
        "commit": f"c{lsn}", "lang": "py", "content": content,
        "schema_change": None, "source_partition": 0, "source_offset": lsn,
        "extras": None,
    }


def _data_bytes(root: str) -> int:
    total = 0
    for r, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(r, f))
    return total


def test_auto_expire_bounds_retained_history(spark, tmp_path):
    eng = CdcEngine(spark, str(tmp_path / "t"), num_buckets=4,
                    auto_compact_every=None, auto_expire_every=4,
                    expire_keep_last=2)
    # 12 units, each rewriting the same 8 keys: without expiry every COW
    # commit's files are retained forever (12x the live size)
    for u in range(12):
        events = [_ev(u * 8 + i, "r", f"p{i}", f"v{u * 8 + i}")
                  for i in range(8)]
        eng.apply_log(spark.createDataFrame(events, EVENT_SCHEMA),
                      n_batches=1, total_events=8, cache_log=False)

    t = eng.table
    history = t.history()
    assert len(history) <= 2 + 3, f"history not bounded: {history}"
    # physical bound: on-disk data is within a small multiple of one
    # snapshot's live size, not 12 commits' worth
    live = sum(os.path.getsize(t.localize_path(f["path"]))
               for f in t.current().files)
    assert _data_bytes(str(tmp_path / "t")) <= 4 * live

    # correctness unaffected: LWW winners of the last unit
    rows = {r["path"]: r["content"] for r in t.read().collect()}  # bounded-collect: 8-row test table
    assert rows == {f"p{i}": f"v{88 + i}" for i in range(8)}
    # time travel inside the retained window still works
    assert t.read_at(history[0]).count() == 8
