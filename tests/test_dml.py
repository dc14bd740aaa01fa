"""Predicate DML: bulk DELETE WHERE / UPDATE WHERE over the lake table —
probe-then-targeted-rewrite, tombstone semantics, LWW interaction with
later CDC events, merge-on-read interplay, and file-level pruning."""

from lake_fixtures import apply_by_bucket_range
from pyspark.sql import functions as F

from translator_ingests_spark.cdc import CdcEngine, EVENT_SCHEMA
from translator_ingests_spark.lake.dml import delete_where, update_where
from translator_ingests_spark.lake.table import TOMBSTONE_COL


def ev(lsn, op, repo=None, path=None, commit=None, lang=None, content=None):
    return {
        "lsn": lsn, "op": op, "repo": repo, "path": path, "commit": commit,
        "lang": lang, "content": content, "schema_change": None,
        "source_partition": 0, "source_offset": lsn, "extras": None,
    }


def seed(spark, tmp_path, n_ranges=1, **kw):
    """12 keys in ``n_ranges`` files over disjoint bucket ranges."""
    eng = CdcEngine(spark, str(tmp_path / "t"), num_buckets=8,
                    auto_compact_every=None, **kw)
    events = [
        ev(i, "insert", f"r{i % 2}", f"p{i}", f"c{i}",
           "py" if i % 3 else "java", f"v{i}")
        for i in range(12)
    ]
    apply_by_bucket_range(eng, events, n_ranges)
    return eng


def state(eng):
    return {(r["repo"], r["path"]): r.asDict() for r in eng.final_state().collect()}


def test_delete_where_purges_matching_rows(spark, tmp_path):
    eng = seed(spark, tmp_path)
    snap = delete_where(eng.table, F.col("repo") == "r1", at_lsn=1000)
    assert snap.operation == "delete"
    st = state(eng)
    assert st and all(r == "r0" for r, _p in st)
    # purged keys are tombstones at the DML LSN (retained, hidden)
    tombs = eng.table.read_raw().filter(F.col(TOMBSTONE_COL)).collect()
    assert len(tombs) == 6 and all(t["last_lsn"] == 1000 for t in tombs)
    # idempotent: re-running matches nothing and commits nothing
    v = eng.table.current().version
    assert delete_where(eng.table, F.col("repo") == "r1", at_lsn=1001).version == v


def test_delete_where_lww_against_cdc_events(spark, tmp_path):
    eng = seed(spark, tmp_path)
    delete_where(eng.table, F.col("repo") == "r1", at_lsn=1000)
    nxt = [
        ev(900, "update", "r1", "p1", "cz", "py", "stale"),   # below 1000: loses
        ev(1100, "insert", "r1", "p3", "cn", "py", "reborn"),  # above: re-inserts
    ]
    eng.apply_log(spark.createDataFrame(nxt, EVENT_SCHEMA),
                  n_batches=1, scatter_delivery=True)
    st = state(eng)
    assert ("r1", "p1") not in st            # stale update cannot resurrect
    assert st[("r1", "p3")]["content"] == "reborn"


def test_delete_where_prunes_untouched_files(spark, tmp_path):
    eng = seed(spark, tmp_path, n_ranges=4)
    before = {f["path"] for f in eng.table.current().files}
    # one specific key → only files holding it are rewritten
    snap = delete_where(
        eng.table, (F.col("repo") == "r0") & (F.col("path") == "p0"), at_lsn=1000
    )
    kept = before & {f["path"] for f in snap.files}
    assert kept  # at least one untouched file spliced through unrewritten


def test_update_where_rewrites_columns(spark, tmp_path):
    eng = seed(spark, tmp_path)
    snap = update_where(
        eng.table, F.col("lang") == "java",
        {"content": F.concat(F.lit("redacted:"), F.col("path")),
         "lang": F.lit("redacted")},
        at_lsn=1000,
    )
    assert snap.operation == "update"
    st = state(eng)
    assert st[("r0", "p0")]["content"] == "redacted:p0"
    assert st[("r0", "p0")]["lang"] == "redacted"
    assert st[("r0", "p0")]["last_lsn"] == 1000
    # predicate evaluated on ORIGINAL row even though lang itself changed
    assert st[("r1", "p3")]["content"] == "redacted:p3"
    # non-matching rows untouched
    assert st[("r1", "p1")]["content"] == "v1" and st[("r1", "p1")]["last_lsn"] == 1


def test_update_where_rejects_key_and_unknown_columns(spark, tmp_path):
    import pytest

    eng = seed(spark, tmp_path)
    with pytest.raises(ValueError):
        update_where(eng.table, F.lit(True), {"repo": F.lit("x")}, at_lsn=1000)
    with pytest.raises(ValueError):
        update_where(eng.table, F.lit(True), {"nope": F.lit("x")}, at_lsn=1000)


def test_delete_where_folds_mor_deltas_in_scope(spark, tmp_path):
    eng = seed(spark, tmp_path, write_mode="mor")
    assert any(f.get("delta") for f in eng.table.current().files)
    delete_where(eng.table, F.col("repo") == "r1", at_lsn=1000)
    st = state(eng)
    assert st and all(r == "r0" for r, _p in st)


def test_update_where_over_mor_deltas(spark, tmp_path):
    # the probe + rewrite must fold pending deltas: the updated value seen
    # by the predicate and the rewrite is the NET (post-fold) row
    eng = seed(spark, tmp_path, write_mode="mor")
    update_where(eng.table, F.col("repo") == "r1",
                 {"content": F.lit("patched")}, at_lsn=5000)
    st = state(eng)
    assert all(v["content"] == "patched" for (r, _p), v in st.items() if r == "r1")
    assert all(v["content"] != "patched" for (r, _p), v in st.items() if r == "r0")
