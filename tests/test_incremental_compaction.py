"""Incremental compaction (round-3 VERDICT #1): the steady-state
auto-compact cadence must be O(files holding tombstones), never an
O(table) rewrite. Selection is manifest-metadata-only (the per-file
``has_tombstones`` footer stat); clean files are spliced through the new
manifest byte-identical, and a tombstone-free table is a complete no-op."""

from lake_fixtures import merge_by_bucket_range
from pyspark.sql import functions as F

from translator_ingests_spark.cdc import CdcEngine, EVENT_SCHEMA
from translator_ingests_spark.lake import LakeSchema, LakeTable
from translator_ingests_spark.lake.maintenance import (
    compact_incremental,
    tombstone_files,
)
from translator_ingests_spark.lake.table import TOMBSTONE_COL

SCHEMA = LakeSchema.from_names(
    [("repo", "string"), ("path", "string"), ("content", "string"), ("last_lsn", "long")]
)


def make_table(spark, root, num_buckets=8):
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


def test_incremental_compact_touches_only_tombstone_files(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "lake"), num_buckets=8)
    # broad insert spreads keys over every bucket, in four bucket-range files
    nxt = merge_by_bucket_range(
        t, src_df(spark, [("r1", f"f{i}.py", f"c{i}", "insert", i) for i in range(60)]), 4)
    # one delete → only its bucket's file(s) get rewritten and flagged
    t.merge(src_df(spark, [("r1", "f7.py", None, "delete", 100)]), nxt,
            advance_watermark_to=100)

    snap = t.current()
    flagged = tombstone_files(snap)
    assert 0 < len(flagged) < len(snap.files), (
        "tombstone flag must isolate a strict subset of the manifest"
    )
    clean_paths = {f["path"] for f in snap.files} - {f["path"] for f in flagged}
    before = state(t)

    new_snap = compact_incremental(t, drop_tombstones=True)
    assert new_snap.operation == "compact"
    # splice: every clean file survives in the new manifest UNREAD/unmoved
    new_paths = {f["path"] for f in new_snap.files}
    assert clean_paths <= new_paths
    # the flagged files were replaced
    assert not ({f["path"] for f in flagged} & new_paths)
    # tombstone below the watermark folded out; visible state unchanged
    assert t.read_raw().filter(F.col(TOMBSTONE_COL)).count() == 0
    assert state(t) == before


def test_incremental_compact_noop_without_tombstones(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "lake"), num_buckets=8)
    t.merge(src_df(spark, [("r1", f"f{i}.py", f"c{i}", "insert", i) for i in range(20)]), 0)
    v = t.current().version
    snap = compact_incremental(t, drop_tombstones=True)
    # no flagged files → no Spark job, no new snapshot committed
    assert snap.version == v
    assert t.current().version == v


def test_above_watermark_tombstone_survives_and_stays_flagged(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "lake"), num_buckets=4)
    t.merge(src_df(spark, [("r1", "a.py", "v1", "insert", 1),
                           ("r1", "b.py", "v1", "insert", 2)]), 0)
    # delete above the (unadvanced) watermark: still-contested LSN territory
    t.merge(src_df(spark, [("r1", "a.py", None, "delete", 50)]), 1)
    assert t.current().low_watermark == -1

    compact_incremental(t, drop_tombstones=True)
    # retained (watermark gate) and its new file re-flagged for next cadence
    assert t.read_raw().filter(F.col(TOMBSTONE_COL)).count() == 1
    assert len(tombstone_files(t.current())) >= 1


def test_auto_compact_cadence_uses_incremental_path(spark, tmp_path):
    """The engine's default cadence folds droppable tombstones without a
    full-table rewrite: after auto-compact, files untouched by any delete
    keep their original paths."""
    eng = CdcEngine(spark, str(tmp_path / "cdc"), num_buckets=8,
                    auto_compact_every=2)
    rows = [
        {"lsn": i, "op": "insert", "repo": "r", "path": f"p{i}", "commit": f"c{i}",
         "lang": "py", "content": f"v{i}", "schema_change": None,
         "source_partition": 0, "source_offset": i, "extras": None}
        for i in range(8)
    ] + [
        {"lsn": 8, "op": "delete", "repo": "r", "path": "p3", "commit": None,
         "lang": None, "content": None, "schema_change": None,
         "source_partition": 0, "source_offset": 8, "extras": None}
    ] + [
        {"lsn": i, "op": "insert", "repo": "r", "path": f"p{i}", "commit": f"c{i}",
         "lang": "py", "content": f"v{i}", "schema_change": None,
         "source_partition": 0, "source_offset": i, "extras": None}
        for i in range(9, 12)
    ]
    # 4 batches of 3; the delete (lsn 8) commits in batch 3 and the cadence
    # compaction after batch 4 folds it (watermark advanced past it)
    eng.apply_log(spark.createDataFrame(rows, EVENT_SCHEMA), events_per_batch=3)
    # the delete was folded out on the cadence (in-order watermark advanced)
    assert eng.table.read_raw().filter(F.col(TOMBSTONE_COL)).count() == 0
    assert eng.table.read().count() == 11 - 1
