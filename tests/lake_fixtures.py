"""Shared helpers that build lake tables for tests."""

from pyspark.sql import functions as F

from translator_ingests_spark.cdc import EVENT_SCHEMA


def merge_by_bucket_range(table, df, n_ranges, first_batch_id=0, **merge_kw):
    """Merge ``df`` into ``table`` as one commit per non-empty range of
    ``n_ranges`` contiguous bucket ranges, in bucket order, with consecutive
    batch ids from ``first_batch_id``.

    A small commit writes a single file, so this is how a test builds a
    multi-file table whose files cover disjoint bucket ranges out of
    ordinary merges. Returns the next free batch id."""
    snap = table.head()
    bucket = table._bucket_expr(snap.num_buckets, snap.key_cols)
    tagged = df.withColumn(
        "__r", F.floor(bucket * n_ranges / snap.num_buckets).cast("int"))
    ranges = sorted(r["__r"] for r in tagged.select("__r").distinct().collect())
    for i, g in enumerate(ranges):
        table.merge(tagged.filter(F.col("__r") == g).drop("__r"),
                    first_batch_id + i, **merge_kw)
    return first_batch_id + len(ranges)


def apply_by_bucket_range(eng, events, n_ranges):
    """Apply ``events`` (``EVENT_SCHEMA`` dicts) through the CDC engine
    ``eng`` as one unit per non-empty range of ``n_ranges`` contiguous bucket
    ranges, in bucket order; within a range the events keep their order.

    A small unit writes one file, so the table gets one file per range. The
    events' LSNs are handed out again in the new order (``source_offset``
    follows), so in-order delivery's watermark admits every unit; with
    ``n_ranges=1`` an LSN-ordered list applies unchanged as one unit."""
    nb = eng.num_buckets
    keys = eng.spark.createDataFrame(
        [(e["repo"], e["path"]) for e in events], "repo string, path string")
    ranges = [
        r["b"] * n_ranges // nb
        for r in keys.select(
            eng.table._bucket_expr(nb, ["repo", "path"]).alias("b")).collect()
    ]
    order = sorted(range(len(events)), key=lambda i: ranges[i])
    units: dict[int, list[dict]] = {}
    for lsn, i in zip(sorted(e["lsn"] for e in events), order):
        units.setdefault(ranges[i], []).append(
            {**events[i], "lsn": lsn, "source_offset": lsn})
    for g in sorted(units):
        eng.apply_log(eng.spark.createDataFrame(units[g], EVENT_SCHEMA),
                      n_batches=1)
