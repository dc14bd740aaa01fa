"""Skew handling: the decomposed LWW reduce (max(lsn) HashAggregate →
candidate join → tiny tie-break) makes hot keys structurally benign — the
only full-batch aggregation has a primitive buffer whose map-side combine
collapses a hot key to one row per input partition before any shuffle. No
salting, no detection job; a pathologically skewed batch must still apply
correctly."""

from translator_ingests_spark.cdc import CdcEngine, EVENT_SCHEMA


def _events(n, repo="mega"):
    return [
        {
            "lsn": i, "op": "insert", "repo": repo, "path": f"p{i}.py",
            "commit": format(i, "040x"), "lang": "py", "content": f"c{i}",
            "schema_change": None, "source_partition": 0, "source_offset": i,
            "extras": None,
        }
        for i in range(n)
    ]


def test_skewed_batch_applies_without_salting(spark, tmp_path):
    eng = CdcEngine(spark, str(tmp_path / "cdc"), num_buckets=4)
    eng.init_table()
    # 200 events, ALL in one repo — far past any hot threshold
    batch = spark.createDataFrame(_events(200), EVENT_SCHEMA)
    m = eng._apply_data_unit(batch, unit_id=0, lag_events=200)
    assert m is not None
    assert eng.final_state().count() == 200


def test_skewed_updates_keep_lww_semantics(spark, tmp_path):
    """Every event of the batch targets the SAME key: the survivor must be
    the max-LSN row even though the whole group lands on one reducer path."""
    eng = CdcEngine(spark, str(tmp_path / "cdc"), num_buckets=4)
    eng.init_table()
    rows = _events(150)
    for r in rows:
        r["path"] = "only.py"  # one single (repo, path) key
        r["content"] = f"v{r['lsn']}"
    batch = spark.createDataFrame(rows, EVENT_SCHEMA)
    m = eng._apply_data_unit(batch, unit_id=0, lag_events=150)
    assert m is not None
    state = eng.final_state().collect()
    assert len(state) == 1
    assert state[0]["last_lsn"] == 149
    assert state[0]["content"] == "v149"
