"""Physical-plan quality gates: the plans we'd want at 100 TB, asserted at
test scale — filters/projections reach the parquet scan, dimension joins go
broadcast, the LWW reduce is one partial-aggregated shuffle, and no data
path collects rows to the driver."""

import re

import pytest
from pyspark.sql import functions as F

from translator_ingests_spark.cdc.generator import generate_event_log
from translator_ingests_spark.cdc.reduce import lww_reduce
from translator_ingests_spark.operators import relational

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_and_projection_pushdown(spark):
    plan = plan_of(relational.q1_pricing_summary(spark, SF))
    # predicate reaches the scan
    assert "PushedFilters" in plan and "l_shipdate" in plan
    # column pruning: unused columns (l_comment-like: l_partkey/suppkey) not read
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "l_partkey" not in m.group(1) and "l_orderkey" not in m.group(1)
    # aggregation is partial (map-side combine) then final
    assert "partial_sum" in plan and plan.count("HashAggregate") >= 2


def test_q5_broadcasts_dimensions(spark):
    plan = plan_of(relational.q5_local_supplier_volume(spark, SF))
    assert "BroadcastHashJoin" in plan  # region/nation sides broadcast


def test_semi_and_anti_joins_stay_semi(spark):
    p1 = plan_of(relational.semi_join_customers_with_urgent_orders(spark, SF))
    assert "LeftSemi" in p1
    p2 = plan_of(relational.anti_join_parts_never_ordered(spark, SF))
    assert "LeftAnti" in p2


def test_lww_reduce_plan_is_primitive_hashagg_plus_join(spark):
    """The reduce's only full-batch aggregation must be a HashAggregate over
    a primitive max(lsn) buffer (whole-stage codegen + map-side combine — the
    scale path); the variable-buffer max_by tie-break runs only over the
    joined candidates. The full event rows themselves must never feed an
    Exchange: the two hash exchanges carry winners and candidates only."""
    log = generate_event_log(spark, 1000, seed=3)
    red = lww_reduce(log, keys=["repo", "path"])
    plan = plan_of(red)
    assert "HashAggregate" in plan and "max(lsn" in plan
    assert plan.count("max_by") >= 2  # partial + final tie-break
    # winners agg + candidates agg; the events side joins via broadcast or
    # shuffled-hash chosen by AQE — either way no third full-data exchange
    assert plan.count("Exchange hashpartitioning") == 2


def test_lww_reduce_no_full_data_sort_or_object_agg(spark):
    """The full-data path must stay on codegen HashAggregate: the only
    SortAggregates in the reduce are the max_by tie-break pair over the
    post-join candidates (~1 row/key), never over the raw events, and no
    ObjectHashAggregate (interpreted, boxes per row) may appear at all."""
    log = generate_event_log(spark, 1000, seed=3)
    plan = plan_of(lww_reduce(log, keys=["repo", "path"]))
    assert "ObjectHashAggregate" not in plan
    sort_aggs = [l for l in plan.splitlines() if "SortAggregate" in l]
    assert len(sort_aggs) == 2  # partial + final tie-break only
    assert all("max_by" in l for l in sort_aggs)


def test_reader_filter_pushdown_counts_as_scan_filter(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
        .filter(F.col("l_quantity") > 30)
    )
    plan = plan_of(df)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "l_quantity" in m.group(1)
    m2 = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m2 and "l_extendedprice" not in m2.group(1)


def test_no_collect_in_operator_sources():
    """Static gate: no untagged .collect( anywhere in the package
    (driver-side loops disqualify an operator from being distributed).
    A collect may be justified with `# bounded-collect: <reason>` on the
    call line or within the 3 lines above it — ONLY when its cardinality
    is bounded independent of row count (one aggregate row, ≤ num_buckets,
    O(rules), broadcast-dimension pattern), never O(rows)."""
    import glob
    import os

    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "translator_ingests_spark")
    offenders = []
    for path in glob.glob(f"{root}/**/*.py", recursive=True):
        rel = os.path.relpath(path, root)
        lines = open(path).read().splitlines()
        for i, line in enumerate(lines, 1):
            if ".collect()" not in line:
                continue
            # i is 1-based, so lines[i-4:i] = the call line (index i-1)
            # plus the 3 lines above it — and nothing after the call
            window = lines[max(0, i - 4):i]
            if not any("# bounded-collect:" in ln for ln in window):
                offenders.append(f"{rel}:{i}")
    assert not offenders, offenders


def _write_plans(spark, monkeypatch, run):
    """Executed plans of every parquet write ``run()`` issues."""
    from pyspark.sql.readwriter import DataFrameWriter

    real_parquet = DataFrameWriter.parquet
    plans = []

    def capture(self, path, *a, **k):
        plans.append(plan_of(self._df))
        return real_parquet(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    try:
        run()
    finally:
        monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)
    return plans


def test_mor_unit_rides_one_exchange_and_one_sort(spark, tmp_path, monkeypatch):
    """A MOR unit: the batch's raw events are shuffled once by the write's
    bucket-group key and sorted once, by the merge's resolution window — the
    write's declared layout sort is a prefix of that ordering and is elided.
    Its delta files are byte-identical to the ones a MOR merge of the same
    batch, pre-reduced by the standalone max_by reduce, writes."""
    from translator_ingests_spark.cdc.apply import CdcEngine

    log = generate_event_log(spark, 1000, seed=3)

    def blobs(eng):
        files = eng.table.current().files
        assert files and all(f.get("delta") for f in files)
        return sorted(open(f["path"], "rb").read() for f in files)

    eng = CdcEngine(spark, str(tmp_path / "unit"), num_buckets=8,
                    write_mode="mor")
    plans = _write_plans(spark, monkeypatch,
                         lambda: eng.apply_log(log, n_batches=1))
    assert len(plans) == 1
    assert plans[0].count("Exchange") == 1
    assert plans[0].count("Sort [") == 1, plans[0]

    ref = CdcEngine(spark, str(tmp_path / "reduced"), num_buckets=8,
                    write_mode="mor")
    ref.init_table()
    snap = ref.table.head()
    valid = log.filter(F.col("repo").isNotNull() & F.col("path").isNotNull()
                       & F.col("lsn").isNotNull())
    # the max_by struct drops the event schema's non-null lsn/op; the no-op
    # coalesces restore it, so the parquet schemas match too
    reduced = lww_reduce(valid, keys=list(snap.key_cols), simple=True) \
        .withColumn("lsn", F.coalesce("lsn", F.lit(0).cast("long"))) \
        .withColumn("op", F.coalesce("op", F.lit("insert")))
    ref.table.merge(ref._derive_columns(reduced, snap), batch_id=0,
                    mode="mor", winner_cols=ref._content_cols(snap))
    assert blobs(ref) == blobs(eng)


@pytest.mark.parametrize("partial", [False, True], ids=["whole_row", "partial"])
def test_every_unit_kind_plans_one_exchange(spark, tmp_path, monkeypatch,
                                            partial):
    """COW units, captured at the parquet write: a bulk unit onto an empty
    table and a unit with a live target each ride ONE exchange — the
    merge's bucket-group shuffle of the raw events (∪ the target) — and
    resolve every key in its window: no join, no aggregation. Partial-update
    units assemble their columns in the same window."""
    from translator_ingests_spark.cdc.apply import CdcEngine

    eng = CdcEngine(spark, str(tmp_path / "t"), num_buckets=8,
                    auto_compact_every=None, partial_updates=partial)
    plans = _write_plans(spark, monkeypatch, lambda: eng.apply_log(
        generate_event_log(spark, 1000, seed=3), n_batches=2))

    assert len(plans) == 2
    for plan in plans:  # bulk, then live target
        assert plan.count("Exchange") == 1, plan
        assert "Join" not in plan and "SortAggregate" not in plan, plan
        assert plan.count("Sort [") == 1, plan


def test_mor_unit_on_256_buckets_runs_five_jobs(spark, tmp_path):
    """The upfront lineage pass carries the affected-bucket set for any
    bucket count (one bit_or mask word per 64 buckets), so a one-unit
    apply_log on a 256-bucket MOR table runs no per-unit bucket probe:
    the lineage pass (cache fill + aggregation) and the merge write (map
    stage + write), five Spark jobs in all."""
    from translator_ingests_spark.cdc.apply import CdcEngine

    log = generate_event_log(spark, 2000, seed=5)
    # warm-up unit: one-time per-session work (write-group salts) is not
    # the unit's cost
    CdcEngine(spark, str(tmp_path / "warm"), num_buckets=256,
              write_mode="mor").apply_log(log, n_batches=1, total_events=2000)
    eng = CdcEngine(spark, str(tmp_path / "t"), num_buckets=256,
                    write_mode="mor", auto_compact_every=None)
    eng.init_table()
    sc = spark.sparkContext
    sc.setJobGroup("mor-unit-256", "one MOR unit")
    try:
        eng.apply_log(log, n_batches=1, total_events=2000)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("mor-unit-256")) == 5
    assert eng.table.current().last_batch_id == 0
