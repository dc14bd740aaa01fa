"""Write layout of a commit: the file count follows the bytes a commit
shuffles, not the core count. The bucket-group exchange is count-free, so
AQE coalesces adjacent groups: a small unit writes one file, a large one
several, each over one contiguous bucket range and sorted by ``__bucket``
— and the plan keeps the same exchanges and sorts for every unit kind."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from translator_ingests_spark.cdc.apply import CdcEngine
from translator_ingests_spark.cdc.generator import generate_event_log


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def writes(monkeypatch):
    """Every parquet write's (plan, data files written)."""
    real_parquet = DataFrameWriter.parquet
    out = []

    def capture(self, path, *a, **k):
        plan = plan_of(self._df)
        real_parquet(self, path, *a, **k)
        out.append((plan, sorted(os.path.join(path, f) for f in os.listdir(path)
                                 if f.endswith(".parquet"))))

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    return out


def plan_counts(plan: str) -> tuple[int, int]:
    return plan.count("Exchange"), plan.count("Sort [")


def buckets_of(path: str) -> list[int]:
    return pq.read_table(path, columns=["__bucket"]).column(0).to_pylist()


def assert_bucket_sorted(paths: list[str]) -> None:
    for p in paths:
        b = buckets_of(p)
        assert all(x <= y for x, y in zip(b, b[1:])), p


def test_small_mor_unit_writes_one_bucket_sorted_file(spark, tmp_path, writes):
    """A 2k-event MOR unit over 256 buckets shuffles far below AQE's 1 MiB
    coalesce floor: one delta file, holding every bucket group in bucket
    order, on one exchange and one sort."""
    eng = CdcEngine(spark, str(tmp_path / "t"), num_buckets=256,
                    write_mode="mor", auto_compact_every=None)
    eng.apply_log(generate_event_log(spark, 2000, seed=3), n_batches=1)
    assert len(writes) == 1
    plan, paths = writes[0]
    assert plan_counts(plan) == (1, 1), plan
    assert len(paths) == 1
    files = eng.table.current().files
    assert len(files) == 1 and files[0]["delta"]
    assert files[0]["bucket_max"] - files[0]["bucket_min"] > 128
    assert_bucket_sorted(paths)


@pytest.mark.parametrize(
    "partial, counts",
    [(False, [(1, 1), (1, 1)]), (True, [(1, 1), (1, 1)])],
    ids=["whole_row", "partial"],
)
def test_small_cow_commits_write_one_file(spark, tmp_path, writes, partial,
                                          counts):
    """A bulk COW unit and a unit over a live target, 500 events each: one
    file per commit, with the exchange and sort counts of each unit kind
    unchanged by the coalescing."""
    eng = CdcEngine(spark, str(tmp_path / "t"), num_buckets=8,
                    auto_compact_every=None, partial_updates=partial)
    eng.apply_log(generate_event_log(spark, 1000, seed=3), n_batches=2)
    assert [plan_counts(plan) for plan, _ in writes] == counts
    assert [len(paths) for _, paths in writes] == [1, 1]
    assert_bucket_sorted([p for _, paths in writes for p in paths])


def test_large_commit_writes_disjoint_contiguous_bucket_ranges(spark, tmp_path,
                                                               writes):
    """A bulk commit that shuffles a few MiB is split again: several files,
    each one contiguous bucket range disjoint from the others, in bucket
    order inside."""
    eng = CdcEngine(spark, str(tmp_path / "t"), num_buckets=32,
                    auto_compact_every=None)
    eng.apply_log(generate_event_log(spark, 20000, seed=3, content_repeat=8),
                  n_batches=1)
    assert len(writes) == 1
    plan, paths = writes[0]
    assert plan_counts(plan) == (1, 1), plan
    assert len(paths) >= 2
    files = sorted(eng.table.current().files, key=lambda f: f["bucket_min"])
    assert len(files) == len(paths)
    for a, b in zip(files, files[1:]):
        assert a["bucket_max"] < b["bucket_min"]
    assert_bucket_sorted(paths)
