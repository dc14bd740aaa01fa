"""The CDC data path runs without Python workers: once the inputs are on
disk, a COW unit, a MOR unit, a point lookup, an empty-table read, the
final-state read and the manifest frame must neither ship driver-side rows
into Spark (``createDataFrame`` / ``parallelize``, which need a Python worker
to unpickle) nor plan a Python UDF."""

from pyspark import SparkContext
from pyspark.sql import SparkSession

from translator_ingests_spark.cdc import CdcEngine, EVENT_SCHEMA
from translator_ingests_spark.lake import LakeSchema, LakeTable

_PY_EVAL_NODES = ("ArrowEvalPython", "BatchEvalPython")


def ev(lsn, op, path, content=None):
    return {
        "lsn": lsn, "op": op, "repo": "r", "path": path, "commit": f"c{lsn}",
        "lang": "py", "content": content, "schema_change": None,
        "source_partition": 0, "source_offset": lsn, "extras": None,
    }


def _events(n):
    # non-ASCII and CRLF content so the normalization has work to do
    return [
        ev(i, "insert", f"p{i % 7}", f"cafe\u0301 {i}\r\n" if i % 3 else f"v{i}")
        for i in range(n)
    ] + [ev(n, "delete", "p1")]


def _forbid(monkeypatch):
    def boom(*_a, **_k):
        raise AssertionError("a Python-worker hop on the CDC data path")

    monkeypatch.setattr(SparkSession, "createDataFrame", boom)
    monkeypatch.setattr(SparkContext, "parallelize", boom)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_cdc_paths_start_no_python_worker(spark, tmp_path, monkeypatch):
    log = str(tmp_path / "log")
    spark.createDataFrame(_events(40), EVENT_SCHEMA).write.parquet(log)
    empty = LakeTable.create(
        spark, str(tmp_path / "empty"),
        LakeSchema.from_names([("k", "int"), ("v", "string"), ("last_lsn", "long")]),
        key_cols=["k"], lsn_col="last_lsn", num_buckets=4,
    )

    # the derived batch the merge receives, captured as the apply loop hands it over
    sources = []
    real_merge = LakeTable.merge

    def capture(self, source, *a, **k):
        sources.append(source)
        return real_merge(self, source, *a, **k)

    monkeypatch.setattr(LakeTable, "merge", capture)
    _forbid(monkeypatch)

    for mode in ("cow", "mor"):
        eng = CdcEngine(spark, str(tmp_path / mode), num_buckets=4,
                        write_mode=mode)
        ms = eng.apply_log(spark.read.schema(EVENT_SCHEMA).parquet(log),
                           events_per_batch=1000)
        assert len(ms) == 1
        state = {(r["repo"], r["path"]): r for r in eng.final_state().collect()}
        assert set(state) == {("r", f"p{i}") for i in range(7) if i != 1}
        assert state[("r", "p2")]["content"] == "caf\u00e9 37\n"
        got = eng.table.lookup([("r", "p2"), ("r", "p1"), ("r", "nope")]).collect()
        assert [(r["path"], r["last_lsn"]) for r in got] == [("p2", 37)]
        mdf = eng.manifests_df().collect()
        assert [r["batch_id"] for r in mdf] == [m["batch_id"] for m in ms]

    assert len(sources) == 2
    for src in sources:
        plan = _plan(src)
        assert not any(node in plan for node in _PY_EVAL_NODES), plan

    assert empty.read().collect() == []
    assert empty.lookup([(1,), (2,)]).collect() == []
    assert CdcEngine(spark, str(tmp_path / "fresh")).manifests_df().collect() == []
