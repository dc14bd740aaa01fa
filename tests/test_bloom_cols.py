"""Parquet-native bloom filters on configured columns: executor-side
row-group skipping for point/IN predicates on high-cardinality columns
(commit hashes) whose per-file min/max range spans the whole domain — the
layer below manifest file skipping. The table config opts columns in once;
every writer (merge, compaction, z-order, DML rewrite) applies it.

pyarrow 16 cannot surface bloom offsets from footers, so presence is
asserted the way it manifests physically: byte-identical data written with
and without the config differs by the serialized filter's size.

The same table config carries generic parquet writer options; with no codec
named there, every lake writer compresses with zstd.
"""

import os

import pytest

from translator_ingests_spark.cdc import CdcEngine, EVENT_SCHEMA
from translator_ingests_spark.lake.maintenance import compact


def ev(lsn, op, repo=None, path=None, commit=None, lang=None, content=None):
    return {
        "lsn": lsn, "op": op, "repo": repo, "path": path, "commit": commit,
        "lang": lang, "content": content, "schema_change": None,
        "source_partition": 0, "source_offset": lsn, "extras": None,
    }


def seed(spark, root, **kw):
    eng = CdcEngine(spark, root, num_buckets=2, auto_compact_every=None, **kw)
    events = [
        ev(i, "insert", "r0", f"p{i}", f"{i:040x}", "py", f"v{i}")
        for i in range(200)
    ]
    eng.apply_log(spark.createDataFrame(events, EVENT_SCHEMA),
                  events_per_batch=1000)
    return eng


def data_bytes(snap):
    return sum(os.path.getsize(f["path"]) for f in snap.files)


def test_bloom_config_grows_files_and_point_reads_stay_correct(spark, tmp_path):
    plain = seed(spark, str(tmp_path / "plain"))
    bloom = seed(spark, str(tmp_path / "bloom"),
                 bloom_cols={"commit": 1000})
    delta = data_bytes(bloom.table.current()) - data_bytes(plain.table.current())
    # parquet-mr serializes ~13 bits/expected-value: >= 1 KiB per data file
    assert delta >= 1024 * len(bloom.table.current().files)
    target = f"{7:040x}"
    got = bloom.table.read().filter(f"commit = '{target}'").collect()
    assert len(got) == 1 and got[0]["path"] == "p7"


def test_bloom_survives_compaction_rewrite(spark, tmp_path):
    plain = seed(spark, str(tmp_path / "plain"))
    bloom = seed(spark, str(tmp_path / "bloom"), bloom_cols=["commit"])
    ps = compact(plain.table, target_files=1)
    bs = compact(bloom.table, target_files=1)
    assert data_bytes(bs) - data_bytes(ps) >= 1024
    assert bloom.table.read().count() == 200


def test_bloom_rejects_unknown_column(spark, tmp_path):
    with pytest.raises(ValueError):
        seed(spark, str(tmp_path / "bad"), bloom_cols=["nope"])


def codecs(snap):
    """Every column chunk's codec across ``snap``'s files, from footers."""
    import pyarrow.parquet as pq

    out = set()
    for f in snap.files:
        md = pq.ParquetFile(f["path"]).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            out.update(rg.column(c).compression for c in range(rg.num_columns))
    return out


def test_write_options_reach_every_writer(spark, tmp_path):
    # generic writer passthrough: a non-default codec applies to merge
    # writes AND maintenance rewrites, proven from the parquet footers
    eng = seed(spark, str(tmp_path / "z"),
               write_options={"parquet.compression": "gzip"})
    assert codecs(eng.table.current()) == {"GZIP"}
    assert codecs(compact(eng.table, target_files=1)) == {"GZIP"}
    assert eng.table.read().count() == 200


@pytest.mark.parametrize("key,codec", [
    ("parquet.compression", "snappy"),
    ("compression", "snappy"),
    ("Parquet.Compression", "gzip"),
])
def test_configured_codec_key_beats_default(spark, tmp_path, key, codec):
    # Spark ranks ``compression`` above ``parquet.compression``: a default
    # injected under ``compression`` would override either configured key
    eng = seed(spark, str(tmp_path / "t"), write_options={key: codec})
    assert codecs(eng.table.current()) == {codec.upper()}
    assert codecs(compact(eng.table, target_files=1)) == {codec.upper()}


def test_lake_files_default_to_zstd(spark, tmp_path):
    """Every lake writer defaults to zstd — COW merge, MOR delta commit,
    incremental compaction, DML rewrite and rebucket — and the codec changes
    no stored value: the final state equals a snappy table's, row for row."""
    from pyspark.sql import functions as F

    from translator_ingests_spark.cdc import generate_event_log
    from translator_ingests_spark.lake.dml import delete_where
    from translator_ingests_spark.lake.maintenance import (
        compact_incremental, rebucket,
    )

    log = generate_event_log(spark, 600, seed=5, n_repos=12,
                             paths_per_repo=8).cache()

    def cow(name, **kw):
        eng = CdcEngine(spark, str(tmp_path / name), num_buckets=4,
                        auto_compact_every=None, **kw)
        eng.apply_log(log, n_batches=2)
        return eng

    zs = cow("zstd")
    assert codecs(zs.table.current()) == {"ZSTD"}
    victim = zs.final_state().first()["repo"]
    dml = delete_where(zs.table, F.col("repo") == victim, at_lsn=10**9)
    assert dml.operation == "delete" and codecs(dml) == {"ZSTD"}
    assert codecs(rebucket(zs.table, 8)) == {"ZSTD"}

    sn = cow("snappy", write_options={"compression": "snappy"})
    delete_where(sn.table, F.col("repo") == victim, at_lsn=10**9)
    rebucket(sn.table, 8)
    assert codecs(sn.table.current()) == {"SNAPPY"}

    def rows(eng):
        return sorted(eng.final_state().collect(),
                      key=lambda r: (r["repo"], r["path"]))

    got = rows(zs)
    assert got and "content_sha256" in zs.final_state().columns
    assert got == rows(sn)

    mor = CdcEngine(spark, str(tmp_path / "mor"), num_buckets=4,
                    write_mode="mor", auto_compact_every=None)
    mor.apply_log(log, n_batches=2)
    deltas = [f for f in mor.table.current().files if f.get("delta")]
    assert deltas and codecs(mor.table.current()) == {"ZSTD"}
    assert codecs(compact_incremental(mor.table)) == {"ZSTD"}
    log.unpersist()
