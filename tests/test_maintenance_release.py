"""Lake maintenance (snapshot expiry, compaction) and release publishing,
plus the driver-plane control utilities (version resolution, URL
templating, build-version hashing)."""

import json
import os
import tarfile

import pytest
from lake_fixtures import merge_by_bucket_range

from translator_ingests_spark.lake import LakeSchema, LakeTable
from translator_ingests_spark.lake.maintenance import compact, expire_snapshots
from translator_ingests_spark.lake.release import (
    export_release,
    open_release,
    read_latest_release,
    zstd_available,
)
from translator_ingests_spark.sources.control_plane import (
    VersionResolver,
    build_version,
    parse_autoindex_latest,
    substitute_all,
)

SCHEMA = LakeSchema.from_names(
    [("repo", "string"), ("path", "string"), ("content", "string"), ("last_lsn", "long")]
)


def _table_with_history(spark, root, n_batches=4, per_bucket=False):
    """``per_bucket``: commit each batch as one merge per bucket, so the
    table keeps a file per bucket instead of one small file."""
    t = LakeTable.create(spark, root, SCHEMA, ["repo", "path"], "last_lsn", 4)
    nxt = 0
    for b in range(n_batches):
        rows = [(f"r{i}", f"p{i}", f"v{b}", "insert" if b == 0 else "update",
                 b * 100 + i) for i in range(20)]
        df = spark.createDataFrame(
            rows, "repo string, path string, content string, op string, lsn long"
        )
        if per_bucket:
            nxt = merge_by_bucket_range(t, df, 4, nxt)
        else:
            t.merge(df, b)
    return t


def test_expire_snapshots_gc(spark, tmp_path):
    t = _table_with_history(spark, str(tmp_path / "t"))
    assert len(t.history()) == 5
    before = sum(
        len(files) for _, _, files in os.walk(os.path.join(t.root, "data"))
    )
    res = expire_snapshots(t, keep_last=2)
    assert res["snapshots_removed"] == 3 and res["files_removed"] > 0
    after = sum(len(files) for _, _, files in os.walk(os.path.join(t.root, "data")))
    assert after < before
    # current state still fully readable
    assert t.read().count() == 20
    assert {r["content"] for r in t.read().collect()} == {"v3"}


def test_compact_reduces_files_same_state(spark, tmp_path):
    t = _table_with_history(spark, str(tmp_path / "t"), n_batches=2,
                            per_bucket=True)
    state_before = {(r["repo"], r["path"]): r["content"] for r in t.read().collect()}
    n_files_before = len(t.current().files)
    compact(t, target_files=2)
    assert len(t.current().files) <= 2 < n_files_before
    state_after = {(r["repo"], r["path"]): r["content"] for r in t.read().collect()}
    assert state_after == state_before
    # merges still work post-compaction
    t.merge(
        spark.createDataFrame(
            [("r1", "p1", "vX", "update", 10_000)],
            "repo string, path string, content string, op string, lsn long",
        ),
        99,
    )
    assert {r["content"] for r in t.read().filter("repo='r1'").collect()} == {"vX"}


@pytest.mark.parametrize("compression", ["gz", "zstd"])
def test_export_release_atomic_publish(spark, tmp_path, compression):
    if compression == "zstd" and not zstd_available():
        pytest.skip("no zstd binary on PATH")
    t = _table_with_history(spark, str(tmp_path / "t"), n_batches=2)
    releases = str(tmp_path / "releases")
    rel_dir = export_release(t, releases, compression=compression)
    latest = read_latest_release(releases)
    assert latest["version"] == t.current().version
    assert latest["release_dir"] == rel_dir
    ext = "zst" if compression == "zstd" else "gz"
    assert latest["archive"].endswith(f"state.tar.{ext}")
    with open_release(latest["archive"]) as tf:
        names = tf.getnames()
        assert "snapshot.json" in names
        assert any(n.startswith("data/") for n in names)
        manifest = json.load(tf.extractfile("snapshot.json"))
        assert manifest["version"] == t.current().version


def test_export_release_recodec_removes_stale_sibling(spark, tmp_path):
    """Re-exporting the SAME snapshot under a different codec must leave
    exactly one archive in the release dir — a directory-scanning consumer
    can never pick up the superseded sibling."""
    if not zstd_available():
        pytest.skip("no zstd binary on PATH")
    t = _table_with_history(spark, str(tmp_path / "t"), n_batches=2)
    releases = str(tmp_path / "releases")
    rel_dir = export_release(t, releases, compression="gz")
    assert os.path.exists(os.path.join(rel_dir, "state.tar.gz"))
    rel_dir2 = export_release(t, releases, compression="zstd")
    assert rel_dir2 == rel_dir
    assert os.path.exists(os.path.join(rel_dir, "state.tar.zst"))
    assert not os.path.exists(os.path.join(rel_dir, "state.tar.gz"))
    latest = read_latest_release(releases)
    assert latest["archive"].endswith("state.tar.zst")
    with open_release(latest["archive"]) as tf:
        assert "snapshot.json" in tf.getnames()


def test_version_resolver_fallback(tmp_path):
    vr = VersionResolver(str(tmp_path / "state"))
    v, fb = vr.resolve("ctd", probe=lambda: "2026-07-01")
    assert (v, fb) == ("2026-07-01", False)
    vr.record_success("ctd", v)

    def failing_probe():
        raise ConnectionError("network down")

    v2, fb2 = vr.resolve("ctd", probe=failing_probe)
    assert (v2, fb2) == ("2026-07-01", True)
    with pytest.raises(ConnectionError):
        vr.resolve("never-built", probe=failing_probe)


def test_autoindex_parse_and_url_template():
    html = '<a href="2026-05-01/">x</a> <a href="2026-07-15/">y</a>'
    assert parse_autoindex_latest(html) == "2026-07-15"
    urls = substitute_all(
        ["http://host/{version}/a.tsv", "http://host/{version}/b.tsv"], "2026-07-15"
    )
    assert urls == ["http://host/2026-07-15/a.tsv", "http://host/2026-07-15/b.tsv"]


def test_build_version_stable_hash():
    a = build_version({"source": "1.2", "code": "abc", "normalizer": "9"})
    b = build_version({"normalizer": "9", "code": "abc", "source": "1.2"})
    assert a == b and len(a) == 12
    assert a != build_version({"source": "1.3", "code": "abc", "normalizer": "9"})


def test_execute_fetch_plan_file_urls(tmp_path):
    """S1 download execution: the substituted fetch plan streams through the
    real urllib path (file:// here — this sandbox has no network; http(s)
    uses the same opener), with atomic placement, sha256 sidecars, and
    idempotent re-runs."""
    import hashlib as _h

    from translator_ingests_spark.sources.control_plane import (
        execute_fetch_plan,
        substitute_all,
    )

    src_dir = tmp_path / "remote" / "2024-01-02"
    src_dir.mkdir(parents=True)
    (src_dir / "nodes.tsv").write_bytes(b"id\tname\n1\ta\n")
    (src_dir / "edges.tsv").write_bytes(b"s\to\n1\t2\n")

    plan = substitute_all(
        [f"file://{tmp_path}/remote/{{version}}/nodes.tsv",
         f"file://{tmp_path}/remote/{{version}}/edges.tsv"],
        "2024-01-02",
    )
    staging = str(tmp_path / "staging")
    got = execute_fetch_plan(plan, staging)
    assert [g["skipped"] for g in got] == [False, False]
    assert got[0]["sha256"] == _h.sha256(b"id\tname\n1\ta\n").hexdigest()
    assert open(f"{staging}/nodes.tsv", "rb").read() == b"id\tname\n1\ta\n"

    # idempotent re-run: digests match → both skipped, bytes untouched
    again = execute_fetch_plan(plan, staging)
    assert [g["skipped"] for g in again] == [True, True]

    # corrupted staging file → digest mismatch → re-fetched
    open(f"{staging}/nodes.tsv", "wb").write(b"tampered")
    healed = execute_fetch_plan(plan, staging)
    assert healed[0]["skipped"] is False
    assert open(f"{staging}/nodes.tsv", "rb").read() == b"id\tname\n1\ta\n"
