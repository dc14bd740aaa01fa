"""Sustained-contention soak: a steady apply loop vs a concurrent
maintenance loop (incremental compaction + periodic full OPTIMIZE) vs
periodic predicate DML, ~100 commits, all through the one commit fence.

What must hold (the round-4 VERDICT's "sustained contention" ask):

- **no starvation**: every writer finishes all its operations; the number
  of fence losses that escalate to a full recompute (the expensive path —
  ``ConcurrentModificationError``) stays bounded, and no single operation
  burns more than a handful of attempts. Disjoint losses rebase inside
  ``commit_rebase`` silently — only OVERLAPPING races surface here.
- **no lost updates**: the final table state is byte-identical to a pure
  Python oracle that replays the apply events (LWW per key) and the DML
  sequence — a compaction or DML commit that ever spliced over a merge's
  rows, or vice versa, shows up as a wrong/missing row.

Determinism under real thread interleaving: the apply loop and the DML
sequence operate on DISJOINT key ranges (``app/…`` vs ``dml/…`` repos —
which still SHARE hash buckets, so their file rewrites do physically
collide at the commit fence), and maintenance ops never change content.
The final state is therefore independent of the interleaving while the
fence/rebase machinery is exercised by every commit.

Real threads against one SparkSession (Spark schedules concurrent jobs
from multiple driver threads; the fence is an exclusive file create, so
thread concurrency is exactly process concurrency here).
"""

from __future__ import annotations

import threading
import time

from pyspark.sql import functions as F

from translator_ingests_spark.cdc import EVENT_SCHEMA, CdcEngine
from translator_ingests_spark.lake import maintenance
from translator_ingests_spark.lake.dml import delete_where, update_where
from translator_ingests_spark.lake.table import (
    ConcurrentModificationError,
    LakeTable,
)

N_UNITS = 80            # apply commits; + DML + compaction ≈ 100+ total
EVENTS_PER_UNIT = 400
N_APP_KEYS = 40
N_DML_KEYS = 12
N_DML_OPS = 10


def _ev(lsn: int, op: str, repo: str, path: str, content: str | None):
    return {
        "lsn": lsn, "op": op, "repo": repo, "path": path, "commit": f"c{lsn}",
        "lang": "py", "content": content, "schema_change": None,
        "source_partition": 0, "source_offset": lsn, "extras": None,
    }


def _app_events(unit: int) -> list[dict]:
    # lsn ranges are EVENTS_PER_UNIT-aligned so each unit is exactly one
    # batch id under apply_log's floor(lsn/per) assignment, strictly above
    # the seed unit's lsns (the watermark guard rejects at/below), and
    # batch ids stay monotone across the 80 sequential apply_log calls
    lo = (unit + 3) * EVENTS_PER_UNIT
    out = []
    for lsn in range(lo, lo + EVENTS_PER_UNIT):
        k = lsn % N_APP_KEYS
        op = "delete" if lsn % 17 == 0 else ("update" if lsn % 2 else "insert")
        out.append(_ev(lsn, op, f"app/r{k % 5}", f"f{k}.py",
                       None if op == "delete" else f"v{lsn}"))
    return out


def _oracle_app() -> dict:
    last: dict[tuple, int] = {}
    for u in range(N_UNITS):
        for e in _app_events(u):
            key = (e["repo"], e["path"])
            if key not in last or e["lsn"] > last[key]:
                last[key] = e["lsn"]
    out = {}
    for key, lsn in last.items():
        if lsn % 17 != 0:  # LWW winner is not a delete
            out[key] = (f"v{lsn}", "py")
    return out


def test_soak_apply_vs_optimize_vs_dml(spark, tmp_path):
    root = str(tmp_path / "t")
    eng = CdcEngine(spark, root, num_buckets=32, auto_compact_every=None)
    # seed the DML keyspace through the engine (one extra commit)
    seed = [_ev(i, "insert", f"dml/r{i % 3}", f"g{i}.py", f"d{i}")
            for i in range(N_DML_KEYS)]
    eng.apply_log(spark.createDataFrame(seed, EVENT_SCHEMA), n_batches=1)

    stats = {"apply_cme": 0, "maint_cme": 0, "dml_cme": 0,
             "maint_ops": 0, "apply_fail": 0}
    lock = threading.Lock()
    done = threading.Event()
    errors: list[BaseException] = []

    def count(key: str) -> None:
        with lock:
            stats[key] += 1

    def apply_loop() -> None:
        try:
            for u in range(N_UNITS):
                df = spark.createDataFrame(_app_events(u), EVENT_SCHEMA)
                for attempt in range(6):
                    try:
                        eng.apply_log(df, n_batches=1,
                                      total_events=EVENTS_PER_UNIT,
                                      cache_log=False)
                        break
                    except ConcurrentModificationError:
                        # 3 consecutive overlap losses inside
                        # _merge_with_retry: re-run the unit (idempotent —
                        # no checkpoint was written for the failed unit)
                        count("apply_fail")
                        time.sleep(0.3 * (attempt + 1))
                else:
                    raise AssertionError(f"unit {u} starved (6 re-runs)")
                # micro-batch cadence: a production loop has think time
                # between units (poll + reduce of the NEXT batch); without
                # any gap no concurrent writer can ever win a fence window
                time.sleep(0.1)
        except BaseException as exc:  # surface into the main thread
            errors.append(exc)
        finally:
            done.set()

    def maint_loop() -> None:
        t = LakeTable(spark, eng.table.root)  # independent handle
        i = 0
        try:
            while not done.is_set():
                try:
                    if i % 8 == 7:
                        # the "minutes-long OPTIMIZE" analog: full rewrite
                        maintenance.compact(t, drop_tombstones=True)
                    else:
                        maintenance.compact_incremental(t)
                    count("maint_ops")
                except ConcurrentModificationError:
                    count("maint_cme")  # recompute next iteration
                i += 1
                # duty-cycled cadence (a maintenance job that recompacts
                # the same hot buckets back-to-back at job frequency would
                # be a misconfiguration on any lakehouse, not a soak)
                time.sleep(0.4)
        except BaseException as exc:
            errors.append(exc)

    def dml_loop() -> None:
        t = LakeTable(spark, eng.table.root)
        try:
            for i in range(N_DML_OPS):
                for attempt in range(8):
                    try:
                        if i % 3 == 2:
                            delete_where(
                                t, F.col("path") == f"g{i}.py",
                                at_lsn=10_000_000 + i,
                                preds=[("repo", ">=", "dml/")],
                            )
                        else:
                            update_where(
                                t, F.col("repo").startswith("dml/")
                                & (F.col("path") > f"g{i}.py"),
                                {"lang": F.lit(f"u{i}")},
                                at_lsn=10_000_000 + i,
                            )
                        break
                    except ConcurrentModificationError:
                        count("dml_cme")
                        time.sleep(0.3 * (attempt + 1))  # yield a merge window
                else:
                    raise AssertionError(f"dml op {i} starved (8 attempts)")
                time.sleep(0.2)
        except BaseException as exc:
            errors.append(exc)

    threads = [threading.Thread(target=f, name=n)
               for f, n in ((apply_loop, "apply"), (maint_loop, "maint"),
                            (dml_loop, "dml"))]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=1800)
        assert not th.is_alive(), f"{th.name} thread hung"
    assert not errors, f"soak thread failed: {errors[0]!r}"

    # -- no starvation: bounded escalations, real contention happened ------
    head = eng.table.head()
    assert head.version >= 100, f"only {head.version} commits"
    assert stats["maint_ops"] >= 5, "maintenance never landed a commit"
    # every expensive recompute is bounded per op (asserted in-loop) and
    # in aggregate: escalations must stay well below one per commit
    assert stats["apply_fail"] <= N_UNITS // 4
    assert stats["dml_cme"] <= N_DML_OPS * 4
    assert stats["maint_cme"] <= stats["maint_ops"] + 20

    # -- no lost updates: byte-identical final state vs the oracle ---------
    expected = _oracle_app()
    dml_state = {(f"dml/r{k % 3}", f"g{k}.py"): (f"d{k}", "py")
                 for k in range(N_DML_KEYS)}
    for i in range(N_DML_OPS):  # replay the DML sequence (thread order)
        if i % 3 == 2:
            dml_state.pop((f"dml/r{i % 3}", f"g{i}.py"), None)
        else:
            for key in list(dml_state):
                if key[1] > f"g{i}.py":
                    dml_state[key] = (dml_state[key][0], f"u{i}")
    expected.update(dml_state)

    got = {(r["repo"], r["path"]): (r["content"], r["lang"])
           for r in eng.table.read().collect()}  # bounded-collect: soak-test verification, table is a few hundred rows
    assert got == expected
