"""CDC engine benchmark: one workload, one seed, one JSON result line.

    python3 cdcbench/run.py --workload bulk_replay --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout of the repository. The engine runs on one
``local[nproc]`` Spark session with ``spark.sql.shuffle.partitions = nproc``
and its constructor defaults except ``num_buckets`` and ``write_mode``; a
single client drives it in a closed loop through the public API: each unit
is one ``CdcEngine.apply_log`` call, issued after the previous one returned.

Set-up (untimed, reported as ``setup_s``): session start, log generation to
parquet and warm-up (the untimed leading units, or one untimed replay). The
timed phase runs rounds (a unit, or a replay of every unit) until both
``--seconds`` have passed and the workload's minimum round count is reached;
a workload of single units also ends when its units run out. After it come
the read phase (lookups and ``FULL_READS`` full reads) and the final-state
check, which recomputes the expected state from the log on its own
(``check.py``). A failed check counts as a failed operation.

``--trace 0`` prints the end-to-end metrics as the last line; the line
before it holds the timed phase's wall-clock and CPU figures (throughput,
CPU seconds per million events, unit, lookup and read latencies, with every
sample), the input properties, phase times and host facts. ``--trace 1`` runs the same workload with every other round traced
(``trace.py``), adds the reduce and content probes and prints the per-layer
metrics of ``layers.py``; the spans are written to ``.cdcbench/traces/``.
Every figure measured here is from the host it ran on: results from
different hosts are not comparable.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FULL_READS = 3  # full reads after the timed phase; full_read_s is their median


def _quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) == 1:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[1], q[2]


class Ops:
    """Attempted and failed operations: units, lookups, reads, the check."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, name, fn, *args, **kwargs) -> tuple[bool, object]:
        self.attempted += 1
        try:
            return True, fn(*args, **kwargs)
        except Exception as err:  # a raising op is a failed op; the run goes on
            self.failed += 1
            self.errors.append(f"{name}: {type(err).__name__}: {err}"[:500])
            return False, None

    def verdict(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{name}: {detail}"[:500])


class Bench:
    def __init__(self, args, work: str):
        from cdcbench.workloads import WORKLOADS

        self.args = args
        self.w = WORKLOADS[args.workload]
        self.work = work
        self.log_dir = os.path.join(work, "log")
        self.ops = Ops()
        self.tracer = None
        self.phases: dict[str, float] = {}  # seconds per phase, for the record
        self.unit_s: list[float] = []  # every timed unit, traced or not
        self.unit_traced: list[bool] = []
        self.unit_round: list[int] = []
        self.unit_events: list[int] = []
        self.unit_cpu_s = 0.0
        self.lookup_s: list[float] = []
        self.lookups: list[tuple[int, list[tuple], object]] = []  # (unit, keys, rows)
        self.applied_units: list[int] = []
        self.n_lookups = 0
        self.written = 0
        self.rounds = 0

    # -- session ---------------------------------------------------------------
    def start_session(self):
        from cdcbench.measure import nproc
        from translator_ingests_spark.session import get_spark

        cores = nproc()
        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        self.spark = get_spark(
            "cdcbench", cores=cores, shuffle_partitions=cores,
            extra_conf={
                "spark.local.dir": local,
                # a fixed heap: a heap that grows on demand makes peak RSS
                # follow the collector's sizing choices from run to run
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -Xms2g",
                "spark.driver.memory": "2g",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.cores = cores

    def stop_session(self):
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()

    # -- engine calls ------------------------------------------------------------
    def engine(self, root: str):
        from translator_ingests_spark.cdc.apply import CdcEngine

        return CdcEngine(self.spark, root, num_buckets=self.w.num_buckets,
                         write_mode=self.w.write_mode)

    def apply_unit(self, eng, unit: int) -> None:
        from cdcbench.workloads import unit_df

        df = unit_df(self.spark, self.log_dir, unit)
        # unit LSN ranges are aligned to their size, so one call is one batch
        eng.apply_log(df, n_batches=1, total_events=self.w.size(unit))

    def lookup(self, eng, keys: list[tuple]):
        return eng.table.lookup(keys).collect()

    def full_read(self, eng) -> None:
        eng.final_state().write.format("noop").mode("overwrite").save()


    def _span(self, traced: bool, name: str):
        from contextlib import nullcontext

        return self.tracer.span(name) if traced else nullcontext()

    # -- set-up ----------------------------------------------------------------
    def prepare(self):
        from cdcbench.check import lookup_keys
        from cdcbench.workloads import write_logs

        w, seed = self.w, self.args.seed
        t = time.perf_counter()
        write_logs(self.spark, w, seed, self.log_dir, self.cores)
        self.phases["generate_s"] = time.perf_counter() - t

        t = time.perf_counter()
        # every lookup takes 5 keys of one unit and 5 of the base pool: the
        # warm-up units, else every unit
        base = list(range(w.warmup_units)) or list(range(len(w.units)))
        per_unit = 5 * w.read_phase_lookups if w.replay else 5
        want = {u: per_unit for u in range(len(w.units))}
        want.update({u: 5 * (len(w.units) + w.read_phase_lookups) for u in base})
        self.keys = lookup_keys(self.log_dir, seed, want)
        self.base_keys = [k for u in base for k in self.keys[u]]
        self.phases["lookup_keys_s"] = time.perf_counter() - t

        t = time.perf_counter()
        if w.replay:
            # warm the JVM and the Python workers with one untimed replay of
            # every unit; the timed rounds each replay into a fresh table
            eng = self.engine(os.path.join(self.work, "warm-table"))
            for u in range(len(w.units)):
                self.apply_unit(eng, u)
            self.warm_reads(eng)
            shutil.rmtree(eng.root)
            self.eng = None
            self.next_unit = 0
        else:
            self.eng = self.engine(os.path.join(self.work, "table"))
            for u in range(w.warmup_units):
                self.apply_unit(self.eng, u)
                self.applied_units.append(u)
            self.warm_reads(self.eng)
            self.next_unit = w.warmup_units
        self.phases["warmup_s"] = time.perf_counter() - t

    def warm_reads(self, eng) -> None:
        """Run the read phase's operations untimed: lookups and full reads
        are latency-bound, and their first calls in a JVM are the slowest."""
        self.lookup(eng, self.base_keys[-10:])
        self.full_read(eng)

    def _lookup_keys(self, unit: int, j: int = 0) -> list[tuple]:
        """Keys ``j..j+4`` of ``unit`` and the next 5 of the base pool."""
        i = 5 * self.n_lookups % max(len(self.base_keys) - 4, 1)
        self.n_lookups += 1
        return self.keys[unit][j:j + 5] + self.base_keys[i:i + 5]

    # -- timed phase -------------------------------------------------------------
    def timed_unit(self, eng, unit: int, traced: bool) -> None:
        from cdcbench.measure import tree_cpu_s

        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        with self._span(traced, "op.unit"):
            ok, _ = self.ops.run(f"unit {unit}", self.apply_unit, eng, unit)
        dt = time.perf_counter() - t0
        self.unit_cpu_s += tree_cpu_s() - c0
        if not ok:
            return
        self.unit_s.append(dt)
        self.unit_round.append(self.rounds)
        self.unit_traced.append(traced)
        self.unit_events.append(self.w.size(unit))

    def timed_lookup(self, eng, unit: int, keys: list[tuple], traced: bool) -> None:
        t0 = time.perf_counter()
        with self._span(traced, "op.lookup"):
            ok, rows = self.ops.run(f"lookup after unit {unit}", self.lookup, eng, keys)
        if ok:
            self.lookup_s.append(time.perf_counter() - t0)
            self.lookups.append((unit, keys, rows))

    def run_rounds(self):
        from cdcbench.measure import PeakRss, bytes_written, file_sizes

        w, args = self.w, self.args
        trace = bool(args.trace)
        # traced runs alternate untraced and traced rounds; round 0 is left
        # out of the overhead comparison (it runs in the least warm JVM)
        min_rounds = max(w.min_rounds, 3 if trace and w.replay else 0)
        t_start = time.perf_counter()
        with PeakRss() as rss:
            while True:
                done = self.rounds >= min_rounds and time.perf_counter() - t_start >= args.seconds
                if done or (not w.replay and self.next_unit >= len(w.units)):
                    break
                traced = trace and self.rounds % 2 == 1
                if traced:
                    self._install_wrappers()
                if w.replay:
                    root = os.path.join(self.work, f"table-{self.rounds}")
                    if self.eng is not None:
                        shutil.rmtree(self.eng.root)
                    self.eng = self.engine(root)
                    for u in range(len(w.units)):
                        self.timed_unit(self.eng, u, traced)
                    # every replay writes the same files; write_amp counts one
                    self.written = bytes_written({}, file_sizes(root))
                    self.applied_units = list(range(len(w.units)))
                else:
                    u = self.next_unit
                    before = file_sizes(self.eng.root)
                    self.timed_unit(self.eng, u, traced)
                    self.written += bytes_written(before, file_sizes(self.eng.root))
                    self.applied_units.append(u)
                    self.next_unit += 1
                    if w.lookup_every_unit:
                        self.timed_lookup(self.eng, u, self._lookup_keys(u), traced)
                if traced:
                    self.tracer.unwrap_all()
                    self.tracer.resolve()
                self.rounds += 1
        self.peak_rss = rss.peak
        self.timed_s = time.perf_counter() - t_start

    def _install_wrappers(self):
        from translator_ingests_spark.cdc.apply import CdcEngine
        from translator_ingests_spark.lake.table import LakeTable

        tr = self.tracer
        tr.wrap(CdcEngine, "apply_log", "CdcEngine.apply_log")
        tr.wrap(CdcEngine, "manifests", "CdcEngine.manifests")
        for m in ("head", "merge", "commit_rebase", "lookup", "read"):
            tr.wrap(LakeTable, m, f"LakeTable.{m}")

    # -- after the timed phase -----------------------------------------------------
    def read_phase(self):
        trace = bool(self.args.trace)
        if trace:
            self._install_wrappers()
        last = self.applied_units[-1]
        timed = [u for u in self.applied_units if u >= self.w.warmup_units]
        for i in range(self.w.read_phase_lookups):
            keys = self._lookup_keys(timed[i % len(timed)], 5 * (i // len(timed)))
            self.timed_lookup(self.eng, last, keys, trace)
        reads = []
        for _ in range(FULL_READS):
            t0 = time.perf_counter()
            with self._span(trace, "op.full_read"):
                ok, _ = self.ops.run("full read", self.full_read, self.eng)
            if ok:
                reads.append(time.perf_counter() - t0)
        self.read_s = reads
        self.full_read_s = statistics.median(reads) if reads else None
        if trace:
            self.tracer.unwrap_all()
            self.tracer.resolve()

    def probes(self) -> dict:
        """Reduce and content probes on the first timed unit, each to a noop
        sink."""
        from pyspark.sql import functions as F

        from cdcbench.workloads import KEYS, unit_df
        from translator_ingests_spark.cdc.reduce import lww_reduce
        from translator_ingests_spark.functions.content import (
            content_digest,
            normalize_content,
        )

        batch = unit_df(self.spark, self.log_dir, self.w.warmup_units).filter(
            F.col("op").isin("insert", "update", "delete")
            & F.col("repo").isNotNull() & F.col("path").isNotNull()
        ).persist()
        events_in = batch.count()
        reduced = lww_reduce(batch, keys=KEYS)
        with self.tracer.span("probe.reduce"):
            reduced.write.format("noop").mode("overwrite").save()
        reduced = reduced.persist()
        rows_out = reduced.count()
        nonascii = reduced.filter(F.col("content").rlike("[^\\x00-\\x7F]")).count()
        norm = F.when(F.col("op") != "delete", normalize_content(F.col("content")))
        derived = reduced.select(norm.alias("content")).select(
            "content", content_digest(F.col("content")).alias("content_sha256"))
        with self.tracer.span("probe.content"):
            derived.write.format("noop").mode("overwrite").save()
        self.tracer.resolve()
        reduced.unpersist()
        batch.unpersist()
        return {"probe_events_in": events_in, "probe_rows_out": rows_out,
                "probe_nonascii_rows": nonascii}

    def check(self) -> dict:
        from cdcbench import check

        t = time.perf_counter()
        keyed = check.per_key(check.load_events(self.log_dir, self.applied_units))
        expected = check.expected_rows(keyed, self.applied_units[-1])
        self.phases["check_expected_s"] = time.perf_counter() - t
        t = time.perf_counter()
        ok, got = self.ops.run("final-state read", check.visible_rows, self.eng.final_state())
        self.phases["check_state_s"] = time.perf_counter() - t
        bad = check.mismatches(expected, *got) if ok else None
        self.ops.verdict("final-state check", bad == 0,
                         f"{bad} keys differ from the expected state")
        # every lookup against the expected state as of the unit before it
        for unit, keys, rows in self.lookups:
            want = check.expected_rows(keyed, unit, keys)
            got = {(r["repo"], r["path"]): (r["commit"], r["lang"], r["content"],
                                            r["content_sha256"], r["last_lsn"])
                   for r in rows}
            bad = check.mismatches(want, got, len(rows))
            self.ops.verdict(f"lookup after unit {unit}", bad == 0,
                             f"{bad} of {len(keys)} keys differ")
        timed = [u for u in self.applied_units if u >= self.w.warmup_units]
        props = check.properties(keyed, timed)
        props["buckets_touched_per_unit"] = check.buckets_touched(
            self.spark, self.log_dir, timed, self.w.num_buckets)
        props["visible_bytes"] = check.visible_bytes(expected)
        props["visible_rows"] = len(expected)
        return props


def _remove_stale_work(base: str) -> None:
    """Delete work directories left by runs whose process is gone."""
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        if name.startswith("work-"):
            pid = int(name.rsplit("-", 1)[1])
            if not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "translator_ingests_spark", "__init__.py")):
        print(f"cdcbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from cdcbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"cdcbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    from cdcbench.measure import cpu_ticks, file_sizes, host_facts, write_json

    t_setup = time.perf_counter()
    start_s = t_setup - T_START
    base = os.path.join(ROOT, ".cdcbench")
    _remove_stale_work(base)
    work = os.path.join(base, f"work-{args.workload}-{os.getpid()}")
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every scratch file of Spark, the JVM and Python inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    facts = host_facts(ROOT)
    ticks0 = cpu_ticks()
    b = Bench(args, work)
    try:
        t = time.perf_counter()
        b.start_session()
        b.phases["session_s"] = time.perf_counter() - t
        if args.trace:
            from cdcbench.trace import Tracer

            from translator_ingests_spark.lake import maintenance

            b.tracer = Tracer(b.spark, f"cdcbench-{os.getpid()}")
            # auto-compaction is counted over every unit the table takes,
            # warm-up included: its cadence spans the whole unit sequence
            b.tracer.wrap(maintenance, "compact_incremental",
                          "maintenance.compact_incremental", persistent=True)
        b.prepare()
        setup_s = time.perf_counter() - t_setup
        b.run_rounds()
        t = time.perf_counter()
        b.read_phase()
        b.phases["read_phase_s"] = time.perf_counter() - t
        t = time.perf_counter()
        extra = b.probes() if args.trace else {}
        if args.trace:
            b.tracer.unwrap_all(persistent=True)
            b.tracer.resolve()
        b.phases["probes_s"] = time.perf_counter() - t
        t = time.perf_counter()
        props = b.check()
        b.phases["check_s"] = time.perf_counter() - t
        facts["spark_conf"] = dict(b.spark.sparkContext.getConf().getAll())
        from translator_ingests_spark.cdc.apply import compute_code_hash

        facts["engine_code_hash"] = compute_code_hash()
        lake_bytes = sum(file_sizes(b.eng.root).values())
        head = b.eng.table.head()
        live_files = len(head.files)
        delta_files = sum(1 for f in head.files if f.get("delta"))
    finally:
        t = time.perf_counter()
        if hasattr(b, "spark"):
            b.stop_session()
        shutil.rmtree(work, ignore_errors=True)
        b.phases["stop_s"] = time.perf_counter() - t
    facts["loadavg_end"] = os.getloadavg()
    ticks1 = cpu_ticks()
    facts["cpu_steal_frac"] = (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)

    untraced = [i for i, tr in enumerate(b.unit_traced) if not tr]
    events = sum(b.unit_events[i] for i in untraced)
    apply_s = sum(b.unit_s[i] for i in untraced)
    eps = events / apply_s
    u50, u75 = _quartiles([b.unit_s[i] for i in untraced])
    l50, l75 = _quartiles(b.lookup_s) if b.lookup_s else (None, None)
    ok_frac = (b.ops.attempted - b.ops.failed) / b.ops.attempted
    # the end-to-end metrics of BENCHMARK.json. The timed phase's wall-clock
    # and CPU times are not among them: on a shared host other tenants' load
    # moves both by more than any bound from run to run. They are reported
    # below, in the info line, with every sample
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "write_amp": (b.written / props["user_bytes"], "ratio"),
        "space_amp": (lake_bytes / props["visible_bytes"], "ratio"),
        "peak_rss_mb": (b.peak_rss / 2**20, "MiB"),
        "ok_ops_frac": (ok_frac, "ratio"),
    }
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": facts, "inputs": props, "phases_s": {"start_s": start_s, **b.phases},
        "timed_figures": {k: {"value": v, "unit": u} for k, (v, u) in {
            "apply_events_per_s": (eps, "events/s"),
            "cpu_s_per_mevent": (b.unit_cpu_s / (sum(b.unit_events) / 1e6), "s/Mevent"),
            "unit_latency_p50_s": (u50, "s"), "unit_latency_p75_s": (u75, "s"),
            "lookup_latency_p50_s": (l50, "s"), "lookup_latency_p75_s": (l75, "s"),
            "full_read_s": (b.full_read_s, "s"),
        }.items()},
        "timed": {"seconds": b.timed_s, "rounds": b.rounds, "units": len(b.unit_s),
                  "traced_units": sum(b.unit_traced), "lookups": len(b.lookup_s),
                  "failed_ops_frac": 1 - ok_frac, "errors": b.ops.errors,
                  "unit_s": b.unit_s, "lookup_s": b.lookup_s, "full_read_s": b.read_s},
    }
    if args.trace:
        from cdcbench.layers import LAYER_METRICS, derive

        traced = [i for i, tr in enumerate(b.unit_traced) if tr]

        def rate(idx):
            idx = [i for i in idx if b.unit_round[i] > 0]
            return sum(b.unit_events[i] for i in idx) / sum(b.unit_s[i] for i in idx)

        extra.update(live_files=live_files, delta_files=delta_files,
                     overhead_frac=1 - rate(traced) / rate(untraced))
        layer = derive(b.tracer.spans, units=len(traced), extra=extra)
        metrics = {k: {"value": v, "unit": LAYER_METRICS[k][0]} for k, v in layer.items()}
        trace_file = os.path.join(
            base, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        write_json(trace_file, {"info": info, "spans": b.tracer.spans})
        info["trace_file"] = os.path.relpath(trace_file, ROOT)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    print(json.dumps(info, default=str))
    print(json.dumps({"correct": b.ops.failed == 0, "attempted": b.ops.attempted,
                      "failed": b.ops.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
