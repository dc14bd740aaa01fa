"""Per-layer metrics derived from a traced run's spans.

``LAYER_METRICS`` lists every per-layer metric with its unit, its direction
and the end-to-end figures and workloads it is expected to move. A later
change that claims a gain on a layer names its claim against this table.
The timed-phase figures named here (``apply_events_per_s``,
``cpu_s_per_mevent``, the latencies, ``full_read_s``) are in the untraced
run's info line, not in its metrics.

Span names are the wrapped public functions (``CdcEngine.apply_log``,
``LakeTable.merge``, ...) plus the benchmark's own operations: ``op.unit``
(one ``apply_log`` call as the client sees it), ``op.lookup`` (a 10-key
``LakeTable.lookup`` and the collection of its rows), ``op.full_read`` (the
visible state read to a no-op sink) and the two probes ``probe.reduce`` and
``probe.content``. Per-call figures are medians over the traced calls.
"""

from __future__ import annotations

import statistics

TAILS = ["mor_mixed"]
ALL = ["bulk_replay", "mor_mixed"]

# name -> (unit, better, moves end-to-end metrics, on workloads, meaning)
LAYER_METRICS: dict[str, tuple[str, str, list[str], list[str], str]] = {
    "cdc.apply.self_s": ("s", "lower", ["unit_latency_p50_s"], TAILS,
        "apply_log time not covered by a child span (planning, meta collect, manifests)"),
    "cdc.apply.jobs_per_unit": ("count", "lower", ["unit_latency_p50_s"], TAILS,
        "Spark jobs launched per committed unit, children included"),
    "cdc.apply.manifests_s": ("s", "lower", ["unit_latency_p50_s"], TAILS,
        "CdcEngine.manifests per call: reads every checkpoint manifest so far"),
    "cdc.reduce.wall_s": ("s", "lower", ["apply_events_per_s", "cpu_s_per_mevent"],
        ["bulk_replay"], "probe: lww_reduce with its defaults on one batch, noop sink"),
    "cdc.reduce.exchanges": ("count", "lower", ["apply_events_per_s"], ["bulk_replay"],
        "probe: shuffle-writing stages of the reduce"),
    "cdc.reduce.shuffle_write_bytes": ("bytes", "lower", ["apply_events_per_s"],
        ["bulk_replay"], "probe: bytes the reduce shuffled"),
    "cdc.reduce.spill_bytes": ("bytes", "lower", ["apply_events_per_s"], ["bulk_replay"],
        "probe: bytes the reduce spilled to disk"),
    "cdc.reduce.task_skew": ("ratio", "lower", ["apply_events_per_s"], ["bulk_replay"],
        "probe: max / median task time of the reduce's heaviest stage"),
    "cdc.reduce.survivor_ratio": ("ratio", "lower", ["apply_events_per_s"], ["bulk_replay"],
        "probe: reduced rows / events in"),
    "functions.content.wall_s": ("s", "lower", ["apply_events_per_s", "cpu_s_per_mevent"],
        ["bulk_replay"], "probe: normalize_content + content_digest over the reduced rows"),
    "functions.content.executor_run_s": ("s", "lower", ["cpu_s_per_mevent"], ["bulk_replay"],
        "probe: executor run time of the content derive"),
    "functions.content.nonascii_share": ("ratio", "lower", ["apply_events_per_s"],
        ["bulk_replay"], "share of reduced rows whose content is not ASCII"),
    "lake.table.merge.wall_s": ("s", "lower", ["apply_events_per_s", "unit_latency_p50_s"],
        ALL, "LakeTable.merge per call (reduce and derive run inside it)"),
    "lake.table.merge.exchanges": ("count", "lower", ["apply_events_per_s"],
        ALL, "shuffle-writing stages per merge"),
    "lake.table.merge.shuffle_write_bytes": ("bytes", "lower", ["apply_events_per_s"],
        ALL, "bytes shuffled per merge"),
    "lake.table.merge.spill_bytes": ("bytes", "lower", ["apply_events_per_s"],
        ALL, "bytes spilled to disk per merge"),
    "lake.table.merge.executor_run_s": ("s", "lower", ["cpu_s_per_mevent"],
        ALL, "executor run time per merge"),
    "lake.table.merge.output_bytes": ("bytes", "lower", ["write_amp"],
        ALL, "bytes written per merge"),
    "lake.table.merge.task_skew": ("ratio", "lower", ["apply_events_per_s"],
        ALL, "max / median task time of the merge's heaviest stage"),
    "lake.table.merge.retries": ("count", "lower", ["unit_latency_p75_s"],
        ALL, "raising merge calls + failed tasks + stage re-attempts"),
    "lake.table.head.calls": ("count", "lower", ["unit_latency_p50_s"], TAILS,
        "LakeTable.head calls per committed unit"),
    "lake.table.head.wall_s": ("s", "lower", ["unit_latency_p50_s"], TAILS,
        "LakeTable.head time per committed unit"),
    "lake.table.commit_rebase.wall_s": ("s", "lower", ["unit_latency_p50_s"], TAILS,
        "LakeTable.commit_rebase per call"),
    "lake.table.live_files": ("count", "lower", ["space_amp", "lookup_latency_p50_s"], TAILS,
        "data files in the head snapshot after the timed phase"),
    "lake.table.delta_files": ("count", "lower", ["space_amp", "lookup_latency_p75_s"],
        TAILS, "merge-on-read delta files in the head snapshot after the timed phase"),
    "lake.table.lookup.wall_s": ("s", "lower", ["lookup_latency_p50_s"], ["mor_mixed"],
        "one 10-key lookup, rows collected"),
    "lake.table.lookup.input_rows": ("rows", "lower", ["lookup_latency_p50_s"],
        ["mor_mixed"], "rows scanned per lookup"),
    "lake.table.lookup.tasks": ("count", "lower", ["lookup_latency_p50_s"], ["mor_mixed"],
        "tasks per lookup"),
    "lake.table.read.wall_s": ("s", "lower", ["full_read_s"], ["mor_mixed"],
        "full read of the visible state to a noop sink"),
    "lake.table.read.input_rows": ("rows", "lower", ["full_read_s"], ["mor_mixed"],
        "rows scanned by the full read"),
    "lake.maintenance.compact_incremental.calls": ("count", "higher",
        ["unit_latency_p75_s", "lookup_latency_p75_s", "space_amp"], TAILS,
        "compact_incremental calls over every unit of the traced run, warm-up included "
        "(auto-compaction cadence; mor_mixed makes 17 apply_log calls)"),
    "lake.maintenance.compact_incremental.wall_s": ("s", "lower",
        ["unit_latency_p75_s"], TAILS, "total compact_incremental time in the traced run"),
    "lake.maintenance.compact_incremental.output_bytes": ("bytes", "lower",
        ["space_amp"], TAILS, "bytes compact_incremental wrote in the traced run"),
    "trace.overhead_frac": ("ratio", "lower", [], ALL,
        "1 - traced over untraced rounds' events/s in the same run, round 0 left out"),
}


def _median(xs, default=0.0):
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


class SpanIndex:
    def __init__(self, spans: list[dict]):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, span: dict) -> list[dict]:
        out, stack = [], [span]
        while stack:
            s = stack.pop()
            out.append(s)
            stack.extend(self.children.get(s["id"], ()))
        return out

    def stages(self, span: dict) -> list[dict]:
        return [st for s in self.subtree(span) for st in s.get("stages", ())]

    def jobs(self, span: dict) -> int:
        return sum(s.get("jobs", 0) for s in self.subtree(span))

    def self_time(self, span: dict) -> float:
        covered, cursor = 0.0, span["start"]
        for c in sorted(self.children.get(span["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], span["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return span["end"] - span["start"] - covered


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def _exchanges(stages) -> int:
    return sum(1 for st in stages if st["shuffle_write_records"] > 0)


def _skew(stages) -> float:
    heavy = max(stages, key=lambda st: st["executor_run_ms"], default=None)
    if heavy is None or not heavy["task_ms_median"]:
        return 0.0
    return heavy["task_ms_max"] / heavy["task_ms_median"]


def _sum(stages, key) -> int:
    return sum(st[key] for st in stages)


def derive(spans: list[dict], units: int, extra: dict) -> dict[str, float]:
    """Per-layer metrics from one traced run's spans.

    ``units`` is the number of engine units committed under tracing;
    ``extra`` carries the figures that do not come from spans (file counts
    from the head snapshot, probe row counts, the tracing overhead)."""
    ix = SpanIndex(spans)
    m: dict[str, float] = {}
    applies = ix.named("CdcEngine.apply_log")
    m["cdc.apply.self_s"] = _median(ix.self_time(s) for s in applies)
    m["cdc.apply.jobs_per_unit"] = sum(ix.jobs(s) for s in applies) / max(units, 1)
    m["cdc.apply.manifests_s"] = _median(duration(s) for s in ix.named("CdcEngine.manifests"))

    (reduce_probe,) = ix.named("probe.reduce")
    st = ix.stages(reduce_probe)
    m["cdc.reduce.wall_s"] = duration(reduce_probe)
    m["cdc.reduce.exchanges"] = _exchanges(st)
    m["cdc.reduce.shuffle_write_bytes"] = _sum(st, "shuffle_write_bytes")
    m["cdc.reduce.spill_bytes"] = _sum(st, "disk_spill_bytes")
    m["cdc.reduce.task_skew"] = _skew(st)
    m["cdc.reduce.survivor_ratio"] = extra["probe_rows_out"] / extra["probe_events_in"]

    (content_probe,) = ix.named("probe.content")
    st = ix.stages(content_probe)
    m["functions.content.wall_s"] = duration(content_probe)
    m["functions.content.executor_run_s"] = _sum(st, "executor_run_ms") / 1e3
    m["functions.content.nonascii_share"] = extra["probe_nonascii_rows"] / max(
        extra["probe_rows_out"], 1
    )

    merges = ix.named("LakeTable.merge")
    per_merge = [ix.stages(s) for s in merges]
    m["lake.table.merge.wall_s"] = _median(duration(s) for s in merges)
    m["lake.table.merge.exchanges"] = _median(_exchanges(st) for st in per_merge)
    m["lake.table.merge.shuffle_write_bytes"] = _median(
        _sum(st, "shuffle_write_bytes") for st in per_merge)
    m["lake.table.merge.spill_bytes"] = _median(_sum(st, "disk_spill_bytes") for st in per_merge)
    m["lake.table.merge.executor_run_s"] = _median(
        _sum(st, "executor_run_ms") / 1e3 for st in per_merge)
    m["lake.table.merge.output_bytes"] = _median(_sum(st, "output_bytes") for st in per_merge)
    m["lake.table.merge.task_skew"] = _median(_skew(st) for st in per_merge)
    m["lake.table.merge.retries"] = (
        sum(1 for s in merges if s["error"])
        + sum(_sum(st, "failed_tasks") + sum(1 for x in st if x["attempt"] > 0)
              for st in per_merge)
    )

    # head() also runs under lookups and reads; count the apply path's only
    heads = [s for a in applies for s in ix.subtree(a) if s["name"] == "LakeTable.head"]
    m["lake.table.head.calls"] = len(heads) / max(units, 1)
    m["lake.table.head.wall_s"] = sum(duration(s) for s in heads) / max(units, 1)
    m["lake.table.commit_rebase.wall_s"] = _median(
        duration(s) for s in ix.named("LakeTable.commit_rebase"))
    m["lake.table.live_files"] = extra["live_files"]
    m["lake.table.delta_files"] = extra["delta_files"]

    lookups = ix.named("op.lookup")
    m["lake.table.lookup.wall_s"] = _median(duration(s) for s in lookups)
    m["lake.table.lookup.input_rows"] = _median(
        _sum(ix.stages(s), "input_records") for s in lookups)
    m["lake.table.lookup.tasks"] = _median(_sum(ix.stages(s), "tasks") for s in lookups)
    reads = ix.named("op.full_read")
    m["lake.table.read.wall_s"] = _median(duration(s) for s in reads)
    m["lake.table.read.input_rows"] = _median(_sum(ix.stages(s), "input_records") for s in reads)

    compacts = ix.named("maintenance.compact_incremental")
    m["lake.maintenance.compact_incremental.calls"] = len(compacts)
    m["lake.maintenance.compact_incremental.wall_s"] = sum(duration(s) for s in compacts)
    m["lake.maintenance.compact_incremental.output_bytes"] = sum(
        _sum(ix.stages(s), "output_bytes") for s in compacts)

    m["trace.overhead_frac"] = extra["overhead_frac"]
    return {k: float(v) for k, v in m.items()}
