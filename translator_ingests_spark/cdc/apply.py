"""The CDC apply loop: ordered change-event log → lake table, exactly-once.

Micro-batch driver loop (``Trigger.AvailableNow``-style batch-over-log):
per batch it (1) validates events, (2) splits at schema-change events and
applies those to the table schema *before* the dependent data sub-batch,
(3) aligns the valid events to the lake schema, (4) executes one
idempotent bucket-pruned MERGE whose single window resolves each key to its
last writer over the raw events and the target row, then derives the content
plane (normalization + content_sha256) on the winners only, and (5) records
a checkpoint manifest (source offsets, applied LSN range, code hash,
per-partition lineage, throughput metrics).

Exactly-once: the lake commit is atomic and carries the batch id; replaying
any already-committed batch is a metadata no-op (lake guard) and the
checkpoint manifest is rewritten idempotently. Crash anywhere → rerun the
loop from the top; committed units skip, the first uncommitted unit resumes.
Reference analogs: stage-skip checks (pipeline.py:175-198), atomic publish
(release.py:20-48), code-hash invalidation (pipeline.py:124-141), metric
flush (semmeddb.py:309-338) — all in /root/reference/src/translator_ingest/.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from translator_ingests_spark.cdc.reduce import tie_hash
from translator_ingests_spark.functions.content import (
    content_digest,
    nfc,
    normalize_content,
    normalize_line_endings,
)
from translator_ingests_spark.lake.table import LakeSchema, LakeTable, _SPARK_TYPES, empty_frame

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("repo", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("commit", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField(
            "schema_change",
            T.StructType(
                [
                    T.StructField("kind", T.StringType(), True),
                    T.StructField("column", T.StringType(), True),
                    T.StructField("new_name", T.StringType(), True),
                    T.StructField("new_type", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField("source_partition", T.IntegerType(), True),
        T.StructField("source_offset", T.LongType(), True),
        # values for columns added by schema evolution (keyed by current name)
        T.StructField("extras", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# initial lake schema (FIXTURES.md §A1): input columns + engine-maintained
# content_sha256 (per-row invariant) and last_lsn (LWW watermark per key)
BASE_FIELDS: list[tuple[str, str]] = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
    ("content_sha256", "string"),
    ("last_lsn", "long"),
]

_DATA_OPS = ("insert", "update", "delete")


def _is_valid():
    """A data event the engine applies: key columns and LSN all set."""
    return F.col("repo").isNotNull() & F.col("path").isNotNull() & F.col("lsn").isNotNull()


def compute_code_hash() -> str:
    """sha256 over the engine's own source files, truncated to 8 hex chars —
    code changes auto-invalidate checkpoints (reference: pipeline.py:124-141)."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    digest = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(pkg_root, "**", "*.py"), recursive=True)):
        with open(path, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    return digest.hexdigest()[:8]


class CdcEngine:
    """Applies an ordered change-event log to one lake table, exactly once.
    Content is normalized JVM-side (ICU4J NFC on non-ASCII rows, see
    :meth:`_content_cols`); no Python worker runs on the apply, lookup or read
    paths. ``use_arrow_normalize`` is accepted and ignored."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        num_buckets: int = 16,
        use_arrow_normalize: bool = True,
        auto_compact_every: int | None = 16,
        auto_expire_every: int | None = None,
        expire_keep_last: int = 16,
        expire_max_cursor_lag: int | None = None,
        write_mode: str = "cow",
        partial_updates: bool = False,
        bloom_cols: list[str] | dict[str, int] | None = None,
        write_options: dict[str, str] | None = None,
        staged: bool = False,
    ):
        self.spark = spark
        self.root = root
        self.num_buckets = num_buckets
        self._bloom_cols = bloom_cols
        self._write_options = write_options
        # tombstone-retention policy: every K committed units, fold out
        # tombstones at or below the low watermark (safe: merge rejects
        # events at/below the watermark, so compacted deletes can't resurrect).
        # Default ON (every 16 units) so long-running production replays don't
        # grow tombstones unboundedly; pass None to disable (e.g. when a
        # downstream merged table still needs the tombstones — see
        # lake/merge_sources.py's rebuild guard).
        self.auto_compact_every = auto_compact_every
        # snapshot-expiry cadence: every K committed units, expire all but
        # the newest `expire_keep_last` snapshots and delete their
        # now-unreferenced data files. Without it a long train retains
        # O(commits x rewrite-size) of history — a 600-commit COW tail
        # measured ~90 GB of dead files (the round-5 billion run exhausted
        # its disk exactly this way). Default OFF: expiry truncates time
        # travel and the change feed to the retained window, so the cadence
        # must be an explicit operator choice — same trade as Delta VACUUM
        # vs CDF retention. Long-running loops should pass e.g.
        # auto_expire_every=64. Downstream changes() consumers need no hand
        # coordination: every registered consumer cursor (ChangesConsumer's
        # pin_retention default, lake/refs.register_cursor) pins its
        # snapshot through the expiry, bounded by expire_max_cursor_lag
        # (None = a lagging consumer may pin history indefinitely; set it
        # to evict abandoned registrations, which then re-bootstrap).
        self.auto_expire_every = auto_expire_every
        self.expire_keep_last = expire_keep_last
        self.expire_max_cursor_lag = expire_max_cursor_lag
        # "cow" rewrites touched bucket files per batch (read-optimized);
        # "mor" (merge-on-read) writes each batch as delta files — O(batch)
        # write cost regardless of key spread, resolved at read by the LWW
        # fold and folded into base files on the auto-compact cadence. Same
        # final state either way (pytest-asserted); pick "mor" when batches
        # are small relative to the buckets they touch (scattered updates on
        # a huge table — the COW write-amplification regime). "auto" decides
        # PER BATCH from manifest metadata alone (see _resolve_write_mode):
        # batch rows vs the base rows its buckets would rewrite.
        if write_mode not in ("cow", "mor", "auto"):
            raise ValueError(f"unknown write_mode {write_mode!r}")
        self.write_mode = write_mode
        # partial-update streams (null value column = "no change"): the
        # merge window assembles each key column-wise (last non-null
        # writer) and coalesces unset columns from the target. COW only —
        # the MOR fold is whole-row.
        if partial_updates and write_mode != "cow":
            raise ValueError("partial_updates requires write_mode='cow'")
        self.partial_updates = partial_updates
        self.code_hash = compute_code_hash()
        self.table = LakeTable(spark, os.path.join(root, "lake"))
        # write-audit-publish: commits stage behind a marker until
        # lake/wap.py publishes — readers keep serving the last published
        # state while this engine stacks units on the staged chain
        self.table.staged_writes = staged
        self._ckpt_dir = os.path.join(root, "ckpt")
        # delivery order of the current apply run — recorded per manifest so
        # the validation job knows whether per-partition offset *ranges* are
        # disjoint (in-order) or legitimately interleaved (scatter)
        self._delivery = "in_order"

    # -- lifecycle -----------------------------------------------------------
    def init_table(self) -> None:
        if not self.table.exists():
            LakeTable.create(
                self.spark,
                self.table.root,
                LakeSchema.from_names(BASE_FIELDS),
                key_cols=["repo", "path"],
                lsn_col="last_lsn",
                num_buckets=self.num_buckets,
                bloom_cols=self._bloom_cols,
                write_options=self._write_options,
            )
        os.makedirs(self._ckpt_dir, exist_ok=True)

    def final_state(self) -> DataFrame:
        """What THIS engine has applied: in staged mode that is the staged
        head (the audit's view — validation must judge the data it would
        publish), otherwise the published current."""
        if self.table.staged_writes:
            from translator_ingests_spark.lake import wap

            return wap.read_staged(self.table)
        return self.table.read()

    # -- write-audit-publish --------------------------------------------------
    def publish_staged(self):
        """Make every staged unit visible to readers (lake/wap.py)."""
        from translator_ingests_spark.lake import wap

        return wap.publish_staged(self.table)

    def rollback_staged(self):
        """Discard the staged units AND their checkpoint manifests. The
        manifests matter: they record the rejected units' applied-LSN
        ranges, and leaving them would make the engine classify the
        corrected re-delivery of that log range as an already-applied
        replay. After the rollback both the lake guard (last_batch_id) and
        the checkpoint history describe exactly the published state."""
        import glob as _glob

        from translator_ingests_spark.lake import wap

        snap = wap.rollback_staged(self.table)
        for p in _glob.glob(os.path.join(self._ckpt_dir, "batch-*.json")):
            uid = int(os.path.basename(p)[len("batch-"):-len(".json")])
            if uid > snap.last_batch_id:
                os.remove(p)
        return snap

    def _merge_with_retry(self, source, **kwargs):
        """The unit's MERGE with concurrent-writer recovery. Disjoint
        concurrent commits (a maintenance job compacting buckets this batch
        does not touch, a metadata-only schema/tag commit) rebase inside
        ``LakeTable.commit_rebase`` without reaching here. What does reach
        here is an OVERLAPPING race — an external OPTIMIZE rewrote a bucket
        this merge also rewrote — where the merge's output files are stale
        by construction: re-running the merge recomputes against the new
        head (it re-reads ``head()`` at entry; its source DataFrame is
        lazily re-evaluated). Bounded retries: a third consecutive overlap
        means something is compacting the hot buckets on every batch —
        surface it instead of spinning."""
        from translator_ingests_spark.lake.table import ConcurrentModificationError

        last_err: Exception | None = None
        for attempt in range(3):
            try:
                return self.table.merge(source, **kwargs)
            except ConcurrentModificationError as err:
                last_err = err
                if attempt == 2:
                    break  # final attempt: no retry follows — surface now
                # linear backoff before recomputing: a fixed-cadence racer
                # (a compaction loop on the same hot buckets) would
                # otherwise win every immediate retry too — yielding one
                # racer period is what converts a livelock into one lost
                # round trip (exercised by tests/test_concurrency_soak.py)
                time.sleep(0.2 * (attempt + 1))
                warnings.warn(
                    f"merge lost an overlapping-file commit race ({err}); "
                    "recomputing the unit against the new head",
                    stacklevel=2,
                )
        raise last_err

    # -- the loop -------------------------------------------------------------
    def apply_log(
        self,
        events: DataFrame,
        events_per_batch: int | None = None,
        n_batches: int | None = None,
        scatter_delivery: bool = False,
        max_units: int | None = None,
        total_events: int | None = None,
        cache_log: bool = True,
    ) -> list[dict]:
        """Apply the full event log in micro-batches. Returns the list of
        checkpoint-manifest dicts written (one per committed data sub-batch).

        Batch assignment is a deterministic function of ``lsn`` so replay
        after a crash re-derives identical batches:
        - default: ``floor(lsn / events_per_batch)`` (in-order delivery);
        - ``scatter_delivery=True``: ``pmod(xxhash64(lsn), n_batches)`` —
          events land in arbitrary batches (out-of-order + interleaved), the
          hardest delivery order the LWW/merge guard must absorb.

        ``max_units`` stops the loop after N commits — the crash-injection
        hook used by the resume tests.
        """
        self.init_table()
        total = total_events if total_events is not None else events.count()
        if n_batches is None:
            assert events_per_batch, "need events_per_batch or n_batches"
            n_batches = max(1, -(-total // events_per_batch))
        self._delivery = "scatter" if scatter_delivery else "in_order"
        if scatter_delivery:
            batch_idx = F.pmod(F.xxhash64(F.lit("batch"), F.col("lsn")), F.lit(n_batches))
        else:
            per = events_per_batch or max(1, -(-total // n_batches))
            batch_idx = F.floor(F.col("lsn") / F.lit(per))

        events = events.withColumn("__batch", batch_idx.cast("long"))
        # cache the batched log once (unless the caller already persisted the
        # source — double-caching large logs doubles memory pressure).
        # ``cache_log=False`` skips the cache entirely: when the log is a
        # plain parquet scan on shared storage, re-scanning per batch (OS
        # page cache) beats an executor-pinned Spark cache — in
        # multi-executor mode cached blocks force remote fetches that
        # serialize every downstream job (measured 3-4x at 4 executors)
        already_cached = events.storageLevel.useMemory or events.storageLevel.useDisk
        if not already_cached and cache_log:
            events = events.persist()
        else:
            already_cached = True  # nothing to unpersist on exit

        # ONE upfront job: distinct batch indices present (sparse LSN spaces
        # skip empty batches) AND every schema-change event with its batch —
        # schema events are rare, so this is a tiny driver-side list and
        # saves both a per-batch scan and a second upfront pass
        # The upfront aggregation is per (batch, source_partition) and carries
        # EVERYTHING the per-unit bookkeeping needs — event/validity counts,
        # offset and LSN ranges, the affected-bucket set, and every schema-
        # change event. Per-batch lineage then becomes a driver-side lookup,
        # so a data unit costs exactly ONE Spark job (the merge) on the
        # no-schema-change fast path. (Round 2 ran one meta job plus a
        # lineage job per batch — one extra full scan per batch, a per-unit
        # fixed cost that capped N→4N scaling efficiency.)
        snap0 = self.table.head()
        meta_q = events.groupBy("__batch", "source_partition").agg(
            *self._lineage_aggs(snap0),
            # schema-change presence rides the same pass so the dedicated
            # schema-event scan below runs ONLY when one exists — on the
            # common no-schema-change log that second full-log job (and its
            # scan of the schema_change struct column) disappears entirely
            F.count(F.when(F.col("op") == "schema_change", 1)).alias("n_schema"),
        )

        meta_rows = meta_q.collect()  # bounded-collect: one row per (batch, source partition)
        if any(r["n_schema"] for r in meta_rows):
            # schema-change events exist: fetch them with a column-pruned
            # filter scan (predicate reaches the reader; few rows match)
            schema_rows_all = (
                events.filter(F.col("op") == "schema_change")
                .select("__batch", "lsn", "schema_change")
                .collect()  # bounded-collect: O(schema-change events), rare by contract
            )
        else:
            schema_rows_all = []

        schema_events: dict[int, list] = {}
        for r in schema_rows_all:
            schema_events.setdefault(r["__batch"], []).append(r)
        for b in schema_events:
            schema_events[b] = sorted(schema_events[b], key=lambda x: x["lsn"])
        lineage_by_batch: dict[int, list] = {}
        for r in meta_rows:
            lineage_by_batch.setdefault(r["__batch"], []).append(r)
        # every batch with any event (schema events included) has a meta row
        # — events_in counts all ops — so meta alone determines presence
        present = sorted(lineage_by_batch)

        # REPLAY vs TAIL. The exactly-once guard skips units whose id is at
        # or below the table's last_batch_id — correct when this call REPLAYS
        # the same log from the start (crash-resume re-derives identical
        # batches, committed ones skip). But a caller TAILING the log hands
        # in only new events; restarting unit numbering at 0 would let the
        # guard silently swallow them. The two shapes are distinguished by
        # LSN: a log whose minimum LSN lies beyond every previously-applied
        # LSN is a tail segment → numbering continues at last_batch_id + 1.
        # (Logs that interleave already-applied and new LSNs in one call are
        # outside the checkpoint contract — resume must re-derive the same
        # batching, exactly like resuming a Kafka offset checkpoint.)
        # DATA-event LSNs only: the manifests' applied ranges cover data
        # events, so trailing/leading schema events (idempotent to replay
        # either way) must not tip a clean replay into the mixed-log case
        min_lsn = min(
            (r["lsn_min"] for r in meta_rows if r["lsn_min"] is not None),
            default=None,
        )
        prev_max = max(
            (
                m["applied_lsn_max"]
                for m in self.manifests()
                if m.get("applied_lsn_max") is not None
            ),
            default=None,
        )
        max_lsn = max(
            (r["lsn_max"] for r in meta_rows if r["lsn_max"] is not None),
            default=None,
        )
        base_unit = 0
        if min_lsn is not None and prev_max is not None:
            if min_lsn > prev_max:
                base_unit = self.table.head().last_batch_id + 1
            elif max_lsn is not None and max_lsn > prev_max:
                # Mixed old/new log: LSNs at or below prev_max alongside new
                # ones (e.g. boundary redelivery of the last acked event plus
                # fresh events). Classifying this as a replay would let the
                # exactly-once guard silently swallow the NEW events, so
                # treat it as a tail — redelivered old events are harmless
                # because the LWW merge is idempotent on lsn <= applied —
                # and warn that the call sits outside the strict contract.
                warnings.warn(
                    "apply(): log mixes already-applied LSNs (min "
                    f"{min_lsn} <= applied max {prev_max}) with new ones "
                    f"(max {max_lsn}); treating as a tail with redelivered "
                    "boundary events. Strict replays must re-derive the "
                    "original batching from the full log.",
                    stacklevel=2,
                )
                base_unit = self.table.head().last_batch_id + 1
                # stamp these units' manifests with the honest delivery
                # mode: their offset windows OVERLAP earlier manifests by
                # design (the redelivered boundary), so the validator's
                # in-order contiguity audit must not read them as lineage
                # corruption — exactly-once is carried by the batch-id
                # guard + LWW here, same as scatter delivery. The in-order
                # low-watermark advance is withheld for the same reason
                # (conservative: dedup pruning just keeps more history).
                self._delivery = "redelivered"
        elif (
            min_lsn is not None
            and prev_max is None
            and self.table.head().last_batch_id >= 0
        ):
            # A non-empty table with no checkpoint manifests cannot tell a
            # replay from a tail — silently choosing replay (base_unit 0)
            # would make the exactly-once guard swallow everything.
            raise ValueError(
                "apply(): table has committed batches but no checkpoint "
                "manifests record an applied LSN range; cannot distinguish "
                "replay from tail. Restore the checkpoint manifests or "
                "recreate the table before applying this log."
            )

        manifests: list[dict] = []
        unit_id = base_unit
        consumed = 0
        for b in present:
            batch = events.filter(F.col("__batch") == b).drop("__batch")
            schema_rows = schema_events.get(b, [])
            # a no-schema-event batch is consumed by exactly one job (the
            # merge) — caching it would cost a pass without saving one
            batch_cached = cache_log and bool(schema_rows)
            if batch_cached:
                batch = batch.persist()
            try:
                data = batch.filter(F.col("op").isin(*_DATA_OPS))

                # split data at each schema-change LSN: sub-batch below the
                # change commits first, then the schema evolves, then the rest
                bounds = [r["lsn"] for r in schema_rows]
                lows = [None] + bounds
                highs = bounds + [None]
                # fast path: a batch with no schema events is one unit whose
                # lineage/stats/buckets were precomputed by the upfront job
                # (the unit itself runs only the merge). Schema-split
                # sub-batches recompute per sub-range (rare path).
                whole_batch = not schema_rows
                for i, (lo, hi) in enumerate(zip(lows, highs)):
                    sub = data
                    if lo is not None:
                        sub = sub.filter(F.col("lsn") > lo)
                    if hi is not None:
                        sub = sub.filter(F.col("lsn") < hi)
                    m = self._apply_data_unit(
                        sub,
                        unit_id,
                        lag_events=total - consumed,
                        pre_lineage=lineage_by_batch[b] if whole_batch else None,
                        # masks were derived under THIS bucket count — a
                        # rebucket between snapshots invalidates them
                        lineage_nb=snap0.num_buckets,
                    )
                    if m is not None:
                        manifests.append(m)
                        consumed = min(total, consumed + m["metrics"]["events_in"])
                        if (
                            self.auto_compact_every
                            and len(manifests) % self.auto_compact_every == 0
                        ):
                            from translator_ingests_spark.lake.maintenance import (
                                compact_incremental,
                            )

                            # incremental: rewrites only fragmented buckets
                            # (manifest-metadata selection) — the default
                            # cadence must never be an O(table) job
                            compact_incremental(self.table, drop_tombstones=True)
                        if (
                            self.auto_expire_every
                            # keyed on the GLOBAL unit id, not this call's
                            # manifest count: a seconds-cadence loop commits
                            # one unit per apply() call, and a per-call
                            # counter would never reach the cadence
                            and (unit_id + 1) % self.auto_expire_every == 0
                        ):
                            from translator_ingests_spark.lake.maintenance import (
                                expire_snapshots,
                            )

                            # bound retained history: expired snapshots'
                            # files are known garbage (deleted now); files
                            # of in-flight fence-racing writers stay behind
                            # the orphan age gate
                            expire_snapshots(
                                self.table, keep_last=self.expire_keep_last,
                                max_cursor_lag=self.expire_max_cursor_lag,
                            )
                    unit_id += 1
                    if max_units is not None and unit_id - base_unit >= max_units:
                        if not already_cached:
                            events.unpersist()
                        return manifests
                    if i < len(schema_rows):
                        sc = schema_rows[i]["schema_change"]
                        self.table.update_schema(
                            sc["kind"], sc["column"], sc["new_name"], sc["new_type"],
                            at_lsn=schema_rows[i]["lsn"],
                        )
                        consumed = min(total, consumed + 1)
            finally:
                if batch_cached:
                    batch.unpersist()
        if not already_cached:
            events.unpersist()
        return manifests

    # -- one committed unit ----------------------------------------------------
    @staticmethod
    def _lineage_aggs(snap) -> list:
        """The per-source-partition lineage aggregates: event and validity
        counts, the valid events' offset and LSN ranges, and their bucket
        set as ``bit_or`` masks — one LONG word per 64 buckets
        (``bucket_mask_<w>``; same bucket rule as ``LakeTable._bucket_expr``).
        Every aggregate has a primitive buffer, so the pass stays a
        whole-stage-codegen HashAggregate (collect_set/collect_list would
        demote it to an interpreted ObjectHashAggregate — profiled 5.8×
        thread-CPU inflation at 8 cores on 48M events). shiftleft takes a
        column shift only through SQL — the pyspark wrapper wants an int
        literal."""
        is_valid = _is_valid()
        key_sql = ", ".join(f"`{c}`" for c in snap.key_cols)
        b = f"pmod(xxhash64({key_sql}), {snap.num_buckets})"
        return [
            F.count(F.lit(1)).alias("events_in"),
            F.count(F.when(is_valid, 1)).alias("rows"),
            F.min(F.when(is_valid, F.col("source_offset"))).alias("offset_min"),
            F.max(F.when(is_valid, F.col("source_offset"))).alias("offset_max"),
            F.min(F.when(is_valid, F.col("lsn"))).alias("lsn_min"),
            F.max(F.when(is_valid, F.col("lsn"))).alias("lsn_max"),
        ] + [
            F.bit_or(F.when(is_valid, F.expr(
                f"CASE WHEN {b} DIV 64 = {w} "
                f"THEN shiftleft(CAST(1 AS BIGINT), CAST({b} % 64 AS INT)) END"
            ))).alias(f"bucket_mask_{w}")
            for w in range(-(-snap.num_buckets // 64))
        ]

    @staticmethod
    def _buckets_from_mask(lineage_rows: list, num_buckets: int) -> list[int]:
        """Decode the per-partition ``bucket_mask_<w>`` words of
        :meth:`_lineage_aggs` into the sorted bucket list."""
        out = []
        for w in range(-(-num_buckets // 64)):
            mask = 0
            for r in lineage_rows:
                mask |= r[f"bucket_mask_{w}"] or 0
            out += [64 * w + i for i in range(64) if (mask >> i) & 1]
        return out

    def _apply_data_unit(
        self,
        data: DataFrame,
        unit_id: int,
        lag_events: int | None,
        pre_lineage: list | None = None,
        lineage_nb: int | None = None,
    ) -> dict | None:
        snap = self.table.head()
        if snap.last_batch_id >= unit_id:
            # already committed by a previous (crashed) run — exactly-once skip.
            # A crash BETWEEN the lake commit and _write_ckpt would otherwise
            # lose this unit's manifest forever (the skip path never rewrote
            # it): rebuild it from the committed snapshot, which carries the
            # batch's lineage/metrics/code-hash.
            ckpt = self._read_ckpt(unit_id)
            if ckpt is None:
                ckpt = self._rebuild_ckpt_from_snapshot(unit_id)
            return ckpt

        t0 = time.monotonic()
        # NOTE: no extra persist here — `data` is a cheap filter over the
        # already-cached batch; a second cache would double memory per batch
        valid = data.filter(_is_valid())

        if pre_lineage is not None:
            # FAST PATH: lineage/stats/buckets were computed by
            # apply_log's single upfront aggregation (per batch AND
            # source partition) — this unit runs exactly ONE Spark job,
            # the merge itself.
            lineage_rows = pre_lineage
        else:
            # standalone path (schema-split sub-batches, streaming epochs,
            # direct calls): ONE aggregation job yields per-partition
            # lineage, the global validity stats (summed driver-side) and
            # the bucket masks
            lineage_nb = snap.num_buckets
            lineage_rows = data.groupBy("source_partition").agg(
                *self._lineage_aggs(snap)
            ).collect()  # bounded-collect: one row per source partition
        events_in = sum(r["events_in"] for r in lineage_rows)
        if events_in == 0:
            return None
        n_valid = sum(r["rows"] for r in lineage_rows)
        lsn_min = min((r["lsn_min"] for r in lineage_rows if r["lsn_min"] is not None),
                      default=None)
        lsn_max = max((r["lsn_max"] for r in lineage_rows if r["lsn_max"] is not None),
                      default=None)
        lineage = sorted(
            (
                {
                    "partition": r["source_partition"],
                    "offset_min": r["offset_min"],
                    "offset_max": r["offset_max"],
                    "lsn_min": r["lsn_min"],
                    "lsn_max": r["lsn_max"],
                    "rows": r["rows"],
                }
                for r in lineage_rows
                if r["rows"] > 0
            ),
            key=lambda d: (d["partition"] is None, d["partition"]),
        )

        # the bucket set for merge file pruning, from the lineage masks —
        # unless a rebucket committed since they were computed: a set under
        # another modulus is not a superset, so the merge re-derives it
        affected_buckets = (
            self._buckets_from_mask(lineage_rows, snap.num_buckets)
            if lineage_nb == snap.num_buckets else None
        )
        # The merge window IS the LWW reduce: a unit of any size hands the
        # merge its raw valid events and each key is resolved once, in the
        # merge's one exchange.
        source = self._derive_columns(valid, snap)
        unit_mode = self._resolve_write_mode(snap, affected_buckets, n_valid)
        metrics = {
            "events_in": int(events_in),
            "invalid_events": int(events_in - n_valid),
            "write_mode": unit_mode,
        }
        merge_stats: dict = {}
        new_snap = self._merge_with_retry(
            source,
            batch_id=unit_id,
            lineage=lineage,
            metrics=metrics,
            code_hash=self.code_hash,
            stats_out=merge_stats,
            # in-order delivery: once this unit commits, every LSN at or
            # below its max is applied (earlier batches hold only lower
            # LSNs) — the retention watermark for tombstone compaction.
            # Scatter delivery gives no such guarantee: watermark holds.
            advance_watermark_to=(
                lsn_max if self._delivery == "in_order" else None
            ),
            affected_buckets=affected_buckets,
            # Observation deadlocks inside a foreachBatch callback —
            # streaming epochs take the explicit-count path
            use_observation=self._delivery != "stream",
            delivery=self._delivery,
            mode=unit_mode,
            partial_update=self.partial_updates,
            winner_cols=self._content_cols(snap),
            src_num_buckets=snap.num_buckets,
        )
        elapsed = max(time.monotonic() - t0, 1e-9)
        n_red = merge_stats.get("rows", 0)
        n_del = merge_stats.get("deletes", 0)
        metrics.update(
            {
                "rows_upserted": int(n_red - n_del),
                "rows_deleted": int(n_del),
                "dups_dropped": int(n_valid - n_red),
                "events_per_sec": round(events_in / elapsed, 2),
                "lag_events": (
                    None if lag_events is None else int(lag_events - events_in)
                ),
            }
        )
        manifest = {
            "batch_id": unit_id,
            "delivery": self._delivery,
            "applied_lsn_min": lsn_min,
            "applied_lsn_max": lsn_max,
            "source_offsets": {str(d["partition"]): d["offset_max"] for d in lineage},
            "code_hash": self.code_hash,
            "snapshot_id": new_snap.version,
            "per_partition_lineage": lineage,
            "metrics": metrics,
        }
        self._write_ckpt(unit_id, manifest)
        return manifest

    # below this batch-rows / rewritten-base-rows ratio, COW write
    # amplification dominates and merge-on-read wins
    _MOR_RATIO = 0.25

    def _resolve_write_mode(self, snap, affected_buckets, n_valid: int) -> str:
        """Per-batch COW-vs-MOR decision for ``write_mode="auto"`` — pure
        manifest math, zero Spark jobs: COW would read-and-rewrite every
        file overlapping the batch's buckets; when the batch is small
        against those files' footer row counts (< _MOR_RATIO), defer the
        merge as delta files instead. Missing row stats (manifests written
        before the stat existed) or an unknowable bucket set fall back to
        COW — the conservative, read-optimized default. The auto-compact
        cadence bounds the accumulated delta backlog either way."""
        if self.write_mode != "auto":
            return self.write_mode
        if affected_buckets is None:
            return "cow"
        overlapping = self.table._files_overlapping(snap, affected_buckets)
        rows = [f.get("rows") for f in overlapping]
        if any(r is None for r in rows):
            return "cow"
        base_rows = sum(rows)
        return "mor" if n_valid < self._MOR_RATIO * base_rows else "cow"

    def _derive_columns(self, events: DataFrame, snap) -> DataFrame:
        """Align the batch's events to the current lake schema: base
        columns, evolution-added columns filled from the event's ``extras``
        map (cast to the column's type), and ``__tie``, the raw event's
        same-LSN tie hash. Content stays raw here: its normalization and
        digest run after the merge's resolution, on winners only (see
        :meth:`_content_cols`).

        Base columns resolve by *field id* (their original schema-v1 name is
        the event column), so a rename_column on e.g. ``lang`` keeps feeding
        the renamed lake column from the event's fixed ``lang`` field."""
        is_data = F.col("op") != "delete"
        # original (schema v1) name per field id — the event-facing name
        origin_name = {f.field_id: f.name for f in snap.schemas[1].fields}
        base_exprs = {
            "repo": F.col("repo"),
            "path": F.col("path"),
            "commit": F.col("commit"),
            "lang": F.col("lang"),
            "content": F.col("content"),
            # digested after the resolution — unless content itself was
            # dropped from the lake: then only the event carries its input
            "content_sha256": F.lit(None).cast("string") if self._content_cols(snap)
            else F.when(is_data, content_digest(normalize_content(F.col("content")))),
        }
        cols = []
        has_extras = "extras" in events.columns
        for fld in snap.schema.fields:
            origin = origin_name.get(fld.field_id)
            if fld.name == snap.lsn_col:
                # written by merge from the event lsn — resolved via the
                # table's configured lsn_col, not a hardcoded name, so an
                # engine pointed at a pre-existing LakeTable with a custom
                # lsn_col doesn't leak the field through the extras path
                continue
            if origin in base_exprs:
                cols.append(base_exprs[origin].alias(fld.name))
                continue
            if has_extras:
                # resolve by any historical name (renames), gated so events
                # older than the column's add_column LSN never populate it —
                # this keeps results identical under out-of-order delivery
                lookups = [
                    F.element_at(F.col("extras"), n) for n in snap.name_history(fld.field_id)
                ]
                val = F.coalesce(*lookups) if len(lookups) > 1 else lookups[0]
                gate = F.col("lsn") > F.lit(snap.added_lsn.get(fld.field_id, -1))
                cols.append(
                    F.when(gate, val).cast(_SPARK_TYPES[fld.type]).alias(fld.name)
                )
            else:
                cols.append(F.lit(None).cast(_SPARK_TYPES[fld.type]).alias(fld.name))
        cols += [F.col("op"), F.col("lsn"), tie_hash(events).alias("__tie")]
        if has_extras:
            # pass the raw extras map through — the lake retains it so values
            # for not-yet-added columns survive out-of-order schema evolution
            cols.append(F.when(is_data, F.col("extras")).alias("extras"))
        return events.select(*cols)

    def _content_cols(self, snap) -> list:
        """The merge's ``winner_cols`` for the content plane: line endings
        (codegen projection), the gated ICU NFC call (the one interpreted
        node), then the sha256 digest (codegen again) — each on winning
        source rows only, so redelivered and superseded events are never
        normalized. Line endings go first: CR and LF are NFC starters that
        never compose, so the rewrite commutes with NFC."""
        name = {f.field_id: f.name for f in snap.schema.fields}
        lake = {o.name: name[o.field_id] for o in snap.schemas[1].fields
                if o.field_id in name}
        if "content" not in lake:
            return []
        c = lake["content"]
        steps = [(c, normalize_line_endings(F.col(c))), (c, nfc(F.col(c)))]
        if "content_sha256" in lake:
            steps.append((lake["content_sha256"], content_digest(F.col(c))))
        return steps

    def _rebuild_ckpt_from_snapshot(self, unit_id: int) -> dict | None:
        """Recover a checkpoint manifest lost to a crash between the lake
        commit and the manifest write: the committed snapshot for the batch
        stores everything the manifest needs (lineage, metrics, code hash),
        so the rebuild is deterministic. Returns None if the batch produced
        no snapshot (empty unit); raises if the backing snapshot has been
        expired — a committed unit must never silently vanish from the
        rebuilt manifest set."""
        saw_older = False
        for v in reversed(self.table.history()):
            s = self.table.snapshot_at(v)
            if s.batch_id == unit_id:
                lineage = s.lineage or []
                lsn_mins = [d["lsn_min"] for d in lineage if d.get("lsn_min") is not None]
                lsn_maxs = [d["lsn_max"] for d in lineage if d.get("lsn_max") is not None]
                manifest = {
                    "batch_id": unit_id,
                    # the ORIGINAL run's delivery mode, persisted in the
                    # snapshot — a resume run with a different scatter flag
                    # must not relabel the manifest (validate routes its
                    # offset-range disjointness check on this field)
                    "delivery": s.delivery,
                    "applied_lsn_min": min(lsn_mins) if lsn_mins else None,
                    "applied_lsn_max": max(lsn_maxs) if lsn_maxs else None,
                    "source_offsets": {
                        str(d["partition"]): d["offset_max"] for d in lineage
                    },
                    "code_hash": s.code_hash,
                    "snapshot_id": s.version,
                    "per_partition_lineage": lineage,
                    "metrics": s.metrics or {},
                    "recovered": True,
                }
                self._write_ckpt(unit_id, manifest)
                return manifest
            if s.last_batch_id < unit_id:
                saw_older = True
                break
        if saw_older:
            # history walks past the unit's slot without finding a snapshot:
            # the unit was genuinely empty (no commit, no manifest)
            return None
        # Snapshot evidence is gone (expired), but manifests are written
        # strictly in unit order — unit i's ckpt lands before unit i+1
        # starts, and a crash between a commit and its ckpt write stops the
        # run, leaving no LATER manifest behind. So a hole below an existing
        # manifest can only be an empty schema-split sub-range, never a
        # crash-lost manifest. Without this, aggressive snapshot expiry that
        # removed the pre-hole history would misread the hole as lost
        # lineage and refuse a perfectly replayable log.
        for p in glob.glob(os.path.join(self._ckpt_dir, "batch-*.json")):
            uid = int(os.path.basename(p)[len("batch-"):-len(".json")])
            if uid > unit_id:
                return None
        raise RuntimeError(
            f"checkpoint manifest for committed batch {unit_id} is lost and its "
            f"backing snapshot has been expired (expire_snapshots retention too "
            f"aggressive) — cannot rebuild exactly-once lineage"
        )

    # -- checkpoint manifests ---------------------------------------------------
    def _ckpt_path(self, unit_id: int) -> str:
        return os.path.join(self._ckpt_dir, f"batch-{unit_id:08d}.json")

    def _write_ckpt(self, unit_id: int, manifest: dict) -> None:
        tmp = self._ckpt_path(unit_id) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, self._ckpt_path(unit_id))

    def _read_ckpt(self, unit_id: int) -> dict | None:
        p = self._ckpt_path(unit_id)
        if os.path.exists(p):
            with open(p) as fh:
                return json.load(fh)
        return None

    def manifests(self) -> list[dict]:
        out = []
        for p in sorted(glob.glob(os.path.join(self._ckpt_dir, "batch-*.json"))):
            with open(p) as fh:
                out.append(json.load(fh))
        return out

    def manifests_df(self) -> DataFrame:
        """Checkpoint manifests as a DataFrame (FIXTURES.md §A3 shape), in
        batch order. The JSON files are read by the JVM directly."""
        schema = (
            "batch_id bigint, applied_lsn_min bigint, applied_lsn_max bigint,"
            "source_offsets map<string,bigint>, code_hash string, snapshot_id bigint,"
            "per_partition_lineage array<struct<partition:int,offset_min:bigint,"
            "offset_max:bigint,lsn_min:bigint,lsn_max:bigint,rows:bigint>>,"
            "metrics struct<events_in:bigint,invalid_events:bigint,rows_upserted:bigint,"
            "rows_deleted:bigint,dups_dropped:bigint,"
            "events_per_sec:double,lag_events:bigint>"
        )
        if not glob.glob(os.path.join(self._ckpt_dir, "batch-*.json")):
            return empty_frame(self.spark, T.StructType.fromDDL(schema))
        return (
            self.spark.read.schema(schema).option("pathGlobFilter", "batch-*.json")
            .json(self._ckpt_dir).coalesce(1).sortWithinPartitions("batch_id")
        )
