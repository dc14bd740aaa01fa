"""A from-scratch snapshot-based lake-table format on parquet.

Plays the role Iceberg plays in the target design (no Iceberg runtime jar is
available in this environment, so the primitives are implemented directly):

- **Atomic snapshot commits**: every write produces an immutable snapshot
  manifest ``snapshots/v{N}.json``; the table pointer ``_pointer.json`` is
  swapped with ``os.replace`` (atomic on POSIX), so readers never observe a
  half-written table. Reference analog: the atomic rename publish at
  ``/root/reference/src/translator_ingest/release.py:20-48``.
- **Bucketed copy-on-write MERGE**: data files are laid out by
  ``bucket = pmod(xxhash64(key_cols), num_buckets)``; a MERGE reads and
  rewrites *only* the buckets touched by the source batch (bucket pruning —
  at 10^10 rows a small batch touches a small fraction of buckets, so the
  rewrite cost is proportional to the batch's key spread, not table size).
- **Merge-on-read MERGE** (``merge(mode="mor")``, Iceberg-v2 analog): the
  batch commits as manifest-flagged DELTA files — write cost O(batch) even
  when its keys touch every bucket. Reads resolve base+delta per key with a
  LWW fold scoped to delta-touched buckets (:func:`_lww_fold` /
  :meth:`LakeTable._net_raw`); incremental compaction folds deltas back
  into base files, bounding read amplification by the compact cadence.
- **Field-id schema evolution**: the manifest stores every historical schema
  version keyed by monotonically increasing field ids; data files record the
  schema version they were written with, and reads align old files to the
  current schema by field id (rename = metadata-only, add = null-fill,
  widen = cast on read). Reference analog: the versioned artifact model at
  ``/root/reference/src/translator_ingest/util/storage/local.py:92-109``.
- **Exactly-once batch guard**: each merge commit records its ``batch_id``;
  re-applying an already-committed batch is a metadata no-op. Reference
  analog: idempotent stage-complete checks at
  ``/root/reference/src/translator_ingest/pipeline.py:175-198``.

Everything data-plane runs through Spark DataFrames; the manifest plane is
driver-side JSON (tiny, O(buckets) not O(rows)).
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field, replace as _dc_replace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Schema model
# ---------------------------------------------------------------------------

_SPARK_TYPES: dict[str, T.DataType] = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
}

# implicit per-file column marking retained deletes (see _read_files)
TOMBSTONE_COL = "__tombstone"
# implicit per-file column carrying the source event's dynamic-column values:
# if a data event that depends on a *later-arriving* schema change is merged
# first, its new-column value survives here and materializes at read time once
# the add_column lands — final state is independent of delivery order
EXTRAS_COL = "__extras"

# legal type widenings (lossless) for `widen_type` schema evolution
_WIDENINGS: dict[str, set[str]] = {
    "int": {"long", "double"},
    "long": {"double"},
    "float": {"double"},
}

# transient column tagging merge-on-read delta rows during the read-time fold
_IS_DELTA_COL = "__is_delta"


def empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """A zero-row frame of ``schema`` from typed null literals: unlike
    ``createDataFrame([], schema)`` it ships no driver rows to a Python worker."""
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def op_rank(op: Column) -> Column:
    """Same-LSN tie rank of a change op (higher wins): delete > update >
    insert > anything else — a delete that shares an LSN with a data op
    (corrupt producer) resolves the same way on every replay."""
    return (
        F.when(op == "delete", 3)
        .when(op == "update", 2)
        .when(op == "insert", 1)
        .otherwise(0)
    )


def _lww_fold(df: DataFrame, key_cols: list[str], lsn_col: str) -> DataFrame:
    """Read-time last-writer-wins fold for merge-on-read: one row per key,
    the greatest ``(lsn, base-over-delta)`` survivor. On an LSN tie the BASE
    row wins — the MERGE contract is "src.lsn <= tgt.last_lsn keeps target",
    and a delta row is an unapplied source. (Two delta rows can only tie at
    equal LSN as redelivered identical events — either survivor is the same
    row.)

    One ``row_number`` window pass over the same total order — identical
    survivor to a ``max_by(struct(row))`` aggregation, but that shape
    carries the whole row in a variable-length buffer (ObjectHashAggregate
    churn), while the rank<=1 window plans as WindowGroupLimit with a
    PARTIAL pass below the exchange: each scan partition is pruned to one
    row per key map-side before anything shuffles. The fold's input is the
    delta-touched slice, never the table: ``_net_raw`` routes clean base
    files around it, and the incremental-compaction cadence folds deltas
    into base files so the slice stays O(recent batches)."""
    from pyspark.sql import Window as W

    data_cols = [c for c in df.columns if c != _IS_DELTA_COL]
    w = W.partitionBy(*[F.col(k) for k in key_cols]).orderBy(
        F.col(lsn_col).desc(),
        (~F.col(_IS_DELTA_COL)).cast("int").desc(),
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(*data_cols)
    )


@dataclass(frozen=True)
class LakeField:
    field_id: int
    name: str
    type: str  # one of _SPARK_TYPES keys

    def spark_field(self) -> T.StructField:
        return T.StructField(self.name, _SPARK_TYPES[self.type], True)


@dataclass
class LakeSchema:
    fields: list[LakeField] = field(default_factory=list)

    @classmethod
    def from_names(cls, pairs: list[tuple[str, str]]) -> "LakeSchema":
        return cls([LakeField(i + 1, n, t) for i, (n, t) in enumerate(pairs)])

    def spark_schema(self) -> T.StructType:
        return T.StructType([f.spark_field() for f in self.fields])

    def names(self) -> list[str]:
        return [f.name for f in self.fields]

    def by_id(self) -> dict[int, LakeField]:
        return {f.field_id: f for f in self.fields}

    def max_id(self) -> int:
        return max((f.field_id for f in self.fields), default=0)

    def to_json(self) -> list[dict]:
        return [{"id": f.field_id, "name": f.name, "type": f.type} for f in self.fields]

    @classmethod
    def from_json(cls, data: list[dict]) -> "LakeSchema":
        return cls([LakeField(d["id"], d["name"], d["type"]) for d in data])


# ---------------------------------------------------------------------------
# Snapshot manifest
# ---------------------------------------------------------------------------

# files per manifest segment (the two-level manifest's leaf size). 256 keeps
# leaf JSONs small enough to read in one syscall yet large enough that a
# million-file table has ~4k segment refs in the snapshot — O(segments)
# snapshot size instead of O(files). Tests shrink it to exercise reuse.
SEGMENT_MAX_FILES = 256

# immutable content-addressed segments → caching is always safe (a name is
# never rewritten with different content), but the cache must be BOUNDED: a
# seconds-cadence apply loop writes 1-2 fresh segments per commit, and a
# grow-only dict becomes a slow driver-heap leak over a day-long stream
# (~230 KB/segment × tens of thousands of commits). LRU keeps the working
# set (the current snapshot's segments + recent history) hot.
_SEGMENT_CACHE_MAX = 4096  # ≈ one million-file table's full segment set

# change-feed key-scoped MOR diff: max rows across the window's new delta
# files for which the distinct-key set is still a safe executor broadcast
# (~1M keys × ~100 B ≈ 100 MB); above it the closure diff amortizes anyway
_KEY_SCOPED_FEED_MAX_ROWS = 1_000_000


class _SegmentCache(OrderedDict):
    # every access path refreshes LRU recency — including plain indexing
    # and setdefault, so a future caller bypassing .get cannot silently
    # degrade the eviction accounting
    def __getitem__(self, key):
        value = super().__getitem__(key)
        self.move_to_end(key)
        return value

    def get(self, key, default=None):
        if key in self:
            return self[key]
        return default

    def setdefault(self, key, default=None):
        if key in self:
            return self[key]
        self[key] = default
        return default

    def __setitem__(self, key, value):
        super().__setitem__(key, value)
        self.move_to_end(key)
        while len(self) > _SEGMENT_CACHE_MAX:
            self.popitem(last=False)

    def update(self, *a, **kw):
        for k, v in OrderedDict(*a, **kw).items():
            self[k] = v


_SEGMENT_CACHE: dict[str, list[dict]] = _SegmentCache()


def _segment_digest(files: list[dict]) -> str:
    """Content address of a manifest segment: stable across writers, so two
    racing commits that produce an identical chunk converge on one file."""
    blob = json.dumps(files, sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


class _LazyFiles:
    """List-shaped view over a snapshot's manifest segments, materialized on
    first element access. ``current()`` on a segment-backed table therefore
    reads ONE small JSON (the snapshot) — the O(files) leaf reads happen
    only when a caller actually enumerates the file list, and the pruned
    read paths (:meth:`LakeTable._files_for_buckets`) never do."""

    __slots__ = ("_loader", "_data")

    def __init__(self, loader):
        self._loader = loader
        self._data: list[dict] | None = None

    def _materialize(self) -> list[dict]:
        if self._data is None:
            self._data = self._loader()
        return self._data

    def __iter__(self):
        return iter(self._materialize())

    def __len__(self):
        return len(self._materialize())

    def __getitem__(self, i):
        return self._materialize()[i]

    def __bool__(self):
        return bool(self._materialize())

    def __contains__(self, x):
        return x in self._materialize()

    def __add__(self, other):
        return self._materialize() + list(other)

    def append(self, item):
        self._materialize().append(item)

    def extend(self, items):
        self._materialize().extend(items)

    def __radd__(self, other):
        return list(other) + self._materialize()

    def __eq__(self, other):
        return self._materialize() == list(other)

    def __repr__(self):
        return f"_LazyFiles({self._data!r})"


@dataclass
class Snapshot:
    version: int
    parent: int | None
    batch_id: int | None          # CDC batch that produced this snapshot
    last_batch_id: int            # high-water mark of applied batches
    schema_version: int
    schemas: dict[int, LakeSchema]
    num_buckets: int
    key_cols: list[str]
    lsn_col: str
    # data files: {"path", "schema_version", "bucket_min", "bucket_max"} —
    # bucket ranges are exact under the range-partitioned write and drive
    # file pruning (an Iceberg-manifest-stats analog)
    files: list[dict]
    lineage: dict | None = None
    metrics: dict | None = None
    code_hash: str | None = None
    # field_id -> LSN of the schema-change event that added the column
    # (engine uses this to gate column fill for events older than the add)
    added_lsn: dict[int, int] = field(default_factory=dict)
    # exactly-once retention watermark: the largest LSN L such that every
    # event with lsn <= L is KNOWN applied. Merge drops source events at or
    # below it (known duplicates), which is what makes folding out tombstones
    # with last_lsn <= L safe — a redelivered stale update can never
    # resurrect a compacted-away delete.
    low_watermark: int = -1
    # what produced this snapshot: create | merge | schema | compact
    operation: str = "merge"
    # highest LSN at-or-below which tombstones may have been folded out by
    # compaction (-1 = none ever dropped). Downstream consumers that replay
    # this table's raw state (merge_lakes) compare it against their own
    # consumed watermark: a drop past that watermark means deletes may have
    # vanished before the consumer saw them → the consumer must rebuild.
    tombstones_dropped_below: int = -1
    # delivery mode of the batch that produced this snapshot (in_order |
    # scatter | stream) — persisted so a checkpoint manifest lost to a crash
    # can be rebuilt with the ORIGINAL mode even if the resume run uses a
    # different one (validate's offset-range disjointness check routes on it)
    delivery: str = "in_order"
    # manifest-segment refs this snapshot was LOADED from (two-level
    # manifest): [{"name", "n_files", "bucket_min", "bucket_max",
    # "has_deltas"}]. None for snapshots built in memory or loaded from the
    # legacy inline-files format. Set by the table loader, never serialized
    # here — _commit_snapshot recomputes the segmentation at write time.
    segments: list[dict] | None = None

    def to_json(self) -> dict:
        return {
            "version": self.version,
            "parent": self.parent,
            "batch_id": self.batch_id,
            "last_batch_id": self.last_batch_id,
            "schema_version": self.schema_version,
            "schemas": {str(k): v.to_json() for k, v in self.schemas.items()},
            "num_buckets": self.num_buckets,
            "key_cols": self.key_cols,
            "lsn_col": self.lsn_col,
            "files": list(self.files),
            "lineage": self.lineage,
            "metrics": self.metrics,
            "code_hash": self.code_hash,
            "added_lsn": {str(k): v for k, v in self.added_lsn.items()},
            "low_watermark": self.low_watermark,
            "operation": self.operation,
            "delivery": self.delivery,
            "tombstones_dropped_below": self.tombstones_dropped_below,
        }

    @classmethod
    def from_json(cls, d: dict) -> "Snapshot":
        return cls(
            version=d["version"],
            parent=d["parent"],
            batch_id=d["batch_id"],
            last_batch_id=d["last_batch_id"],
            schema_version=d["schema_version"],
            schemas={int(k): LakeSchema.from_json(v) for k, v in d["schemas"].items()},
            num_buckets=d["num_buckets"],
            key_cols=d["key_cols"],
            lsn_col=d["lsn_col"],
            files=d["files"],
            lineage=d.get("lineage"),
            metrics=d.get("metrics"),
            code_hash=d.get("code_hash"),
            added_lsn={int(k): v for k, v in d.get("added_lsn", {}).items()},
            low_watermark=d.get("low_watermark", -1),
            operation=d.get("operation", "merge"),
            delivery=d.get("delivery", "in_order"),
            tombstones_dropped_below=d.get("tombstones_dropped_below", -1),
        )

    def name_history(self, field_id: int) -> list[str]:
        """All names a field has had, newest schema version first, deduped —
        used to resolve event `extras` keyed by a historical column name."""
        names: list[str] = []
        for sv in sorted(self.schemas, reverse=True):
            f = self.schemas[sv].by_id().get(field_id)
            if f is not None and f.name not in names:
                names.append(f.name)
        return names

    @property
    def schema(self) -> LakeSchema:
        return self.schemas[self.schema_version]


def _bucket_range_from_footer(path: str) -> tuple[int, int] | None:
    """Min/max of the __bucket column from parquet row-group statistics —
    metadata-only read, no data pages touched."""
    import pyarrow.parquet as pq

    st = _file_stats_from_footer(path)
    return None if st is None else (st["bucket_min"], st["bucket_max"])


# column-stat collection bounds: strings longer than this are not recorded
# (an Iceberg `write.metadata.metrics.truncate` analog — we drop rather than
# truncate-and-increment, which is simpler and equally conservative)
_COL_STAT_MAX_STR = 64
# values JSON-serializable as-is; anything else (bytes, datetime) is skipped
_COL_STAT_TYPES = (bool, int, float, str)


def _file_stats_from_footer(path: str) -> dict | None:
    """Per-file manifest stats from ONE parquet footer read (no data pages):

    - the ``__bucket`` min/max range (manifest-level bucket pruning),
    - whether any row group may contain tombstone rows (boolean column
      statistics: max == True ⇒ present; missing stats ⇒ conservatively
      True) — lets the incremental compactor skip clean files entirely,
    - per-column min/max for every primitive user column (``cols``): the
      Iceberg data-file-metrics analog that :mod:`lake.scan` uses for
      predicate-based FILE skipping. A column's stat is dropped for the
      whole file the moment any row group lacks min/max or a string bound
      exceeds ``_COL_STAT_MAX_STR`` — absence always means "cannot prune",
      never "no rows" (sound for every manifest written before the stat
      existed, too).
    """
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    if md.num_rows == 0:
        return None
    idx = tomb_idx = None
    schema = md.schema
    col_idx: dict[str, int] = {}
    for i in range(len(schema)):
        name = schema.column(i).name
        if name == "__bucket":
            idx = i
        elif name == "__tombstone":
            tomb_idx = i
        elif not name.startswith("__") and "." not in schema.column(i).path:
            col_idx[name] = i
    if idx is None:
        return None
    lo = hi = None
    has_tomb = False
    cols: dict[str, list] = {}
    dead: set[str] = set()
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            # fall back: read just the bucket column
            col = pq.read_table(path, columns=["__bucket"]).column(0)
            vals = [v for v in col.to_pylist() if v is not None]
            if not vals:
                return None
            lo, hi = min(vals), max(vals)
            has_tomb = True  # unknown — stay conservative
            cols = {}
            dead = set(col_idx)
            break
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
        if not has_tomb:
            if tomb_idx is None:
                pass
            else:
                ts = md.row_group(rg).column(tomb_idx).statistics
                if ts is None or not ts.has_min_max:
                    has_tomb = True
                elif bool(ts.max):
                    has_tomb = True
        for name, ci in col_idx.items():
            if name in dead:
                continue
            cs = md.row_group(rg).column(ci).statistics
            if cs is None or not cs.has_min_max:
                # all-null row groups legitimately lack min/max; the column
                # may still have nulls elsewhere — only a FULLY absent stat
                # forces the drop. Track nullability separately if needed.
                if cs is not None and cs.null_count == md.row_group(rg).num_rows:
                    continue  # all-null group: contributes no bound
                dead.add(name)
                cols.pop(name, None)
                continue
            cmin, cmax = cs.min, cs.max
            if not (
                isinstance(cmin, _COL_STAT_TYPES)
                and isinstance(cmax, _COL_STAT_TYPES)
            ) or (
                isinstance(cmin, str) and len(cmin) > _COL_STAT_MAX_STR
            ) or (
                isinstance(cmax, str) and len(cmax) > _COL_STAT_MAX_STR
            ):
                dead.add(name)
                cols.pop(name, None)
                continue
            prev = cols.get(name)
            if prev is None:
                cols[name] = [cmin, cmax]
            else:
                prev[0] = min(prev[0], cmin)
                prev[1] = max(prev[1], cmax)
    if lo is None:
        return None
    out = {
        "bucket_min": lo,
        "bucket_max": hi,
        "has_tombstones": has_tomb,
        # footer row count — lets maintenance policies (rebucket advisor)
        # estimate per-bucket occupancy from manifest metadata alone
        "rows": md.num_rows,
    }
    if cols:
        out["cols"] = cols
    return out


# n_parts -> salts such that pmod(F.hash(salt_g), n_parts) == g: lets a
# repartition place each bucket group in exactly one shuffle partition.
# One tiny driver job per shuffle-partition count per process, then cached.
_SALT_CACHE: dict[int, list[int] | None] = {}


def _partition_salts(spark: SparkSession, n_parts: int) -> list[int] | None:
    if n_parts in _SALT_CACHE:
        return _SALT_CACHE[n_parts]
    rows = (
        spark.range(0, max(1024, 32 * n_parts), 1, 1)
        .select(
            F.col("id").cast("int").alias("s"),
            F.pmod(F.hash(F.col("id").cast("int")), F.lit(n_parts)).alias("p"),
        )
        .collect()  # bounded-collect: driver-only salt probe over a tiny literal range
    )
    by_p: dict[int, int] = {}
    for r in rows:
        by_p.setdefault(r["p"], r["s"])
    salts = [by_p[p] for p in range(n_parts)] if len(by_p) == n_parts else None
    _SALT_CACHE[n_parts] = salts
    return salts


def _atomic_write_json(path: str, payload: dict) -> None:
    """Write JSON then atomically swap into place (POSIX rename atomicity)."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(payload, fh, indent=None, separators=(",", ":"))
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


class CommitConflictError(RuntimeError):
    """Another writer committed the same snapshot version first.

    The losing writer's work is NOT on the table; the caller must re-read
    the current snapshot, recompute against it and commit again (the
    standard optimistic-concurrency retry — Iceberg/Delta commit semantics).
    ``LakeTable.commit_rebase`` automates the retry for operations whose
    file-level changes are disjoint from the concurrent commits'.
    """


class ConcurrentModificationError(RuntimeError):
    """A concurrent commit invalidated this operation's base state in a way
    that CANNOT be rebased: it replaced one of the files this operation also
    rewrote, changed the bucket count, or owns the same metadata (two batch
    merges, two schema changes). The operation's outputs are garbage; the
    caller must recompute against the new head (for the apply loop that
    means re-running the unit's merge — its inputs are still on the log)."""


def _atomic_create_json(path: str, payload: dict) -> None:
    """Like ``_atomic_write_json`` but FAILS if ``path`` already exists.

    ``os.link(tmp, path)`` is the POSIX create-if-absent primitive: exactly
    one of two racing writers can link the name. This is the lake's
    single-commit fence — without it, two engines committing version V+1
    concurrently would silently overwrite each other's snapshot manifest
    and the pointer swap would publish a table whose data files and
    manifest disagree (a lost update).
    """
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(payload, fh, indent=None, separators=(",", ":"))
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise CommitConflictError(
            f"snapshot {path!r} was committed by a concurrent writer; "
            "re-read the table and retry the commit"
        ) from None
    finally:
        os.unlink(tmp)


# ---------------------------------------------------------------------------
# LakeTable
# ---------------------------------------------------------------------------


class LakeTable:
    """A versioned, bucketed, upsertable table on local/posix parquet storage."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._config_cache: dict | None = None
        # write-audit-publish mode: commits from this handle carry a staged
        # marker — invisible to current()/read() until lake/wap.py publishes
        self.staged_writes = False

    # -- locations ---------------------------------------------------------
    @property
    def _pointer_path(self) -> str:
        return os.path.join(self.root, "_pointer.json")

    @property
    def _config_path(self) -> str:
        return os.path.join(self.root, "table_config.json")

    def _staged_marker_path(self, version: int) -> str:
        return os.path.join(self.root, "snapshots", f"v{version:08d}.staged")

    def _snapshot_path(self, version: int) -> str:
        return os.path.join(self.root, "snapshots", f"v{version:08d}.json")

    @property
    def _manifest_dir(self) -> str:
        return os.path.join(self.root, "manifests")

    def _segment_path(self, name: str) -> str:
        return os.path.join(self._manifest_dir, name)

    def _data_dir(self, version: int) -> str:
        # uuid suffix: two writers optimistically racing toward the same
        # version number write to DISJOINT directories, so the fence loser's
        # mode("overwrite") write can never clobber files the winner already
        # committed — the loser's directory is inert garbage until GC. The
        # version prefix is purely cosmetic (reads go through manifest paths).
        return os.path.join(
            self.root, "data", f"commit-{version:08d}-{uuid.uuid4().hex[:8]}"
        )

    def localize_path(self, path: str) -> str:
        """Re-root a manifest data-file path onto this table's root. The
        suffix under ``<root>/data/`` is invariant, so a table whose whole
        directory was atomically renamed into place (merge_lakes' rebuild
        swap) still resolves every file recorded under its build root."""
        marker = os.sep + "data" + os.sep
        i = path.rfind(marker)
        if i == -1:
            return path
        return os.path.join(self.root, "data", path[i + len(marker):])

    # -- lifecycle ----------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: LakeSchema,
        key_cols: list[str],
        lsn_col: str = "last_lsn",
        num_buckets: int = 16,
        added_lsn: dict[int, int] | None = None,
        bloom_cols: list[str] | dict[str, int] | None = None,
        write_options: dict[str, str] | None = None,
    ) -> "LakeTable":
        """``bloom_cols`` opts named columns into parquet-native bloom
        filters on every data-file write (a list, or a dict mapping column →
        expected per-file distinct values to size the filter). Point/IN
        predicates on high-cardinality columns (commit hashes) then skip row
        groups EXECUTOR-side during the scan — the layer below manifest
        min/max file skipping (lake/scan.py), which cannot prune a column
        whose per-file range spans the whole domain. Stored in
        ``table_config.json``; every writer (merge, compaction, DML rewrite,
        z-order) applies it."""
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        table = cls(spark, root)
        if bloom_cols:
            unknown = [
                c for c in bloom_cols if c not in {f.name for f in schema.fields}
            ]
            if unknown:
                raise ValueError(f"unknown bloom columns: {unknown}")
        if bloom_cols or write_options:
            _atomic_write_json(
                table._config_path,
                {
                    **({"bloom_cols": bloom_cols} if bloom_cols else {}),
                    **({"write_options": write_options} if write_options else {}),
                },
            )
        snap = Snapshot(
            version=0,
            parent=None,
            batch_id=None,
            last_batch_id=-1,
            schema_version=1,
            schemas={1: schema},
            added_lsn=dict(added_lsn or {}),
            num_buckets=num_buckets,
            key_cols=key_cols,
            lsn_col=lsn_col,
            files=[],
            operation="create",
        )
        table._commit_snapshot(snap)
        return table

    def exists(self) -> bool:
        return os.path.exists(self._pointer_path)

    # expected per-file distinct values when bloom_cols gives only a name;
    # parquet-mr sizes the filter at ~13 bits/value for its default 1% fpp
    _BLOOM_DEFAULT_NDV = 50_000

    def table_config(self) -> dict:
        """Table-level (cross-snapshot) properties from ``table_config.json``
        — immutable writer policy like bloom columns, read once per handle.
        Distinct from snapshots on purpose: these never change per commit,
        so they don't belong in the versioned manifest chain."""
        if self._config_cache is None:
            try:
                with open(self._config_path) as fh:
                    self._config_cache = json.load(fh)
            except FileNotFoundError:
                self._config_cache = {}
        return self._config_cache

    # lake data files default to zstd, Iceberg's parquet default since 1.4.
    # Snappy has no entropy coding, so it cannot shrink the hex columns
    # (content_sha256, commit) that make up over half of a stored row.
    # Measured on the cdcbench workloads (4 vCPUs, medians of 10 runs):
    # bytes written per user byte 0.712 -> 0.401 on mor_mixed and
    # 0.273 -> 0.147 on bulk_replay, stored bytes per visible byte
    # 0.823 -> 0.463 and 0.698 -> 0.375; set-up time and peak RSS moved
    # within run-to-run noise. The cost is encode CPU: ~20% more executor
    # CPU in bulk_replay's merge write, none visible on mor_mixed's.
    _DEFAULT_CODEC = "zstd"
    # Spark ranks the ``compression`` option above ``parquet.compression``
    # (ParquetOptions), and option keys are case-insensitive
    _CODEC_KEYS = ("compression", "parquet.compression")

    def _parquet_write_options(self, columns) -> dict[str, str]:
        """Per-write parquet options from the table config: the codec, then
        bloom filters for every configured column present in this write's
        schema. Columns renamed since CREATE simply stop matching (bloom
        lapses until the config is updated) — never an error, never a wrong
        result, because blooms only ever *skip* row groups the scan proves
        irrelevant."""
        bloom = self.table_config().get("bloom_cols") or {}
        if isinstance(bloom, list):
            bloom = {c: self._BLOOM_DEFAULT_NDV for c in bloom}
        # generic writer passthrough first (codec, dictionary/page sizing)
        # so bloom settings cannot be clobbered
        opts: dict[str, str] = {
            str(k): str(v)
            for k, v in (self.table_config().get("write_options") or {}).items()
        }
        # a codec the table names under either key wins: injecting the
        # default as ``compression`` beside a configured
        # ``parquet.compression`` would silently override it
        if not any(k.lower() in self._CODEC_KEYS for k in opts):
            opts["compression"] = self._DEFAULT_CODEC
        cols = set(columns)
        for col, ndv in bloom.items():
            if col in cols:
                opts[f"parquet.bloom.filter.enabled#{col}"] = "true"
                opts[f"parquet.bloom.filter.expected.ndv#{col}"] = str(int(ndv))
        return opts

    def head(self) -> Snapshot:
        """The latest COMMITTED snapshot, staged or published — the writer
        plane's base (merges, schema evolution, maintenance all stack on the
        staged chain). The exclusive CREATE of the snapshot manifest is the
        commit point (see ``_commit_snapshot``); the pointer is a
        convenience cache of max(version). A crash between the create and
        the pointer swap leaves the pointer stale — heal it here by taking
        the manifest directly above it when one exists (there can be at most
        one: the fence admits a single writer per version)."""
        with open(self._pointer_path) as fh:
            version = json.load(fh)["version"]
        healed = version
        # Walk ALL the way forward: concurrent fenced writers may have
        # advanced several versions past a stale pointer, and a single-step
        # heal would return a non-latest snapshot as "current".
        while os.path.exists(self._snapshot_path(healed + 1)):
            healed += 1
        if healed != version:
            # Re-read before replacing so a reader holding an old pointer
            # value never regresses a pointer another writer has already
            # advanced further (write only if we are strictly ahead).
            with open(self._pointer_path) as fh:
                on_disk = json.load(fh)["version"]
            if healed > on_disk:
                _atomic_write_json(self._pointer_path, {"version": healed})
        return self._snapshot_from_raw(self._raw_snapshot(healed))

    def is_staged(self, version: int) -> bool:
        return os.path.exists(self._staged_marker_path(version))

    def current(self) -> Snapshot:
        """The latest PUBLISHED snapshot — the reader plane. Write-audit-
        publish (``staged_writes``) commits snapshots behind a staged marker;
        readers walk past them to the newest marker-free ancestor, so a
        half-audited batch train is never served. Publishing removes markers
        oldest-first (lake/wap.py), keeping the published set a prefix of
        the chain at every instant. Cost: O(staged-chain length) small JSON
        reads, zero when nothing is staged (the common case)."""
        snap = self.head()
        while snap.parent is not None and self.is_staged(snap.version):
            snap = self._snapshot_from_raw(self._raw_snapshot(snap.parent))
        return snap

    def snapshot_at(self, version: int) -> Snapshot:
        return self._snapshot_from_raw(self._raw_snapshot(version))

    # -- two-level manifest (snapshot → segment refs → file entries) ---------
    def _raw_snapshot(self, version: int) -> dict:
        with open(self._snapshot_path(version)) as fh:
            return json.load(fh)

    def _load_segment(self, name: str) -> list[dict]:
        path = self._segment_path(name)
        seg = _SEGMENT_CACHE.get(path)
        if seg is None:
            with open(path) as fh:
                seg = json.load(fh)["files"]
            _SEGMENT_CACHE[path] = seg
        return seg

    def _snapshot_from_raw(self, d: dict) -> Snapshot:
        """Resolve a snapshot JSON into a Snapshot. Segment-backed manifests
        (``segments`` key) get a lazy file list — loading the snapshot costs
        one small read regardless of table size; legacy inline-``files``
        manifests load as before."""
        segs = d.get("segments")
        if segs is None:
            return Snapshot.from_json(d)
        snap = Snapshot.from_json({**d, "files": []})
        snap.segments = segs
        snap.files = _LazyFiles(
            lambda: [f for ref in segs for f in self._load_segment(ref["name"])]
        )
        return snap

    def _write_segments(self, snap: Snapshot) -> list[dict]:
        """Segment the snapshot's file list, REUSING every parent segment
        whose files are all unchanged. Commit I/O is therefore O(files in
        touched segments + new files), not O(table): a bucket-pruned merge
        that rewrites one bucket re-writes the one segment covering it and
        re-references the rest. Leftover files are chunked in bucket order so
        segments stay bucket-coherent — that is what makes both the reuse
        test above true under bucket-local writes AND the segment-ref ranges
        tight for two-level read pruning (:meth:`_files_for_buckets`).
        Segments are immutable and content-addressed, so racing writers
        producing an identical chunk converge on one file and a fence loser's
        unreferenced segments are garbage (collected by expire_snapshots)."""
        os.makedirs(self._manifest_dir, exist_ok=True)
        new_files = list(snap.files)
        remaining = {f["path"]: f for f in new_files}
        refs: list[dict] = []
        parent_refs: list[dict] = []
        # duplicate path entries (corruption, or a validator fixture) must
        # survive the round-trip byte-for-byte — the path-keyed reuse map
        # would collapse them, so such manifests chunk fresh with no reuse
        if len(remaining) != len(new_files):
            for i in range(0, len(new_files), SEGMENT_MAX_FILES):
                chunk = new_files[i : i + SEGMENT_MAX_FILES]
                refs.append(self._put_segment(chunk))
            return refs
        if snap.parent is not None and os.path.exists(self._snapshot_path(snap.parent)):
            parent_refs = self._raw_snapshot(snap.parent).get("segments") or []
        for ref in parent_refs:
            seg = self._load_segment(ref["name"])
            if seg and all(remaining.get(f["path"]) == f for f in seg):
                refs.append(ref)
                for f in seg:
                    remaining.pop(f["path"])
        leftover = [f for f in new_files if f["path"] in remaining]
        leftover.sort(key=lambda f: (f["bucket_min"], f["bucket_max"], f["path"]))
        for i in range(0, len(leftover), SEGMENT_MAX_FILES):
            refs.append(self._put_segment(leftover[i : i + SEGMENT_MAX_FILES]))
        return refs

    def _put_segment(self, chunk: list[dict]) -> dict:
        """Write one immutable content-addressed segment (no-op if the same
        content already exists) and return its snapshot ref."""
        name = f"seg-{_segment_digest(chunk)}.json"
        path = self._segment_path(name)
        if not os.path.exists(path):
            _atomic_write_json(path, {"files": chunk})
        _SEGMENT_CACHE[path] = chunk
        return {
            "name": name,
            "n_files": len(chunk),
            "bucket_min": min(f["bucket_min"] for f in chunk),
            "bucket_max": max(f["bucket_max"] for f in chunk),
            "has_deltas": any(f.get("delta") for f in chunk),
        }

    def history(self) -> list[int]:
        snaps = os.listdir(os.path.join(self.root, "snapshots"))
        return sorted(int(s[1:-5]) for s in snaps if s.endswith(".json"))

    def _commit_snapshot(self, snap: Snapshot, staged: bool | None = None) -> None:
        # exclusive create = the commit fence (see _atomic_create_json): the
        # loser of a version race gets CommitConflictError before the
        # pointer moves. The pointer swap itself is a plain atomic replace —
        # it only ever advances to a snapshot whose manifest won its create.
        # The file list commits as two-level manifest-segment refs (written
        # BEFORE the fence: segments are content-addressed and inert until a
        # snapshot references them, so a loser's segments are mere garbage).
        payload = snap.to_json()
        payload["segments"] = self._write_segments(snap)
        del payload["files"]
        staged = self.staged_writes if staged is None else staged
        if staged and snap.version > 0:
            # marker BEFORE the fence: the instant the snapshot becomes
            # visible it is already staged. A fence loser removes its
            # orphaned marker below so it cannot shadow the winner's commit.
            _atomic_write_json(
                self._staged_marker_path(snap.version), {"staged": True}
            )
        try:
            _atomic_create_json(self._snapshot_path(snap.version), payload)
        except CommitConflictError:
            if staged and snap.version > 0:
                try:
                    os.remove(self._staged_marker_path(snap.version))
                except FileNotFoundError:
                    pass
            raise
        if not staged:
            # a published commit clears any marker a crashed/conflicting
            # staged writer may have left for this version number
            try:
                os.remove(self._staged_marker_path(snap.version))
            except FileNotFoundError:
                pass
        _atomic_write_json(self._pointer_path, {"version": snap.version})

    def commit_rebase(
        self,
        new_snap: Snapshot,
        base: Snapshot,
        added: list[dict],
        replaced_paths: set[str],
        owns_batch: bool = False,
        max_retries: int = 5,
    ) -> Snapshot:
        """Optimistic-concurrency commit with automatic rebase (the
        Iceberg commit-retry model). ``new_snap`` was built against
        ``base``; it removed ``replaced_paths`` from the manifest and added
        the ``added`` file entries. On a fence conflict, re-read the head
        and REBASE — splice the same file change onto the winner's manifest
        and inherit every metadata field this operation does not own — iff
        the concurrent commits are compatible:

        - every replaced file must still be live in the head (a concurrent
          commit that rewrote one of them already folded or replaced rows
          this operation read — splicing would resurrect them);
        - the bucket count must be unchanged (file bucket ranges and the
          write layout assume it);
        - if this operation changed the schema (``update_schema``), no
          concurrent schema change may have landed (field-id / version
          number assignment would collide);
        - if this operation is a batch merge (``owns_batch``), no
          concurrent commit may have advanced ``last_batch_id`` or the
          retention watermark (two concurrent merges = two writers racing
          the same exactly-once guard — serialize them upstream).

        Incompatible → :class:`ConcurrentModificationError`; the operation
        must be recomputed from the new head. This is what lets a
        minutes-long OPTIMIZE land against a seconds-cadence apply loop
        (disjoint buckets rebase instead of starving) while a same-bucket
        race still fails loudly instead of corrupting state.
        """
        owns_schema = new_snap.schema_version != base.schema_version
        attempt = new_snap
        for _ in range(max_retries + 1):
            try:
                self._commit_snapshot(attempt)
                return attempt
            except CommitConflictError:
                head = self.head()
                if head.num_buckets != base.num_buckets:
                    raise ConcurrentModificationError(
                        "bucket count changed concurrently "
                        f"({base.num_buckets} -> {head.num_buckets}); "
                        "recompute against the new head"
                    ) from None
                if owns_schema and head.schema_version != base.schema_version:
                    raise ConcurrentModificationError(
                        "concurrent schema change landed; re-derive this "
                        "schema change from the new head"
                    ) from None
                if owns_batch and (
                    head.last_batch_id != base.last_batch_id
                    or head.low_watermark != base.low_watermark
                ):
                    raise ConcurrentModificationError(
                        "a concurrent batch commit advanced the exactly-once "
                        "guard; re-run this unit's merge against the new head"
                    ) from None
                head_paths = {f["path"] for f in head.files}
                missing = replaced_paths - head_paths
                if missing:
                    raise ConcurrentModificationError(
                        f"{len(missing)} file(s) this operation rewrote were "
                        "replaced by a concurrent commit (overlapping "
                        "buckets); recompute against the new head"
                    ) from None
                attempt = _dc_replace(
                    new_snap,
                    version=head.version + 1,
                    parent=head.version,
                    files=[
                        f for f in head.files if f["path"] not in replaced_paths
                    ] + list(added),
                    # fields this operation does not own follow the head
                    schemas=new_snap.schemas if owns_schema else head.schemas,
                    schema_version=(
                        new_snap.schema_version if owns_schema
                        else head.schema_version
                    ),
                    added_lsn=(
                        new_snap.added_lsn if owns_schema else head.added_lsn
                    ),
                    last_batch_id=(
                        new_snap.last_batch_id if owns_batch
                        else head.last_batch_id
                    ),
                    low_watermark=max(
                        new_snap.low_watermark, head.low_watermark
                    ),
                    tombstones_dropped_below=max(
                        new_snap.tombstones_dropped_below,
                        head.tombstones_dropped_below,
                    ),
                )
        raise ConcurrentModificationError(
            f"commit lost the fence {max_retries + 1} times in a row; "
            "the table is under very heavy concurrent write load"
        )

    # -- read ---------------------------------------------------------------
    def _bucket_expr(self, num_buckets: int, key_cols: list):  # names or Columns
        return F.pmod(F.xxhash64(*key_cols), F.lit(num_buckets)).cast("int")

    def _write_group(self, snap: "Snapshot"):
        """The write layout's group expression over ``__bucket``: bucket
        group *g* (``n`` contiguous bucket ranges, ``n`` = the session's
        shuffle-partition count) hashes to shuffle partition *g* of a
        count-free ``repartition("__grp")``. AQE's partition coalescer merges
        only adjacent partitions, so each written file still covers one
        contiguous bucket range, and the file count follows the bytes the
        commit shuffles: one file below ~1 MiB, up to one per shuffle
        partition (``get_spark`` sets one per core) for a large commit."""
        n_parts = self.spark._jsparkSession.sessionState().conf().numShufflePartitions()
        group = F.floor(F.col("__bucket") * n_parts / snap.num_buckets).cast("int")
        salts = _partition_salts(self.spark, n_parts)
        if salts is not None:
            salt_arr = F.array(*[F.lit(s) for s in salts])
            group = F.element_at(salt_arr, group + 1)
        return group.cast("int")

    def _read_files(
        self, snap: Snapshot, files: list[dict], raw: bool = False
    ) -> DataFrame:
        """Read a set of data files, aligning each schema version to current.

        Alignment is by field id: renamed columns map via id, added columns
        null-fill, widened types cast — so old files never need rewriting.

        Every data file carries two implicit columns:
        - ``__tombstone boolean``: deletes are retained as tombstone rows
          (nulled values, last_lsn = delete LSN) so a late *stale* update
          cannot resurrect a deleted key. Visible reads filter them.
        - ``__extras map<string,string>``: the writing event's dynamic-column
          values. For columns added by schema evolution, visible reads fall
          back to ``__extras`` (gated by the column's add LSN) so rows merged
          *before* a late-arriving add_column still surface their values.

        ``raw=True`` keeps both implicit columns and skips the extras
        materialization — used by merge itself.
        """
        current = snap.schema
        implicit = [
            T.StructField(TOMBSTONE_COL, T.BooleanType(), True),
            T.StructField(EXTRAS_COL, T.MapType(T.StringType(), T.StringType()), True),
        ]
        full_schema = T.StructType(current.spark_schema().fields + implicit)
        if not files:
            return empty_frame(self.spark, full_schema if raw else current.spark_schema())
        by_sv: dict[int, list[str]] = {}
        for f in files:
            by_sv.setdefault(f["schema_version"], []).append(self.localize_path(f["path"]))
        parts: list[DataFrame] = []
        for sv, paths in sorted(by_sv.items()):
            old = snap.schemas[sv]
            read_schema = T.StructType(old.spark_schema().fields + implicit)
            df = self.spark.read.schema(read_schema).parquet(*paths)
            old_by_id = old.by_id()
            cols = []
            for fld in current.fields:
                src = old_by_id.get(fld.field_id)
                if src is None:
                    cols.append(F.lit(None).cast(_SPARK_TYPES[fld.type]).alias(fld.name))
                else:
                    cols.append(F.col(src.name).cast(_SPARK_TYPES[fld.type]).alias(fld.name))
            cols.append(F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)).alias(TOMBSTONE_COL))
            cols.append(F.col(EXTRAS_COL).alias(EXTRAS_COL))
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if raw:
            return out
        return self._visible(out, snap)

    def _materialized_col(self, fld: LakeField, snap: Snapshot):
        """The visible value of one schema field: for an evolution-added
        column, rows applied before the add landed (out-of-order delivery)
        carry the value only in ``__extras`` — coalesce it in, LSN-gated so
        rows that semantically predate the column stay null."""
        if fld.field_id not in snap.added_lsn:
            return F.col(fld.name)
        lookups = [
            F.element_at(F.col(EXTRAS_COL), n)
            for n in snap.name_history(fld.field_id)
        ]
        fallback = F.when(
            F.col(snap.lsn_col) > F.lit(snap.added_lsn[fld.field_id]),
            F.coalesce(*lookups) if len(lookups) > 1 else lookups[0],
        ).cast(_SPARK_TYPES[fld.type])
        return F.coalesce(F.col(fld.name), fallback).alias(fld.name)

    def _materialize_extras(self, out: DataFrame, snap: Snapshot) -> DataFrame:
        """Apply the extras materialization IN PLACE (implicit columns kept):
        the projection :meth:`_visible` performs before hiding the implicit
        columns. The change feed applies it too, so post/preimages of
        evolution-added columns match what ``read()`` serves rather than the
        raw (possibly null) stored cell."""
        if not snap.added_lsn:
            return out
        by_name = {f.name: f for f in snap.schema.fields}
        return out.select(
            *[
                self._materialized_col(by_name[c], snap) if c in by_name else F.col(c)
                for c in out.columns
            ]
        )

    def _visible(self, out: DataFrame, snap: Snapshot) -> DataFrame:
        """Raw (net) rows → the user-visible projection: tombstones filtered,
        evolution-added columns materialized from __extras for rows written
        before the add_column was known, implicit columns hidden."""
        out = out.filter(~F.col(TOMBSTONE_COL))
        return out.select(
            *[self._materialized_col(fld, snap) for fld in snap.schema.fields]
        )

    def read(self) -> DataFrame:
        snap = self.current()
        return self._visible(self._net_raw(snap, snap.files), snap)

    def read_at(self, version: int) -> DataFrame:
        """Time travel: the visible state AS OF a committed snapshot version
        (schema as of that version, deltas folded, tombstones hidden).
        Snapshots are immutable, so this is exactly the historical read —
        valid until ``expire_snapshots`` garbage-collects the version."""
        snap = self.snapshot_at(version)
        return self._visible(self._net_raw(snap, snap.files), snap)

    def read_raw(self) -> DataFrame:
        """Current NET state INCLUDING tombstone rows (and the implicit
        ``__tombstone``/``__extras`` columns) — the representation a
        CDC-faithful cross-table merge needs: a delete in one source must
        out-rank an older update for the same key in another source.
        Merge-on-read delta rows are folded to their per-key winners."""
        snap = self.current()
        return self._net_raw(snap, snap.files)

    def changes(
        self,
        v_from: int,
        v_to: int | None = None,
        include_preimage: bool = False,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Change data feed: the NET row-level changes between two committed
        snapshots, emitted as full rows plus a ``_change_type`` column
        (``upsert`` | ``delete``).

        ``include_preimage=True`` additionally emits the ``v_from``-visible
        row of every key that was updated or deleted, tagged
        ``update_preimage`` (the Delta-CDF preimage analog). Preimages carry
        the OLD values — which also gives delete consumers the deleted row's
        content (the ``delete`` postimage is a tombstone with nulled
        values). This is what makes downstream aggregates incrementally
        maintainable (subtract the preimage's contribution, add the
        postimage's — :mod:`translator_ingests_spark.lake.derived`) with no
        second snapshot read: the preimage side is the same pruned ``before``
        scan the diff already performs.

        Plan shape (scale path): only files NEW in ``v_to`` are read from the
        target side — COW rewrites whole bucket files, so every change lives
        in a new file — and the ``v_from`` side reads only files whose bucket
        range overlaps those rewritten files (manifest pruning, no full-table
        scan of either version). A signed-count diff then cancels the
        carried-over unchanged rows: cost ∝ rewritten buckets, not table
        size. Deletes surface as their tombstone rows (key columns + delete
        LSN, values null); a delete whose tombstone was created AND
        compaction-dropped inside the window is synthesized (lsn =
        ``low_watermark`` — see the inline proof), while drops of tombstones
        created before ``v_from`` are retention bookkeeping, not data
        changes, and are not emitted.

        ``columns`` prunes the feed to the key columns plus the named
        columns BEFORE diffing: the scans never read the other columns
        (parquet column pruning — at a 1 KB ``content`` this is most of the
        I/O and all of the diff-shuffle width) and a key whose projected
        columns are unchanged does not emit at all. That narrower change
        definition is exactly what a projection-scoped consumer (an
        aggregate over two columns) wants; full-row consumers (replication)
        leave it None.

        Evolution-added columns are MATERIALIZED from ``__extras`` on both
        sides before diffing (same projection as ``read()``), so the feed's
        values match the visible state even for rows whose added-column
        value still lives in the hidden extras map. Caveat: the raw extras
        map itself is excluded from the diff (set operations don't support
        map columns), so a rewrite that changed only extras entries that no
        added column reads does not emit.
        """
        s_to = self.snapshot_at(v_to) if v_to is not None else self.current()
        s_from = self.snapshot_at(v_from)
        old_paths = {f["path"] for f in s_from.files}
        to_paths = {f["path"] for f in s_to.files}
        new_files = [f for f in s_to.files if f["path"] not in old_paths]
        # files REMOVED WITHOUT REPLACEMENT: every visible row they held was
        # deleted and its tombstone compaction-dropped inside the window, so
        # no new file covers their buckets — the new-file ranges alone would
        # never read them and their disappearance (a real data change, the
        # vanished-delete case) would go unseen. They join the before side /
        # closure seed explicitly, BY PATH, not by widening the range
        # overlap — a still-present old file sharing a bucket with a removed
        # one holds unchanged rows that must stay out of the one-sided diff.
        removed = [f for f in s_from.files if f["path"] not in to_paths]
        ranges = [(f["bucket_min"], f["bucket_max"]) for f in new_files]
        seed = set()
        for lo, hi in ranges:
            seed.update(range(lo, hi + 1))
        for f in removed:
            seed.update(range(f["bucket_min"], f["bucket_max"] + 1))
        mor = any(f.get("delta") for f in s_to.files) or any(
            f.get("delta") for f in s_from.files
        )
        if s_from.num_buckets != s_to.num_buckets:
            # a rebucket happened between the versions: bucket VALUES are
            # not comparable across moduli (file ranges recorded under
            # different hash spaces), so cross-version range pruning is
            # invalid — diff the full net states instead. O(both sides),
            # which is what a cross-rebucket diff costs anyway: the
            # rebucket rewrote every file.
            after = self._net_raw(s_to, s_to.files)
            before = self._net_raw(s_to, s_from.files)
            before_empty = not s_from.files
        elif mor:
            # merge-on-read: a new delta file's row is a net change only if
            # it WINS the fold at v_to, so both sides must be the folded NET
            # state of the touched buckets (closure-complete subsets; cost ∝
            # touched buckets, same as the COW path below). exceptAll then
            # cancels the unchanged carried-over rows exactly as before.
            #
            # KEY-SCOPED fast path: when every new file is a delta file and
            # nothing was removed (a pure MOR commit train — no compaction
            # or COW merge in the window), every changed key MUST appear in
            # some new delta file; keys outside them fold identically on
            # both sides and would only cancel in the diff. Restricting
            # both sides to the delta keys — INSIDE the fold, so the LWW
            # aggregation itself shrinks — collapses the fold + diff
            # shuffles from O(bucket closure) to O(churn). Gated on the
            # manifest's per-file row counts so the broadcast key set stays
            # executor-safe.
            churn_rows = [f.get("rows") for f in new_files]
            restrict = None
            if (
                new_files
                and all(f.get("delta") for f in new_files)
                and old_paths <= {f["path"] for f in s_to.files}
                and all(r is not None for r in churn_rows)
                and sum(churn_rows) <= _KEY_SCOPED_FEED_MAX_ROWS
            ):
                restrict = (
                    self._read_files(s_to, new_files, raw=True)
                    .select(*s_to.key_cols)
                    .distinct()
                )
            after = self._net_raw(
                s_to, self._bucket_closure(s_to.files, seed),
                restrict_keys=restrict,
            )
            # s_from's FILES under s_to's schema mapping (s_to.schemas holds
            # every historical version) so both diff sides align by field id
            before_closure = self._bucket_closure(s_from.files, seed)
            before = self._net_raw(s_to, before_closure, restrict_keys=restrict)
            before_empty = not before_closure
        else:
            # COW invariant: every row in a NEW file was either carried from
            # a REMOVED file or came from the batch — so the before side is
            # exactly the removed-by-path files. Selecting by bucket-range
            # overlap instead is WRONG: a merge can write one new file whose
            # contiguous bucket-group range spans a live file it never
            # touched (live files [0,1] and [2,2]; batch touching buckets 0
            # and 3 writes one file [0,3]) — that untouched file's rows
            # would land in `before` with no counterpart in `after`, and
            # the vanished-delete synthesis below would emit deletes for
            # keys still visible at v_to.
            after = self._read_files(s_to, new_files, raw=True)
            before = self._read_files(s_to, removed, raw=True)
            before_empty = not removed
        # materialize evolution-added columns on BOTH sides (feed values ==
        # visible values), then drop the map column — row-equality diffs
        # can't compare it
        after = self._materialize_extras(after, s_to).drop(EXTRAS_COL)
        before = self._materialize_extras(before, s_to).drop(EXTRAS_COL)
        if columns is not None:
            known = set(after.columns)
            unknown = [c for c in columns if c not in known]
            if unknown:
                raise ValueError(f"unknown feed columns: {unknown}")
            keep = list(
                dict.fromkeys([*s_to.key_cols, *columns, TOMBSTONE_COL])
            )
            after = after.select(*keep)
            before = before.select(*keep)
        if before_empty:
            # bootstrap / nothing-to-diff window: every LIVE after row is
            # the change (no preimages, no vanished keys possible) — skip
            # the diff aggregation entirely, so a full-table bootstrap poll
            # is one scan with no shuffle at all. Tombstones are NOT
            # emitted: the key did not exist at v_from, so a delete would
            # be a no-op the composition contract forbids (read_at(v_from)
            # + feed must equal read_at(v_to) with every row load-bearing).
            return (
                after.filter(
                    ~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))
                )
                .withColumn("_change_type", F.lit("upsert"))
                .drop(TOMBSTONE_COL)
            )
        # Both diff directions in ONE aggregation pass (each side holds at
        # most one row per key, so the signed row count is +1 =
        # postimage-only, -1 = preimage-only, 0 = carried over) instead of
        # two exceptAll shuffles over the same inputs.
        #
        # VANISHED-DELETE SYNTHESIS: a key deleted AND tombstone-compacted
        # inside the same window leaves no row at all at v_to — the diff
        # shows only an orphan negative (a preimage with no postimage and
        # no v_from tombstone). That IS a data change and must emit as a
        # delete, or a replica synced across the window resurrects the key
        # forever. The synthesized delete carries lsn = v_to's
        # low_watermark: the drop gate guarantees the true delete LSN D ≤
        # watermark, every already-applied event is ≤ watermark, and any
        # FUTURE event for the key must exceed the watermark (events at or
        # below it are dropped as known duplicates) — so the watermark
        # totally orders the synthesized delete exactly where D would.
        # Drops of tombstones created BEFORE v_from stay non-events: the
        # before side's row is itself a tombstone then (excluded below) —
        # that disappearance is retention bookkeeping, and the delete was
        # already emitted in the window that created the tombstone.
        from pyspark.sql.window import Window

        cols = after.columns
        tagged = after.withColumn("__side", F.lit(1)).unionByName(
            before.withColumn("__side", F.lit(-1))
        )
        is_tomb = F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))
        key_win = Window.partitionBy(*s_to.key_cols)
        diff = (
            tagged.groupBy(*cols)
            .agg(F.sum("__side").alias("__d"))
            .filter(F.col("__d") != 0)
            .withColumn(
                "__has_post",
                F.max(F.when(F.col("__d") > 0, 1).otherwise(0)).over(
                    key_win
                ),
            )
            # was the key VISIBLE (a live, non-tombstone row) at v_from?
            # A post-side tombstone whose before-side row was itself a
            # tombstone is a dead→dead transition (re-delete of an absent
            # key, or an LSN bump from DML over a dropped-and-reinserted-
            # and-redeleted key): the key is in neither endpoint's visible
            # state, so emitting a delete would be spurious — harmless to
            # an LWW applier, but a feed row that changes nothing violates
            # the composition contract and (worse) carries a fresh LSN
            # that can outrank a replica's live row on overlapping redelivery.
            .withColumn(
                "__live_pre",
                F.max(
                    F.when((F.col("__d") < 0) & ~is_tomb, 1).otherwise(0)
                ).over(key_win),
            )
        )
        post = diff.filter(
            (F.col("__d") > 0) & (~is_tomb | (F.col("__live_pre") == 1))
        ).withColumn(
            "_change_type",
            F.when(is_tomb, F.lit("delete")).otherwise(F.lit("upsert")),
        )
        vanished = diff.filter(
            (F.col("__d") < 0) & (F.col("__has_post") == 0) & ~is_tomb
        )
        keep_keys = set(s_to.key_cols)
        types = {f.name: f.dataType for f in diff.schema.fields}
        synth = vanished.select(
            *[
                F.col(c)
                if c in keep_keys
                else F.lit(True).cast(types[c]).alias(c)
                if c == TOMBSTONE_COL
                else F.lit(s_to.low_watermark).cast(types[c]).alias(c)
                if c == s_to.lsn_col
                else F.lit(None).cast(types[c]).alias(c)
                for c in cols
            ],
            F.col("__d"),
            F.col("__has_post"),
            F.col("__live_pre"),
            F.lit("delete").alias("_change_type"),
        )
        out = post.unionByName(synth)
        if include_preimage:
            pre = diff.filter((F.col("__d") < 0) & ~is_tomb).withColumn(
                "_change_type", F.lit("update_preimage")
            )
            out = out.unionByName(pre)
        return out.drop(TOMBSTONE_COL, "__d", "__has_post", "__live_pre")

    @staticmethod
    def _files_overlapping(snap: Snapshot, buckets: list[int]) -> list[dict]:
        """Manifest-level file pruning: files whose bucket range intersects
        the requested buckets (ranges are tight under the range-partitioned
        write, so this is ≈ exact bucket pruning)."""
        wanted = set(buckets)
        return [
            f for f in snap.files
            if any(f["bucket_min"] <= b <= f["bucket_max"] for b in wanted)
        ]

    @staticmethod
    def _bucket_closure(files: list[dict], seed_buckets) -> list[dict]:
        """Transitive bucket-overlap closure: starting from ``seed_buckets``,
        include every file whose range intersects the growing bucket set and
        fold its whole range back in, to a fixed point.

        Why: merge-on-read delta files OVERLAP base files by key, so any
        subset that is read-and-folded (or read-and-rewritten) must contain
        *every* file holding rows for *every* key in *every* included file —
        whole-file granularity makes that the overlap closure. Pure manifest
        math (O(files · num_buckets) driver-side), no data read. With no
        delta files the COW invariant (a key lives in exactly one file)
        makes the closure unnecessary; callers use :meth:`_files_overlapping`
        there."""
        bset = set(seed_buckets)
        out: list[dict] = []
        pending = list(files)
        changed = True
        while changed:
            changed = False
            rest = []
            for f in pending:
                if any(f["bucket_min"] <= b <= f["bucket_max"] for b in bset):
                    out.append(f)
                    rng = set(range(f["bucket_min"], f["bucket_max"] + 1))
                    if not rng <= bset:
                        bset |= rng
                        changed = True
                else:
                    rest.append(f)
            pending = rest
        return out

    def _net_raw(
        self,
        snap: Snapshot,
        files: list[dict],
        restrict_keys: DataFrame | None = None,
    ) -> DataFrame:
        """NET raw state of a file subset: base rows and merge-on-read delta
        rows resolved to one row per key (tombstones retained, hidden
        columns kept). ``files`` must be fold-complete for its delta rows —
        either the whole snapshot, or a :meth:`_bucket_closure` subset.

        Plan shape (the MOR read path): base files whose bucket range never
        meets a delta file stream through UNTOUCHED (no shuffle); only the
        delta-touched slice pays the per-key LWW fold — one hash aggregation
        whose scope is bounded by the compaction cadence that folds deltas
        back into base files. A snapshot with no delta files short-circuits
        to the plain COW scan.

        ``restrict_keys`` (a small key-column DataFrame) limits the result
        to those keys via a broadcast semi join applied BEFORE the fold —
        valid because the LWW fold is per-key, so restricting its input to
        a key subset commutes with it. This is what keeps the fold's
        shuffle O(restricted keys' rows) instead of O(closure) for the
        key-scoped change feed."""
        def limit(df: DataFrame) -> DataFrame:
            if restrict_keys is None:
                return df
            return df.join(
                F.broadcast(restrict_keys), on=snap.key_cols, how="left_semi"
            )

        deltas = [f for f in files if f.get("delta")]
        if not deltas:
            return limit(self._read_files(snap, files, raw=True))
        dbuckets: set[int] = set()
        for f in deltas:
            dbuckets.update(range(f["bucket_min"], f["bucket_max"] + 1))
        base = [f for f in files if not f.get("delta")]
        hot = [
            f for f in base
            if any(f["bucket_min"] <= b <= f["bucket_max"] for b in dbuckets)
        ]
        hot_paths = {f["path"] for f in hot}
        clean = [f for f in base if f["path"] not in hot_paths]
        folded = _lww_fold(
            limit(
                self._read_files(snap, deltas, raw=True)
                .withColumn(_IS_DELTA_COL, F.lit(True))
                .unionByName(
                    self._read_files(snap, hot, raw=True)
                    .withColumn(_IS_DELTA_COL, F.lit(False))
                )
            ),
            snap.key_cols,
            snap.lsn_col,
        )
        if not clean:
            return folded
        return limit(self._read_files(snap, clean, raw=True)).unionByName(folded)

    def _files_for_buckets(self, snap: Snapshot, buckets: list[int]) -> list[dict]:
        """File entries whose bucket range meets ``buckets``, fold-complete
        for merge-on-read deltas. On a segment-backed snapshot with no delta
        segments this is TWO-LEVEL pruning: only segment refs whose range
        intersects are opened, so the serving path's manifest cost is
        O(segments + files in touched segments), never O(table files). Any
        delta present → materialize and take the bucket-overlap closure
        (delta folding needs global key coverage)."""
        refs = snap.segments
        if refs is not None and not any(r.get("has_deltas") for r in refs):
            wanted = set(buckets)
            cand: list[dict] = []
            for r in refs:
                if any(r["bucket_min"] <= b <= r["bucket_max"] for b in wanted):
                    cand.extend(self._load_segment(r["name"]))
            return [
                f for f in cand
                if any(f["bucket_min"] <= b <= f["bucket_max"] for b in wanted)
            ]
        if any(f.get("delta") for f in snap.files):
            return self._bucket_closure(snap.files, buckets)
        return self._files_overlapping(snap, buckets)

    def read_buckets(self, buckets: list[int], raw: bool = False) -> DataFrame:
        snap = self.current()
        files = self._files_for_buckets(snap, buckets)
        df = self._net_raw(snap, files)
        return df if raw else self._visible(df, snap)

    def lookup(self, keys: list[tuple]) -> DataFrame:
        """Point lookup: the visible rows for an explicit list of key tuples.

        The bucket of each key is computed DRIVER-side with the same
        xxhash64 rule the writer uses, so only the files whose bucket range
        covers a requested key are read (manifest pruning: cost ∝ looked-up
        buckets, not table size) and the key equality predicate is pushed
        into the pruned parquet scan. O(|keys|) driver work — intended for
        the interactive / serving path, not for joins (broadcast the keys
        into a join against ``read()`` for those).
        """
        snap = self.current()
        types = {f.name: _SPARK_TYPES[f.type] for f in snap.schema.fields}
        # the writer's xxhash64 rule over literals of the key columns' lake
        # types (an int hashes unlike the same long); on a one-row local
        # relation the array folds to a constant: no Spark job or worker
        lits = [[F.lit(v).try_cast(types[c]) for c, v in zip(snap.key_cols, kt)] for kt in keys]
        ids = F.array(*[self._bucket_expr(snap.num_buckets, kl) for kl in lits])
        buckets = sorted(set(self.spark.sql("VALUES (0)").select(ids).head()[0]))
        df = self.read_buckets(buckets)
        cond = F.lit(False)
        for kt in keys:
            eq = F.lit(True)
            for col, val in zip(snap.key_cols, kt):
                eq = eq & (F.col(col) == F.lit(val))
            cond = cond | eq
        return df.filter(cond)

    # -- schema evolution ----------------------------------------------------
    def update_schema(self, kind: str, column: str, new_name: str | None = None,
                      new_type: str | None = None, at_lsn: int | None = None) -> Snapshot:
        """Apply one schema-change event. Metadata-only — no data rewrite.

        kind ∈ add_column | rename_column | widen_type. Idempotent: re-applying
        a change that is already in effect is a no-op (required for replay).
        ``at_lsn`` (add_column): LSN of the change event — events with lower
        LSNs never populate the column even if delivered late.
        """
        snap = self.head()  # writer plane: stack on the staged chain
        schema = snap.schema
        fields = list(schema.fields)
        names = {f.name: f for f in fields}
        added_lsn = dict(snap.added_lsn)

        if kind == "add_column":
            if column in names:
                return snap  # idempotent replay
            if new_type not in _SPARK_TYPES:
                raise ValueError(f"unsupported type {new_type!r}")
            # field ids are NEVER reused: max over every historical schema
            # version, not just the current one — otherwise re-adding a name
            # after drop_column would recycle the dropped id and old files'
            # values would leak into the new column
            new_id = max(s.max_id() for s in snap.schemas.values()) + 1
            fields.append(LakeField(new_id, column, new_type))
            if at_lsn is not None:
                added_lsn[new_id] = at_lsn
        elif kind == "rename_column":
            if column not in names:
                if new_name in names:
                    return snap  # already renamed (replay)
                raise KeyError(f"no column {column!r}")
            if new_name in names:
                raise ValueError(
                    f"rename {column!r} -> {new_name!r} collides with an existing column"
                )
            if column in snap.key_cols or column == snap.lsn_col:
                raise ValueError(
                    f"cannot rename engine column {column!r} (key/lsn columns are fixed)"
                )
            old = names[column]
            fields[fields.index(old)] = LakeField(old.field_id, new_name, old.type)
        elif kind == "widen_type":
            if column not in names:
                raise KeyError(f"no column {column!r}")
            old = names[column]
            if old.type == new_type:
                return snap  # already widened (replay)
            if new_type not in _WIDENINGS.get(old.type, set()):
                raise ValueError(f"illegal widen {old.type} -> {new_type}")
            fields[fields.index(old)] = LakeField(old.field_id, column, new_type)
        elif kind == "drop_column":
            if column not in names:
                return snap  # already dropped (idempotent replay)
            if column in snap.key_cols or column == snap.lsn_col:
                raise ValueError(
                    f"cannot drop engine column {column!r} (key/lsn columns are fixed)"
                )
            old = names[column]
            # METADATA-ONLY via field ids: old data files keep the column's
            # bytes, but _read_files aligns every file to the CURRENT schema
            # by field id, so a dropped id simply stops projecting — and a
            # later add_column with the same NAME mints a fresh id, so the
            # dropped column's old values can never leak into it.
            fields.remove(old)
            added_lsn.pop(old.field_id, None)
        else:
            raise ValueError(f"unknown schema change kind {kind!r}")

        new_sv = snap.schema_version + 1
        new_schemas = dict(snap.schemas)
        new_schemas[new_sv] = LakeSchema(fields)
        new_snap = Snapshot(
            version=snap.version + 1,
            parent=snap.version,
            batch_id=None,
            last_batch_id=snap.last_batch_id,
            schema_version=new_sv,
            schemas=new_schemas,
            num_buckets=snap.num_buckets,
            key_cols=snap.key_cols,
            lsn_col=snap.lsn_col,
            files=snap.files,
            code_hash=snap.code_hash,
            added_lsn=added_lsn,
            low_watermark=snap.low_watermark,
            operation="schema",
            tombstones_dropped_below=snap.tombstones_dropped_below,
        )
        # metadata-only commit: rebases over ANY concurrent data commit
        # (replaced set is empty — the schema change rides the new head's
        # file list); only a concurrent schema change conflicts (field-id /
        # version-number assignment above was derived from the old head)
        return self.commit_rebase(
            new_snap, base=snap, added=[], replaced_paths=set()
        )

    # -- merge (the CDC upsert) ----------------------------------------------
    def merge(
        self,
        source: DataFrame,
        batch_id: int,
        op_col: str = "op",
        lsn_col: str = "lsn",
        extras_col: str | None = "extras",
        lineage: dict | None = None,
        metrics: dict | None = None,
        code_hash: str | None = None,
        stats_out: dict | None = None,
        advance_watermark_to: int | None = None,
        affected_buckets: list[int] | None = None,
        use_observation: bool = True,
        delivery: str = "in_order",
        mode: str = "cow",
        partial_update: bool = False,
        winner_cols: list[tuple[str, Column]] | None = None,
        src_num_buckets: int | None = None,
    ) -> Snapshot:
        """Idempotent last-writer-wins MERGE of a change batch.

        ``source`` holds any number of events per key (a pre-reduced batch
        is the one-row-per-key case) with columns: key_cols + current value
        columns + ``op`` ∈ insert|update|delete + ``lsn``, and optionally
        ``__tie``, a LONG same-LSN tie-break (the CDC engine's hash of the
        raw event). Each key is resolved ONCE, by a rank-1 window over
        source ∪ target ordered by ``(lsn DESC, is_target DESC, op rank
        DESC, __tie DESC)``: within the batch the greatest ``(lsn, op rank,
        __tie)`` event is the key's survivor, and it replaces the stored row
        only if its LSN is strictly greater.

        Semantics (MERGE INTO analog, reference: node-merge semantics at
        /root/reference/src/translator_ingest/merging.py:20-88):
          matched  AND src.lsn >  tgt.last_lsn AND op!=delete → UPDATE
          matched  AND src.lsn >  tgt.last_lsn AND op==delete → DELETE
                    (retained as a tombstone row so later *stale* updates
                     with lower LSNs cannot resurrect the key)
          matched  AND src.lsn <= tgt.last_lsn               → keep target
                                                                (stale/duplicate)
          not matched AND op!=delete                          → INSERT
          not matched AND op==delete                          → tombstone
                    (guards against a stale update arriving after the delete)

        Only buckets present in the source are read and rewritten (COW with
        bucket pruning). Re-merging an already-applied ``batch_id`` is a
        metadata no-op — the exactly-once guard.

        ``mode="mor"`` (merge-on-read): the batch is written as DELTA files
        and NO base file is read or rewritten — write cost is O(batch) even
        when the batch's keys touch every bucket (the regime where COW's
        write amplification is the bottleneck: a scattered 300k-row batch
        forces COW to rewrite every touched bucket's data). Reads resolve
        base+delta per key via the LWW fold (:func:`_lww_fold`, scoped to
        delta-touched buckets by :meth:`_net_raw`); the incremental
        compaction cadence folds deltas back into base files, bounding read
        amplification. Same exactly-once guard, same watermark guard, same
        final state — pytest asserts MOR replay ≡ COW replay byte-for-byte.

        ``partial_update=True`` (Paimon partial-update analog): a non-delete
        event's NULL value column means "no change", so the window assembles
        the survivor column-wise — each value column takes its greatest-LSN
        non-null writer above the key's delete bound ``D`` (its greatest
        in-batch delete or stored tombstone LSN); with no delete, a column
        no event set keeps the TARGET's value. One limit remains: the lake
        keeps one LSN per row, not per column, so under scatter delivery a
        patch that arrives below a LIVE target's LSN is dropped whole, where
        in-order replay would keep each column of it that no later event
        set.
        COW only: the merge-on-read fold is whole-row, so a partial delta
        would clobber unset columns at read time — requesting both raises.

        ``winner_cols``: ``(name, expr)`` pairs evaluated AFTER the
        resolution, on winning live source rows only and in order (each sees
        the previous ones' output) — per-row derivations too costly to run
        on events that lose (the CDC engine's content normalization and
        digest). A source row's ``name`` column enters the window as the
        derivation's raw input.

        ``src_num_buckets``: the bucket count ``affected_buckets`` was
        computed under; after a concurrent ``rebucket`` the set is stale
        and is recomputed under the head's count.
        """
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown merge mode {mode!r}")
        if partial_update and mode == "mor":
            raise ValueError(
                "partial_update requires mode='cow': the MOR read fold is "
                "whole-row and cannot coalesce unset columns per key"
            )
        snap = self.head()  # writer plane: stack on the staged chain
        if batch_id <= snap.last_batch_id:
            return snap  # already applied — exactly-once replay guard

        keys = snap.key_cols
        lsn_target = snap.lsn_col
        value_cols = [n for n in snap.schema.names() if n not in keys and n != lsn_target]

        # retention-watermark guard: events at or below the low watermark are
        # KNOWN applied (possibly compacted away, tombstones included) — drop
        # them here so redelivered stale events can't resurrect compacted keys
        if snap.low_watermark >= 0:
            source = source.filter(F.col(lsn_col) > F.lit(snap.low_watermark))

        # a bucket set computed under another bucket count (a rebucket
        # committed while this unit was in flight) is not a superset
        if src_num_buckets not in (None, snap.num_buckets):
            affected_buckets = None
        src = source.withColumn("__bucket", self._bucket_expr(snap.num_buckets, keys))
        # affected buckets: tiny driver-side list (≤ num_buckets), this is
        # the bucket-pruning step that keeps merge cost O(batch), not
        # O(table). Callers that already know the batch's bucket set (the
        # apply loop folds it into its lineage aggregation) pass it in —
        # zero extra jobs here; a superset is safe (extra buckets pass
        # through the merge untouched).
        if affected_buckets is not None:
            affected = sorted(set(affected_buckets))
        else:
            affected = sorted(
                r["__bucket"] for r in src.select("__bucket").distinct().collect()  # bounded-collect: <= num_buckets rows
            )

        extras_map_t = T.MapType(T.StringType(), T.StringType())
        s_extras = (
            F.col(extras_col) if extras_col and extras_col in source.columns
            else F.lit(None).cast(extras_map_t)
        )

        # the batch aligned to the raw row layout: values nulled and
        # tombstone=true for deletes, so a delete out-ranks stale updates
        # exactly like a stored tombstone
        is_del_src = F.col(op_col) == F.lit("delete")
        s_rows = src.select(
            *[F.col(k) for k in keys],
            *[
                F.when(is_del_src, F.lit(None)).otherwise(F.col(c)).alias(c)
                for c in value_cols
            ],
            F.col(lsn_col).alias(lsn_target),
            is_del_src.alias(TOMBSTONE_COL),
            F.when(is_del_src, F.lit(None).cast(extras_map_t))
            .otherwise(s_extras)
            .alias(EXTRAS_COL),
            F.col("__bucket"),
            op_rank(F.col(op_col)).alias("__rank"),
            (F.col("__tie") if "__tie" in src.columns
             else F.lit(0).cast("long")).alias("__tie"),
            F.lit(0).alias("__is_tgt"),
        )

        # the batch's resolved row/delete counts ride the write pass as an
        # Observation — no separate count job, no cache of the merge output.
        # NOT on the foreachBatch path: Observation.get never resolves inside
        # a streaming epoch callback (its listener event can't be delivered
        # while the callback thread blocks on it — measured deadlock), so
        # streaming callers set use_observation=False and pay one small
        # count job instead.
        obs = None
        merge_counts = None
        if use_observation:
            from pyspark.sql import Observation

            obs = Observation()
        else:
            merge_counts = self._source_counts(s_rows, keys, lsn_target)

        # merge-on-read: the resolved batch BECOMES the write — no target
        # read, no base rewrite. COW: file pruning — only files whose bucket
        # range intersects the batch are read and rewritten; their rows in
        # *other* buckets pass through the merge untouched (target-only rows
        # survive by construction). When merge-on-read delta files exist,
        # the read set must be the bucket-overlap CLOSURE (fold-complete)
        # and the target is the folded NET state — the rewrite then restores
        # COW disjointness for every bucket it touches. The target (one row
        # per key) joins the window as __is_tgt=1 rows; an initial/bulk load
        # onto empty buckets has none, and the window only resolves the batch.
        result, untouched_files = s_rows, list(snap.files)
        if mode == "cow":
            if any(f.get("delta") for f in snap.files):
                affected_files = self._bucket_closure(snap.files, affected)
            else:
                affected_files = self._files_overlapping(snap, affected)
            affected_paths = {f["path"] for f in affected_files}
            untouched_files = [f for f in snap.files if f["path"] not in affected_paths]
            if affected_files:
                result = s_rows.unionByName(self._net_raw(snap, affected_files).select(
                    *[F.col(k) for k in keys],
                    *[F.col(c) for c in value_cols],
                    F.col(lsn_target),
                    F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)).alias(TOMBSTONE_COL),
                    F.col(EXTRAS_COL),
                    self._bucket_expr(snap.num_buckets, keys).alias("__bucket"),
                    F.lit(0).alias("__rank"),
                    F.lit(0).cast("long").alias("__tie"),
                    F.lit(1).alias("__is_tgt"),
                ))
        return self._finish_merge(
            snap, result, affected, untouched_files, batch_id, lineage,
            metrics, code_hash, stats_out, advance_watermark_to, delivery,
            obs, s_rows, merge_counts, delta=mode == "mor",
            partial_update=partial_update, winner_cols=winner_cols,
        )

    @staticmethod
    def _resolution_order(lsnc: str) -> list[Column]:
        """The per-key LWW total order over source ∪ target rows."""
        return [F.desc(lsnc), F.desc("__is_tgt"), F.desc("__rank"), F.desc("__tie")]

    def _source_counts(self, s_rows: DataFrame, keys: list, lsnc: str) -> dict:
        """Explicit-job twin of the write pass's Observation: the resolved
        batch's key count and how many of those keys' survivors delete."""
        from pyspark.sql import Window as W

        w = W.partitionBy(*keys).orderBy(*self._resolution_order(lsnc))
        row = (
            s_rows.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.count(F.when(F.col(TOMBSTONE_COL), 1)).alias("deletes"),
            )
            .collect()[0]  # bounded-collect: one aggregate row
        )
        return {"rows": row["rows"], "deletes": row["deletes"]}

    def _finish_merge(
        self,
        snap: Snapshot,
        result: DataFrame,
        affected: list[int],
        untouched_files: list[dict],
        batch_id: int,
        lineage: dict | None,
        metrics: dict | None,
        code_hash: str | None,
        stats_out: dict | None,
        advance_watermark_to: int | None,
        delivery: str,
        obs,
        s_rows: DataFrame,
        merge_counts: dict | None,
        delta: bool,
        partial_update: bool = False,
        winner_cols: list[tuple[str, Column]] | None = None,
    ) -> Snapshot:
        """Shared merge tail: the per-key resolution fused into the
        partitioned write, observation resolution, manifest splice
        (``delta=True`` flags merge-on-read files) and the snapshot commit.

        ``result`` is the aligned batch (``__rank``/``__tie``/``__is_tgt``,
        ``__bucket``), unioned with the target rows for a COW rewrite. The
        LWW resolution runs HERE, as a rank-1 ``row_number`` window over
        ``(__bucket, __grp, keys)`` directly on top of the write repartition
        — ``__grp`` is a deterministic function of the keys, so
        hash-partitioning by it alone already co-locates every key
        (``HashPartitioning(__grp)`` satisfies the window's clustering
        requirement; Catalyst inserts no second exchange), and the window's
        sort doubles as the write's layout sort. One exchange, one sort,
        one window for every unit kind."""
        from pyspark.sql import Window as W

        keys = snap.key_cols
        lsnc = snap.lsn_col
        new_version = snap.version + 1
        out_dir = self._data_dir(new_version)
        # partition the write by a DETERMINISTIC bucket-group id — unlike
        # repartitionByRange this needs no sampling job (and therefore no
        # cache of the merge input to avoid double compute): __bucket's
        # domain is known ([0, num_buckets)), so floor-dividing it into
        # contiguous groups gives each output file a tight bucket range for
        # manifest pruning. Written as a PLAIN parquet write — the
        # dynamic-partition (partitionBy) commit path is ~10× slower for
        # many small partitions and serializes in the committer. Sort within
        # partitions keeps bucket ids RLE-cheap and row groups clustered,
        # and the secondary sort by key makes parquet row-group min/max
        # stats on the key columns tight, so pushed key-equality predicates
        # (point lookups) skip row groups inside each bucket file.
        # The file count follows the shuffled bytes: the count-free
        # repartition lets AQE coalesce adjacent groups, so a small commit
        # writes one file instead of one tiny file per core (each one more
        # footer to store and one more path to list on every read). A
        # coalesced partition holds several groups, so every sort leads
        # with __bucket: ordered by __grp first, a file's rows would follow
        # the salt values, not the buckets.
        # (group→partition mapping via precomputed salts: plain
        # repartition(group) would hash-collide groups — ~1/e of writers
        # idle, files spanning unrelated bucket ranges.)
        #
        # Per-key LWW via ONE window sort, never an aggregation: a
        # max_by(struct(whole row)) carries a variable-length buffer and
        # degenerates to a buffer-churning SortAggregate (the exact plan
        # shape cdc/reduce.py decomposed away). The source row wins iff its
        # LSN is STRICTLY greater (__is_tgt breaks the tie toward the
        # target; a null target LSN sorts last under DESC); same-LSN source
        # events fall to (__rank, __tie). The explicit sortWithinPartitions
        # below is subsumed by the window's sort (prefix match) and removed
        # as redundant.
        w = W.partitionBy("__bucket", "__grp", *keys).orderBy(
            *self._resolution_order(lsnc)
        )
        grouped = result.withColumn("__grp", self._write_group(snap)).repartition("__grp")
        cols = [F.col(c) for c in result.columns]
        if partial_update:
            # column-wise assembly on the same sort: D = the key's greatest
            # delete LSN, an in-batch delete or the stored tombstone (so a
            # patch redelivered below a tombstone feeds no column); a winning
            # live source row takes, per value column, its greatest-LSN
            # non-null writer above D — and, when there is no D, the target's
            # value for a column no event set. Whole-partition frames over
            # the same window spec: no extra sort or exchange.
            whole = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
            is_src = F.col("__is_tgt") == 0
            tomb = F.col(TOMBSTONE_COL)
            grouped = grouped.withColumn(
                "__del_lsn", F.max(F.when(tomb, F.col(lsnc))).over(whole)
            )
            died = F.col("__del_lsn")
            live = is_src & ~tomb & (died.isNull() | (F.col(lsnc) > died))
            fixed = {*keys, lsnc, TOMBSTONE_COL, "__bucket", "__rank", "__tie",
                     "__is_tgt"}
            cols = [
                F.col(c) if c in fixed else F.when(is_src & ~tomb, F.coalesce(
                    F.first(F.when(live, F.col(c)), ignorenulls=True).over(whole),
                    F.when(died.isNull(), F.first(
                        F.when(~is_src, F.col(c)), ignorenulls=True
                    ).over(whole)),
                )).otherwise(F.col(c)).alias(c)
                for c in result.columns
            ]
        # at most ONE target row per key (the net state), so the batch's own
        # survivor ranks 1st or 2nd: keeping ranks <= 2 up to the Observation
        # lets it count the resolved batch even where the target wins
        ranked = grouped.select(
            *cols, "__grp",
            F.row_number().over(w).alias("__rn"),
            F.count(F.when(F.col("__is_tgt") == 0, 1)).over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ).alias("__src_n"),
        ).where(F.col("__rn") <= 2)
        if obs is not None:
            top_src = (F.col("__is_tgt") == 0) & (F.col("__src_n") == 1)
            ranked = ranked.observe(
                obs,
                F.count(F.when(top_src, 1)).alias("rows"),
                F.count(F.when(top_src & F.col(TOMBSTONE_COL), 1)).alias("deletes"),
            )
        out = ranked.where(F.col("__rn") == 1)
        live_src = (F.col("__is_tgt") == 0) & ~F.col(TOMBSTONE_COL)
        for name, expr in winner_cols or []:
            out = out.withColumn(name, F.when(live_src, expr).otherwise(F.col(name)))
        out = out.sortWithinPartitions("__bucket", "__grp", *keys).drop(
            "__grp", "__rn", "__src_n", "__rank", "__tie", "__is_tgt"
        )
        (
            out.write.mode("overwrite")
            .options(**self._parquet_write_options(out.columns))
            .parquet(out_dir)
        )

        if obs is not None:
            try:
                merge_counts = obs.get
            except Exception:
                # AQE empty-relation propagation can eliminate the observed
                # subtree entirely (e.g. the watermark guard filtered every
                # source row on a redelivered batch) — no metrics row is ever
                # produced. Fall back to an explicit (tiny) count job.
                merge_counts = self._source_counts(s_rows, keys, lsnc)
        if stats_out is not None:
            stats_out["rows"] = merge_counts["rows"]
            stats_out["deletes"] = merge_counts["deletes"]
            stats_out["affected_buckets"] = len(affected)
        # enrich the snapshot's metrics with the merge counts so a manifest
        # lost to a crash after this commit can be rebuilt from the snapshot
        if metrics is not None:
            metrics = {
                **metrics,
                "rows_upserted": int(merge_counts["rows"] - merge_counts["deletes"]),
                "rows_deleted": int(merge_counts["deletes"]),
            }

        # manifest plane: record each written file with its bucket range
        # (parquet footer stats — metadata-only, fetched concurrently)
        added_files: list[dict] = []
        if os.path.isdir(out_dir):
            paths = [
                os.path.join(out_dir, fn)
                for fn in sorted(os.listdir(out_dir))
                if fn.endswith(".parquet")
            ]
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(16, max(1, len(paths)))) as pool:
                stats = list(pool.map(_file_stats_from_footer, paths))
            for path, st in zip(paths, stats):
                if st is None:
                    continue  # empty file
                entry = {
                    "path": path,
                    "schema_version": snap.schema_version,
                    **st,
                }
                if delta:
                    entry["delta"] = True
                added_files.append(entry)
        new_files = list(untouched_files) + added_files

        new_snap = Snapshot(
            version=new_version,
            parent=snap.version,
            batch_id=batch_id,
            last_batch_id=batch_id,
            schema_version=snap.schema_version,
            schemas=snap.schemas,
            num_buckets=snap.num_buckets,
            key_cols=keys,
            lsn_col=snap.lsn_col,
            files=new_files,
            lineage=lineage,
            metrics=metrics,
            code_hash=code_hash,
            added_lsn=snap.added_lsn,
            low_watermark=max(
                snap.low_watermark,
                advance_watermark_to if advance_watermark_to is not None else -1,
            ),
            operation="merge",
            delivery=delivery,
            tombstones_dropped_below=snap.tombstones_dropped_below,
        )
        # a concurrent LAYOUT commit (compaction / clustering / DML) on
        # disjoint files rebases under the merge; a concurrent MERGE (which
        # would race the same exactly-once guard) or an overlapping-bucket
        # rewrite raises ConcurrentModificationError — the apply loop
        # recomputes the unit against the new head (cdc/apply.py)
        replaced = {f["path"] for f in snap.files} - {
            f["path"] for f in untouched_files
        }
        return self.commit_rebase(
            new_snap, base=snap, added=added_files, replaced_paths=replaced,
            owns_batch=True,
        )
