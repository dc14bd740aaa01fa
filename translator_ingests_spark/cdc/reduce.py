"""Within-batch last-writer-wins reduction, structurally skew-proof.

Semantics: for each key, keep the single event with the greatest
``(lsn, op_rank, row_hash)`` — a fully deterministic total order, so duplicate
redelivery (identical rows) and even pathological same-LSN conflicts reduce
identically on every replay. Reference analog: the max-reduction /
group-dedup patterns at /root/reference/src/translator_ingest/ingests/hpoa/hpoa.py:339-344
and string.py:126-139.

Skew: a mega-repo carrying ~50% of a batch's events would send one giant
group to a single reducer. The decomposed plan (see ``lww_reduce``) makes
that structurally benign: the only aggregation over the full batch is a
``max(lsn)`` with a primitive buffer, whose map-side partial aggregation
collapses a hot key to one row per input partition before the shuffle —
explicit salting (phase-1 group on ``(key, salt)``, phase-2 re-reduce) is
therefore not needed.
The candidate join skew is handled by AQE skew-join splitting (reference
analog: hot-edge capping at semmeddb.py:200-233, except we must preserve
the winner exactly, so reduce, never cap).

The CDC engine does not call ``lww_reduce``: its merge window resolves each
key over the raw events at every batch size (``LakeTable.merge``), using
``tie_hash`` for the same-LSN order. ``lww_reduce`` serves standalone
reduce-only queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from translator_ingests_spark.lake.table import op_rank as _op_rank


def tie_hash(df: DataFrame, lsn_col: str = "lsn"):
    """The deterministic same-LSN tie-break: xxhash64 over every event
    column but the LSN (MapType columns excluded — xxhash64 rejects them).
    Exact redeliveries hash equal, so either survivor is the same row."""
    from pyspark.sql.types import MapType

    return F.xxhash64(*[
        F.col(f.name) for f in df.schema.fields
        if f.name != lsn_col and not isinstance(f.dataType, MapType)
    ])


def lww_reduce(
    df: DataFrame,
    keys: list[str],
    lsn_col: str = "lsn",
    op_col: str = "op",
    simple: bool = False,
) -> DataFrame:
    """Reduce to one row per key: the max-(lsn, op_rank, hash) survivor.

    Plan shape (the 100-TB design): a single ``max_by(struct(all columns),
    struct(order))`` aggregation carries a *variable-length* buffer (the
    whole candidate row), which Spark can only execute as a SortAggregate —
    a full sort of every event in the batch. Profiled at 12M events that
    sort dominates the map leg and its allocation churn is the one part of
    the engine whose CPU *inflates* with executor-thread count. So the
    reduce is decomposed into primitive-buffer aggregations:

    1. ``winners = df.groupBy(keys).agg(max(lsn))`` — HashAggregate over a
       LONG buffer: whole-stage codegen, map-side combine (hot keys collapse
       per input partition *before* the shuffle, so no salting is needed),
       and the shuffle carries one tiny row per (input partition, key).
    2. ``candidates = df ⋈ winners on keys, lsn <=> winning lsn`` — AQE
       picks a broadcast join when the per-batch key count is small (the
       event rows then never shuffle at all) and a shuffled-hash join with
       skew splitting when it isn't.
    3. One ``max_by`` tie-break over the candidates — at most the few rows
       per key that share the winning LSN, so the unavoidable SortAggregate
       runs on ~|keys| rows, not |events|. The xxhash64 tie hash is also
       only computed here, never over the full batch.
    """
    cols = df.columns
    if simple:
        # SMALL-BATCH shape for standalone reduce-only queries: one max_by
        # aggregation over the same total order (lsn, op_rank, tie hash),
        # one job where the decomposed plan runs its winners aggregation
        # and a join; under a consumer that prunes columns (count(),
        # key-only projections) Catalyst drops the unused max_by aggregate
        # and the whole payload/tie-hash computation with it. Caller
        # contract: ``lsn_col`` non-null — all-null-LSN keys need the
        # decomposed path's null-safe join.
        payload = F.struct(*[F.col(c) for c in cols]).alias("__row")
        order = F.struct(
            F.col(lsn_col).alias("o0"),
            _op_rank(F.col(op_col)).alias("o1"),
            tie_hash(df, lsn_col).alias("o2"),
        )
        reduced = df.groupBy(*keys).agg(F.max_by(payload, order).alias("__row"))
        return reduced.select(*[F.col(f"__row.{c}").alias(c) for c in cols])
    winners = df.groupBy(*keys).agg(F.max(F.col(lsn_col)).alias("__wl"))
    w = winners.alias("__w")
    d = df.alias("__d")
    # null-safe on the keys AND the lsn so all-null-LSN keys still reduce
    # (groupBy treats null as a group; the join must agree)
    cond = F.lit(True)
    for k in keys:
        cond = cond & F.col(f"__d.{k}").eqNullSafe(F.col(f"__w.{k}"))
    cond = cond & F.col(f"__d.{lsn_col}").eqNullSafe(F.col("__w.__wl"))
    cand = d.join(w, cond, "inner").select([F.col(f"__d.{c}") for c in cols])

    payload = F.struct(*[F.col(c) for c in cols]).alias("__row")
    order = F.struct(
        _op_rank(F.col(op_col)).alias("o1"),
        tie_hash(df, lsn_col).alias("o2"),
    )
    reduced = cand.groupBy(*keys).agg(F.max_by(payload, order).alias("__row"))
    return reduced.select(*[F.col(f"__row.{c}").alias(c) for c in cols])
