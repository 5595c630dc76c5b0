"""Incremental materialized aggregate views over lake tables.

The 100-TB problem: a GROUP BY over a petabyte source is a full scan,
but between two refreshes only a sliver of records changed. Hudi's
answer is consuming the CDC stream into a downstream table; this module
packages that pattern as a first-class operator (the classic
incremental view maintenance construction for self-inverting
aggregates — counts and sums — over insert/update/delete deltas):

* read the source's CDC slice ``(watermark, latest]``
  (``LakeTable.incremental_cdc`` — final-state per record, with
  before-images; reference consumption parity:
  BinlogHoodieDataSource.scala reads the table it wrote, here the view
  reads the table's change feed);
* explode each change into ±contributions — after-image +1/+value for
  ``i``/``u``, before-image -1/-value for ``u``/``d`` (an update that
  MOVES a row between groups nets out correctly because the two
  contributions carry different group keys);
* aggregate contributions per group (ONE shuffle, sized by the delta,
  never the source);
* ``merge_into`` the view: matched groups add the delta to the stored
  aggregate, unmatched groups insert the delta as the initial value
  (prior value is zero by definition) — the membership probe is the
  view's Bloom-pruned point lookup, so refresh cost is bounded by
  touched groups.

Exactly-once without a sidecar: the watermark is carried IN the view's
own commit batch ids (``mv-<begin>-<end>``) — the merge that applies a
slice and the record that it was applied are the SAME atomic commit, so
a crashed refresh either never happened or is replay-suppressed by the
merge's batch-id idempotence (H5). Groups whose count reaches zero are
tombstoned in a follow-up DML commit (``delete_where``), and a later
re-appearance simply re-inserts at a higher ``_ts``.

Correctness contract (tested + oracled): after any sequence of
refreshes, the view equals ``SELECT group_cols, count(*), sum(...)
FROM source-snapshot GROUP BY group_cols`` — bit-for-bit for integer
sum columns (floats inherit addition-order noise; prefer longs/decimals
for exact views, same guidance Hudi gives for precombine math).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_spark_plus_spark.ckpt import release_all
from hudi_spark_plus_spark.table.keygen import KEY_COL, TS_COL
from hudi_spark_plus_spark.table.lake_table import DELETED_COL, LakeTable

_BATCH_PREFIX = "mv-"
_GC_PREFIX = "mvgc-"


def _watermark_of(table: LakeTable) -> int:
    """Highest source version applied to a view — parsed from the
    view's own commit batch ids (``mv-<begin>-<end>``), so it is atomic
    with the data. Shared by every view class: the batch-id encoding
    (and its ``rsplit("-", 1)`` parse contract) must never diverge
    between views (review r12 #5)."""
    hi = 0
    for v in table.log.versions():
        b = table.log.read(v).batch_id or ""
        if b.startswith(_BATCH_PREFIX):
            try:
                hi = max(hi, int(b.rsplit("-", 1)[1]))
            except ValueError:
                continue
    return hi


def _nullsafe_eq(group_cols: list[str], left: str, right: str):
    """Null-safe group-tuple equality across two aliases — the join
    condition every affected-group/dead-group probe uses (NULL group
    values are real groups)."""
    cond = None
    for c in group_cols:
        e = F.col(f"{left}.{c}").eqNullSafe(F.col(f"{right}.{c}"))
        cond = e if cond is None else (cond & e)
    return cond


# engine-exact MIN/MAX maintenance supports order-comparable types
# whose comparison semantics Spark and the SQL oracle agree on
# bit-for-bit (floats are excluded for the same order-dependence
# reason as SUM)
_MINMAX_OK_TYPES = {
    "tinyint", "smallint", "int", "bigint", "string", "boolean", "date",
}


class AggregateView:
    """An incrementally-maintained COUNT/SUM aggregate of a source
    ``LakeTable``, itself stored as a ``LakeTable`` keyed by the group
    tuple (rendered via ``to_json(struct(...))`` so NULL group values
    stay distinguishable from empty strings)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        source: LakeTable,
        group_cols: list[str],
        sum_cols: list[str] | None = None,
        avg_cols: list[str] | None = None,
        buckets: int = 4,
    ):
        if not group_cols:
            raise ValueError("AggregateView requires at least one group col")
        self.spark = spark
        self.source = source
        self.group_cols = list(group_cols)
        self.sum_cols = list(sum_cols or [])
        # AVG is algebraic over the same ± machinery: maintain
        # sum_<c> plus nn_<c> (the NON-NULL count — SQL AVG divides by
        # it, not by the row count) and emit avg_<c> = sum/nn read-side.
        # Exact by construction: integer sums and counts are maintained
        # bit-for-bit, and one double division at read time is
        # deterministic — no float accumulation ever happens.
        self.avg_cols = list(avg_cols or [])
        measures = self.sum_cols + self.avg_cols
        overlap = set(self.group_cols) & set(measures)
        if overlap:
            raise ValueError(
                f"columns cannot be both group and measure: {sorted(overlap)}"
            )
        if "cnt" in self.group_cols or "cnt" in measures:
            raise ValueError("'cnt' is the view's count column name")
        sch = source.schema()
        if sch is not None and measures:
            integral = {"tinyint", "smallint", "int", "bigint"}
            bad = [
                f.name
                for f in sch.fields
                if f.name in measures
                and f.dataType.simpleString() not in integral
            ]
            if bad:
                raise ValueError(
                    f"sum/avg columns must be integral for an exact view "
                    f"(float addition is order-dependent): {sorted(bad)} "
                    "— pre-scale to integer units (cents, micros) in "
                    "the source"
                )
        # maintained state columns: one sum per distinct measure (a
        # column in BOTH sum_cols and avg_cols is maintained once), one
        # non-null count per avg column
        self._sum_state = list(dict.fromkeys(measures))
        self.table = LakeTable(spark, path, buckets=buckets)

    # -- watermark ----------------------------------------------------------

    def watermark(self) -> int:
        """Highest source version applied to the view (see
        ``_watermark_of``)."""
        return _watermark_of(self.table)

    # -- maintenance --------------------------------------------------------

    def refresh(self) -> dict:
        """Advance the view to the source's latest version. Returns
        {"begin", "end", "groups_touched"} ({"end": begin} when already
        current). Cost: one CDC read bounded by the range's changed
        units + one delta-sized shuffle + one Bloom-pruned merge."""
        latest = self.source.log.latest()
        if latest is None:
            return {"begin": 0, "end": 0, "groups_touched": 0}
        begin = self.watermark()
        end = latest.version
        if end <= begin:
            # crash-recovery: a refresh that died between its mv- merge
            # and its mvgc- tombstone pass left cnt==0 groups in the
            # table, and the advanced watermark means no later refresh
            # with new source changes would re-run GC. The owed pass is
            # keyed by the EXACT gc batch id the crashed refresh would
            # have used, so this is idempotent and a no-op when the
            # last refresh completed normally.
            owed = self._pending_gc()
            if owed is not None:
                self.table.delete_where(F.col("cnt") == 0, batch_id=owed)
            return {"begin": begin, "end": begin, "groups_touched": 0}
        deltas = self._deltas(begin, end)
        state_cols = (
            ["cnt"]
            + [f"sum_{c}" for c in self._sum_state]
            + [f"nn_{c}" for c in self.avg_cols]
        )
        # materialize ONCE (bounded by the slice's changed groups): the
        # un-checkpointed CDC-read + delta-agg pipeline would otherwise
        # re-execute for the stats count, merge_into's key probe, the
        # merge's affected-unit collect, AND the merge write itself
        src = deltas.select(
            F.to_json(
                F.struct(*self.group_cols),
                {"ignoreNullFields": "false"},
            ).alias(KEY_COL),
            F.lit(end).cast("long").alias(TS_COL),
            *self.group_cols,
            *state_cols,
        ).localCheckpoint(eager=True)
        n = src.count()
        self.table.merge_into(
            src,
            {c: F.col(f"t.{c}") + F.col(f"s.{c}") for c in state_cols},
            "insert",
            batch_id=f"{_BATCH_PREFIX}{begin}-{end}",
        )
        # groups netted to zero: tombstone (a later re-appearance
        # re-inserts at a higher _ts, so this is never a key ban)
        self.table.delete_where(
            F.col("cnt") == 0, batch_id=f"{_GC_PREFIX}{begin}-{end}"
        )
        release_all((src,))
        return {"begin": begin, "end": end, "groups_touched": n}

    def _pending_gc(self) -> str | None:
        """The gc batch id owed to the NEWEST mv- commit, or None when
        that commit's tombstone pass already ran (the normal case)."""
        newest = None
        for v in self.table.log.versions():
            b = self.table.log.read(v).batch_id or ""
            if b.startswith(_BATCH_PREFIX):
                newest = b[len(_BATCH_PREFIX):]
        if newest is None:
            return None
        gc_id = f"{_GC_PREFIX}{newest}"
        return None if self.table.log.has_batch(gc_id) else gc_id

    def _deltas(self, begin: int, end: int) -> DataFrame:
        cdc = self.source.incremental_cdc(begin, end)
        zero = F.lit(0).cast("long")

        def s(col):  # NULL measure values contribute 0, not NULL
            return F.coalesce(F.col(col).cast("long"), zero)

        def nn(col):  # ±1 only when the measure value is NON-NULL
            return F.when(F.col(col).isNotNull(), F.lit(1)).otherwise(zero)

        after = cdc.where(F.col("_change_op").isin("i", "u")).select(
            *self.group_cols,
            F.lit(1).alias("_c"),
            *[s(c).alias(f"_s_{c}") for c in self._sum_state],
            *[nn(c).alias(f"_n_{c}") for c in self.avg_cols],
        )
        before = cdc.where(F.col("_change_op").isin("u", "d")).select(
            *[
                F.col(f"_before_{c}").alias(c) for c in self.group_cols
            ],
            F.lit(-1).alias("_c"),
            *[
                (-s(f"_before_{c}")).alias(f"_s_{c}")
                for c in self._sum_state
            ],
            *[
                (-nn(f"_before_{c}")).alias(f"_n_{c}")
                for c in self.avg_cols
            ],
        )
        deltas = (
            after.unionByName(before)
            .groupBy(*self.group_cols)
            .agg(
                F.sum("_c").cast("long").alias("cnt"),
                *[
                    F.sum(f"_s_{c}").cast("long").alias(f"sum_{c}")
                    for c in self._sum_state
                ],
                *[
                    F.sum(f"_n_{c}").cast("long").alias(f"nn_{c}")
                    for c in self.avg_cols
                ],
            )
        )
        # all-zero groups (e.g. an update that kept group and measures)
        # would churn rows for nothing
        nonzero = F.col("cnt") != 0
        for c in self._sum_state:
            nonzero = nonzero | (F.col(f"sum_{c}") != 0)
        for c in self.avg_cols:
            nonzero = nonzero | (F.col(f"nn_{c}") != 0)
        return deltas.where(nonzero)

    # -- reads --------------------------------------------------------------

    def df(self) -> DataFrame:
        """Current view contents: group_cols + cnt + sum_<col> +
        avg_<col> (avg = maintained integer sum / maintained non-null
        count, one deterministic double division; NULL when every
        value in the group is NULL — SQL AVG semantics).

        Filters ``cnt == 0`` read-side: those rows are groups whose
        records all left the source — logically absent from the
        GROUP-BY equivalence contract — and physically present only in
        the window between a refresh's mv- merge and its mvgc-
        tombstone pass (or after a crash in that window, until
        ``refresh`` runs the owed pass). Belt-and-suspenders with
        ``_pending_gc``."""
        return (
            self.table.snapshot()
            .where(F.col("cnt") != 0)
            .select(
                *self.group_cols,
                "cnt",
                *[f"sum_{c}" for c in self.sum_cols],
                *[
                    F.when(
                        F.col(f"nn_{c}") > 0,
                        F.col(f"sum_{c}").cast("double")
                        / F.col(f"nn_{c}"),
                    ).alias(f"avg_{c}")
                    for c in self.avg_cols
                ],
            )
        )


class MinMaxView:
    """Incrementally-maintained COUNT/MIN/MAX aggregate of a source
    ``LakeTable`` (the second matview shape, VERDICT r8 stretch 7).

    MIN/MAX are NOT self-inverting: a delete of the current minimum
    cannot be subtracted the way a sum delta can, so the delta-addition
    construction of ``AggregateView`` does not apply. The standard
    answer — and this class's contract — is PARTIAL RECOMPUTE (the
    ``operators/derived.py`` path, here bound to the same
    watermark-in-batch-id exactly-once protocol as ``AggregateView``):

    * read the source's CDC slice ``(watermark, latest]``;
    * affected groups = after-image groups of i/u + before-image
      groups of u/d (a group-moving update affects both);
    * re-aggregate the source SNAPSHOT for ONLY those groups (one
      null-safe broadcast semi-join prunes the scan; cost is the
      affected groups' rows, never the table);
    * one LWW merge applies everything: recomputed groups upsert,
      affected groups with no remaining rows tombstone — upserts and
      deletes ride the SAME commit, so there is no GC window at all
      (the ``AggregateView`` crash case this shape cannot have).

    Correctness contract (tested + oracled): after any refresh
    sequence the view equals ``SELECT group_cols, count(*),
    min(c)..., max(c)... FROM source-snapshot GROUP BY group_cols`` —
    bit-for-bit for integral/string measure columns (min/max SELECT a
    stored value rather than accumulate, so no float-order caveat is
    needed — but floats stay refused for engine-comparison hygiene).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        source: LakeTable,
        group_cols: list[str],
        minmax_cols: list[str],
        buckets: int = 4,
    ):
        if not group_cols:
            raise ValueError("MinMaxView requires at least one group col")
        if not minmax_cols:
            raise ValueError(
                "MinMaxView requires at least one min/max column"
            )
        overlap = set(group_cols) & set(minmax_cols)
        if overlap:
            raise ValueError(
                f"columns cannot be both group and measure: "
                f"{sorted(overlap)}"
            )
        if "cnt" in group_cols or "cnt" in minmax_cols:
            raise ValueError("'cnt' is the view's count column name")
        self.spark = spark
        self.source = source
        self.group_cols = list(group_cols)
        self.minmax_cols = list(minmax_cols)
        sch = source.schema()
        if sch is not None:
            bad = [
                f.name
                for f in sch.fields
                if f.name in self.minmax_cols
                and f.dataType.simpleString() not in _MINMAX_OK_TYPES
            ]
            if bad:
                raise ValueError(
                    f"min/max columns must be integral/string/date for "
                    f"an engine-exact view: {sorted(bad)}"
                )
        self.table = LakeTable(spark, path, buckets=buckets)
        # pruning decision of the most recent refresh (observability)
        self.last_prune: dict = {}

    def watermark(self) -> int:
        """Highest source version applied to the view (see
        ``_watermark_of``)."""
        return _watermark_of(self.table)

    def refresh(self) -> dict:
        latest = self.source.log.latest()
        if latest is None:
            return {"begin": 0, "end": 0, "groups_touched": 0}
        begin = self.watermark()
        end = latest.version
        if end <= begin:
            return {"begin": begin, "end": begin, "groups_touched": 0}
        cdc = self.source.incremental_cdc(begin, end)
        after = cdc.where(F.col("_change_op").isin("i", "u")).select(
            *self.group_cols
        )
        before = cdc.where(F.col("_change_op").isin("u", "d")).select(
            *[F.col(f"_before_{c}").alias(c) for c in self.group_cols]
        )
        # bounded by the slice's groups; consumed by the recompute's
        # pruned semi-join, the dead anti-join, and the merge — one
        # materialization instead of one per consumer
        affected = (
            after.unionByName(before).distinct().localCheckpoint(eager=True)
        )
        # bounded by the affected groups; without this the pruned
        # source scan + re-aggregation runs again for the stats count,
        # the merge's affected-unit collect, the batch's upsert branch,
        # and the dead branch's broadcast
        recomputed = self._recompute_frame(
            affected, version=end
        ).localCheckpoint(eager=True)
        measures = ["cnt"] + [
            f"{p}_{c}" for c in self.minmax_cols for p in ("min", "max")
        ]

        def keyed(df, op):
            return df.select(
                F.to_json(
                    F.struct(*self.group_cols),
                    {"ignoreNullFields": "false"},
                ).alias(KEY_COL),
                F.lit(end).cast("long").alias(TS_COL),
                F.lit(op).alias("_op"),
                *self.group_cols,
                *measures,
            )

        types = dict(recomputed.dtypes)
        dead = (
            affected.alias("a")
            .join(
                F.broadcast(
                    recomputed.select(*self.group_cols).alias("r")
                ),
                self._nullsafe("a", "r"),
                "anti",
            )
            .select(
                *self.group_cols,
                F.lit(0).cast("long").alias("cnt"),
                *[
                    F.lit(None).cast(types[m]).alias(m)
                    for m in measures
                    if m != "cnt"
                ],
            )
        )
        batch = keyed(recomputed, "upsert").unionByName(
            keyed(dead, "delete"), allowMissingColumns=False
        )
        n = batch.count()
        # upserts AND tombstones in ONE commit: the watermark, the new
        # aggregates, and the emptied groups' deletion are atomic
        self.table.merge(batch, batch_id=f"{_BATCH_PREFIX}{begin}-{end}")
        release_all((affected, recomputed))
        return {"begin": begin, "end": end, "groups_touched": n}

    def _recompute_frame(
        self, affected: DataFrame, version: int | None = None
    ) -> DataFrame:
        """Re-aggregate the source snapshot for ONLY the affected
        groups. The scan side is ``snapshot_pruned_to_groups`` (VERDICT
        r9 #1): when a group column has a secondary index, is the
        partition field, or carries col_stats, the source's FILES are
        pruned before the null-safe broadcast semi-join — refresh I/O
        is O(affected groups' files), not O(table files); a >cap
        affected set falls back loudly to a shuffle semi-join. The
        pruning decision of the last refresh is exposed at
        ``self.last_prune`` for tests/observability."""
        self.last_prune = {}
        pruned = self.source.snapshot_pruned_to_groups(
            affected, self.group_cols, stats_out=self.last_prune,
            version=version,
        )
        return pruned.groupBy(*self.group_cols).agg(
            F.count("*").cast("long").alias("cnt"),
            *[
                x
                for c in self.minmax_cols
                for x in (
                    F.min(c).alias(f"min_{c}"),
                    F.max(c).alias(f"max_{c}"),
                )
            ],
        )

    def _nullsafe(self, left: str, right: str):
        return _nullsafe_eq(self.group_cols, left, right)

    def df(self) -> DataFrame:
        """Current view contents: group_cols + cnt + min_/max_<col>."""
        return self.table.snapshot().select(
            *self.group_cols,
            "cnt",
            *[
                f"{p}_{c}"
                for c in self.minmax_cols
                for p in ("min", "max")
            ],
        )



class NdvView:
    """Incrementally-maintained per-group approx COUNT(DISTINCT) — the
    third matview shape (VERDICT r11 directive 6), composing the
    executor-side HLL machinery of ``table/ndv.py`` with the
    watermark-in-batch-id exactly-once protocol of the other views.

    COUNT(DISTINCT) is not self-inverting (a departed value may or may
    not still be contributed by another row), and an HLL sketch cannot
    subtract — so maintenance is HYBRID, split per group per slice:

    * groups touched ONLY by inserts since the watermark: sketch-UNION
      — the stored sketch ∪ a sketch of the new rows' values, no source
      scan at all (the common case for append-mostly sources, and the
      whole point: refresh cost is O(slice), never O(source));
    * groups touched by any update/delete: PARTIAL RECOMPUTE from the
      file-pruned source snapshot (``snapshot_pruned_to_groups``, the
      MinMaxView machinery) — the only way to shrink a sketch is to
      rebuild it from the rows that remain.

    One LWW merge commit applies both paths plus tombstones for groups
    with no remaining rows — upserts and deletes ride the same commit,
    so there is no GC window (the MinMaxView shape, not the
    AggregateView one).

    Exactness doctrine (mirrors table/ndv.py): HLL error is the ONLY
    error — the invariant, held inductively, is that each group's
    sketch describes exactly its current live rows' values: union adds
    exactly the inserted values; any u/d forces a rebuild from the
    snapshot. HLL union is deterministic and associative, so the union
    path and a recompute agree bit-for-bit on the same value set.
    NULLs are ignored (SQL COUNT(DISTINCT) semantics): an all-NULL
    group stores a NULL sketch and reads as 0."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        source: LakeTable,
        group_cols: list[str],
        ndv_cols: list[str],
        buckets: int = 4,
    ):
        if not group_cols:
            raise ValueError("NdvView requires at least one group col")
        if not ndv_cols:
            raise ValueError("NdvView requires at least one distinct col")
        overlap = set(group_cols) & set(ndv_cols)
        if overlap:
            raise ValueError(
                f"columns cannot be both group and measure: {sorted(overlap)}"
            )
        if "cnt" in group_cols or "cnt" in ndv_cols:
            raise ValueError("'cnt' is the view's count column name")
        self.spark = spark
        self.source = source
        self.group_cols = list(group_cols)
        self.ndv_cols = list(ndv_cols)
        self.table = LakeTable(spark, path, buckets=buckets)
        self.last_prune: dict = {}

    def watermark(self) -> int:
        """Highest source version applied to the view (see
        ``_watermark_of``)."""
        return _watermark_of(self.table)

    # sketches hash the STRING rendering (same doctrine as table/ndv.py:
    # one value space regardless of column type, cross-type stable)
    def _sketch(self, col: str):
        from hudi_spark_plus_spark.table.ndv import DEFAULT_LG_K

        return F.hll_sketch_agg(
            F.col(col).cast("string"), F.lit(DEFAULT_LG_K)
        ).alias(f"ndv_{col}")

    def _nullsafe(self, left: str, right: str):
        return _nullsafe_eq(self.group_cols, left, right)

    def _group_key(self):
        return F.to_json(
            F.struct(*self.group_cols), {"ignoreNullFields": "false"}
        )

    def refresh(self) -> dict:
        latest = self.source.log.latest()
        if latest is None:
            return {"begin": 0, "end": 0, "groups_union": 0,
                    "groups_recomputed": 0}
        begin = self.watermark()
        end = latest.version
        if end <= begin:
            return {"begin": begin, "end": begin, "groups_union": 0,
                    "groups_recomputed": 0}
        cdc = self.source.incremental_cdc(begin, end)
        # dirty = any group an update/delete touches: the u after-image
        # group (its sketch gains a value it may also have LOST — the
        # before-image value), the u/d before-image groups (they lost
        # rows). Insert-only groups are everything else the slice's
        # i-rows touch.
        dirty = (
            cdc.where(F.col("_change_op") == "u")
            .select(*self.group_cols)
            .unionByName(
                cdc.where(F.col("_change_op").isin("u", "d")).select(
                    *[
                        F.col(f"_before_{c}").alias(c)
                        for c in self.group_cols
                    ]
                )
            )
            .distinct()
            .localCheckpoint(eager=True)  # bounded by the slice's groups
        )
        ins = cdc.where(F.col("_change_op") == "i").select(
            *self.group_cols, *self.ndv_cols
        )
        # i-rows of dirty groups ride the recompute (unioning them TOO
        # would be correct for the sketch but double-count cnt)
        ins_only = ins.alias("a").join(
            F.broadcast(dirty.alias("r")), self._nullsafe("a", "r"), "anti"
        ).select(*self.group_cols, *self.ndv_cols)
        union_delta = ins_only.groupBy(*self.group_cols).agg(
            F.count("*").cast("long").alias("cnt"),
            *[self._sketch(c) for c in self.ndv_cols],
        )
        sketch_cols = [f"ndv_{c}" for c in self.ndv_cols]
        # fold the stored state into the insert-only deltas: the view's
        # own rows for exactly those groups, via the Bloom-pruned point
        # lookup (H8) — never a view scan
        if self.table.schema() is not None:
            # scan_for_keys resolves LWW but KEEPS tombstone rows
            # (_deleted=true); fold only LIVE state — a tombstone that
            # ever carried a payload (e.g. relocation-style tombstones)
            # must not count (ADVICE r12 #1: the old code depended
            # incidentally on dead groups carrying cnt=0/NULL sketches)
            stored = self.table.scan_for_keys(
                union_delta.select(self._group_key().alias(KEY_COL))
            )
            if DELETED_COL in stored.columns:
                stored = stored.where(
                    ~F.coalesce(F.col(DELETED_COL), F.lit(False))
                )
            stored = stored.select(*self.group_cols, "cnt", *sketch_cols)
            d, s = union_delta.alias("d"), stored.alias("s")
            union_delta = d.join(
                F.broadcast(s), self._nullsafe("d", "s"), "left"
            ).select(
                *[F.col(f"d.{c}").alias(c) for c in self.group_cols],
                (
                    F.col("d.cnt")
                    + F.coalesce(F.col("s.cnt"), F.lit(0))
                ).cast("long").alias("cnt"),
                *[
                    # union is null-tolerant by hand: hll_union NULLs out
                    # when either side is NULL, but an absent/all-NULL
                    # side must act as the identity
                    F.when(
                        F.col(f"d.{sc}").isNull(), F.col(f"s.{sc}")
                    )
                    .when(F.col(f"s.{sc}").isNull(), F.col(f"d.{sc}"))
                    .otherwise(F.hll_union(f"d.{sc}", f"s.{sc}"))
                    .alias(sc)
                    for sc in sketch_cols
                ],
            )
        # one materialization: the union pipeline (CDC read + stored-
        # state point lookup + joins) would otherwise execute twice —
        # once for the stats count, once for the merge (review r12 #6)
        union_delta = union_delta.localCheckpoint(eager=True)
        # dirty groups: rebuild from the file-pruned snapshot slice,
        # PINNED at the captured watermark version — the unpinned
        # latest snapshot would absorb rows a concurrent writer
        # committed after `end`, which the next slice's union path
        # would then add AGAIN (review r12 #1: permanent cnt drift)
        self.last_prune = {}
        # NOT checkpointed (measured, r13): materializing the HLL agg
        # costs more than the repeated pruned-scan branches save at
        # every tested scale point — unlike the pctl sketches, whose
        # per-group pandas aggregation dominates its scan
        recomputed = (
            self.source.snapshot_pruned_to_groups(
                dirty, self.group_cols, stats_out=self.last_prune,
                version=end,
            )
            .groupBy(*self.group_cols)
            .agg(
                F.count("*").cast("long").alias("cnt"),
                *[self._sketch(c) for c in self.ndv_cols],
            )
        )
        types = dict(recomputed.dtypes)
        dead = (
            dirty.alias("a")
            .join(
                F.broadcast(recomputed.select(*self.group_cols).alias("r")),
                self._nullsafe("a", "r"),
                "anti",
            )
            .select(
                *self.group_cols,
                F.lit(0).cast("long").alias("cnt"),
                *[
                    F.lit(None).cast(types[sc]).alias(sc)
                    for sc in sketch_cols
                ],
            )
        )

        def keyed(df, op):
            return df.select(
                self._group_key().alias(KEY_COL),
                F.lit(end).cast("long").alias(TS_COL),
                F.lit(op).alias("_op"),
                *self.group_cols,
                "cnt",
                *sketch_cols,
            )

        n_union = union_delta.count()
        n_dirty = dirty.count()
        batch = (
            keyed(union_delta, "upsert")
            .unionByName(keyed(recomputed, "upsert"))
            .unionByName(keyed(dead, "delete"))
        )
        # upserts AND tombstones in ONE commit: watermark, sketches and
        # emptied groups' deletion are atomic (no GC window)
        self.table.merge(batch, batch_id=f"{_BATCH_PREFIX}{begin}-{end}")
        release_all((dirty, union_delta))
        return {
            "begin": begin,
            "end": end,
            "groups_union": n_union,
            "groups_recomputed": n_dirty,
        }

    def df(self) -> DataFrame:
        """Current view contents: group_cols + cnt +
        approx_distinct_<col> (HLL estimate; 0 for an all-NULL group —
        SQL COUNT(DISTINCT) semantics)."""
        return self.table.snapshot().select(
            *self.group_cols,
            "cnt",
            *[
                F.coalesce(
                    F.hll_sketch_estimate(f"ndv_{c}"), F.lit(0)
                ).cast("long").alias(f"approx_distinct_{c}")
                for c in self.ndv_cols
            ],
        )


_J_BATCH_PREFIX = "mvj-"
_J_GC_PREFIX = "mvjgc-"


class JoinView:
    """Incrementally-maintained COUNT/SUM/AVG/MIN/MAX aggregate of
    ``fact INNER JOIN dim ON fact.<fact_fk> = dim.<dim_key>`` — the
    fourth matview
    shape (VERDICT r12 directive 3): the first reporting view a real
    user defines is fact×dim (the q05/q06 shape), and a per-refresh
    full recompute is exactly the 100-TB scan this module exists to
    avoid.

    Maintenance is DELTA-ALGEBRAIC on both sides, telescoping through
    the intermediate state ``Agg(fact@fv0 ⋈ dim@dv1)``:

    * **dim step** (fact pinned at its applied watermark ``fv0``): the
      dim CDC slice ``(dv0, dv1]`` — changes that leave the projected
      (join key, dim group attrs) tuple unchanged are dropped (they
      contribute zero). The fact rows whose fk matches a changed dim
      key are read from the fact snapshot AT ``fv0``, FILE-pruned by
      fk value (``files_for_any_value``: secondary index > partition >
      col_stats) and row-pruned by a broadcast semi-join — refresh I/O
      is O(affected fk values' files), never O(fact). One join of that
      slice against the broadcast ±dim-images (before-images sign −1,
      after-images +1) yields the step's contributions:
      ``Agg(f0 ⋈ d1) − Agg(f0 ⋈ d0)``.
    * **fact step** (dim pinned at ``dv1``): the fact CDC slice
      ``(fv0, fv1]`` — after-images +1, before-images −1 — joined to
      the BROADCAST dim snapshot at ``dv1`` (dims are small by
      contract and re-broadcast each refresh):
      ``Agg(f1 ⋈ d1) − Agg(f0 ⋈ d1)``.

    The two steps telescope to the exact delta. ONE delta-sized
    shuffle aggregates both arms; one Bloom-pruned ``merge_into``
    (H8) folds them into the view. Both watermarks ride the view's own
    commit batch id (``mvj-<fv0>-<fv1>-<dv0>-<dv1>``), so a crashed or
    replayed refresh is exactly-once (H5), and groups netted to zero
    tombstone in a follow-up ``mvjgc-`` pass with AggregateView's
    crash-recovery contract. The dim step time-travels the fact table
    to ``fv0`` — retention must cover the refresh cadence (the same
    ``incremental_cdc`` caveat; savepoint the watermark to guarantee
    it).

    MIN/MAX measures (``minmax_cols``) are SEMI-algebraic: groups
    touched only by inserts fold via least/greatest against the
    stored extremes (no source read); any group a row LEAVES (fact
    delete/update-out, dim re-attribution) can shrink an extreme, so
    those groups recompute from the END-state join, file-pruned to
    the dirty groups (``_minmax_recompute`` — the MinMaxView/NdvView
    hybrid in two-table form). Both paths land in the ONE watermark
    merge commit; the ``mm_rec`` column steers the per-row merge
    action and is meaningless at rest.

    Correctness contract (tested + oracled): after any refresh
    sequence the view equals ``SELECT g..., count(*) cnt, sum(m)...
    FROM fact JOIN dim ON fact.fk = dim.k GROUP BY g...`` over the
    CURRENT snapshots — bit-for-bit (integral measures only, same rule
    as AggregateView). Inner-join multiplicity is honored (a duplicate
    dim key contributes once per matching pair). Measures come from
    the FACT side; group columns may come from either side; fact and
    dim payload column names must be disjoint."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        fact: LakeTable,
        dim: LakeTable,
        fact_fk: str,
        dim_key: str,
        group_cols: list[str],
        sum_cols: list[str] | None = None,
        avg_cols: list[str] | None = None,
        minmax_cols: list[str] | None = None,
        buckets: int = 4,
    ):
        if not group_cols:
            raise ValueError("JoinView requires at least one group col")
        self.spark = spark
        self.fact = fact
        self.dim = dim
        self.fact_fk = fact_fk
        self.dim_key = dim_key
        self.group_cols = list(group_cols)
        self.sum_cols = list(sum_cols or [])
        # AVG over the join is algebraic exactly like AggregateView's:
        # integer sum + NON-NULL count per measure, one double division
        # read-side (SQL AVG divides by the non-null count)
        self.avg_cols = list(avg_cols or [])
        # MIN/MAX is only SEMI-algebraic: inserts merge
        # (least/greatest with the stored extreme), but a row LEAVING
        # a group can shrink the extreme — those groups recompute from
        # the end-state join, pruned to the touched groups (the
        # MinMaxView/NdvView hybrid, two-table form)
        self.minmax_cols = list(dict.fromkeys(minmax_cols or []))
        self._sum_state = list(
            dict.fromkeys(self.sum_cols + self.avg_cols)
        )
        measures = set(self._sum_state) | set(self.minmax_cols)
        overlap = set(self.group_cols) & measures
        if overlap:
            raise ValueError(
                f"columns cannot be both group and measure: {sorted(overlap)}"
            )
        if "cnt" in self.group_cols or "cnt" in measures:
            raise ValueError("'cnt' is the view's count column name")
        if "mm_rec" in self.group_cols or "mm_rec" in measures:
            raise ValueError(
                "'mm_rec' is the view's recompute-flag column name"
            )
        # rendered STATE names must be unique against each other and
        # the group columns (a group column literally named "min_x"
        # next to minmax_cols=["x"] would collide only at the first
        # refresh otherwise — define-time refusal, PctlView doctrine)
        rendered = (
            list(self.group_cols)
            + ["cnt"]
            + [f"sum_{c}" for c in self._sum_state]
            + [f"nn_{c}" for c in self.avg_cols]
            + [
                x
                for c in self.minmax_cols
                for x in (f"min_{c}", f"max_{c}")
            ]
            + (["mm_rec"] if self.minmax_cols else [])
        )
        dupes = sorted({n for n in rendered if rendered.count(n) > 1})
        if dupes:
            raise ValueError(
                f"view column names collide after rendering: {dupes} "
                "— rename the source columns before defining the view"
            )
        fsch, dsch = fact.schema(), dim.schema()
        if fsch is not None and dsch is not None:
            f_names = {f.name for f in fsch.fields if not f.name.startswith("_")}
            d_names = {f.name for f in dsch.fields if not f.name.startswith("_")}
            shared = f_names & d_names
            if shared:
                raise ValueError(
                    f"fact and dim payload columns must be disjoint "
                    f"(rename before defining the view): {sorted(shared)}"
                )
            if fact_fk not in f_names:
                raise ValueError(f"fact has no column {fact_fk!r}")
            if dim_key not in d_names:
                raise ValueError(f"dim has no column {dim_key!r}")
            missing = [
                c for c in self.group_cols if c not in f_names | d_names
            ]
            if missing:
                raise ValueError(f"group columns not in fact∪dim: {missing}")
            integral = {"tinyint", "smallint", "int", "bigint"}
            bad = [
                f.name
                for f in fsch.fields
                if f.name in self._sum_state
                and f.dataType.simpleString() not in integral
            ]
            not_fact = [c for c in self._sum_state if c not in f_names]
            if not_fact:
                raise ValueError(
                    f"sum/avg columns must come from the fact side: "
                    f"{not_fact}"
                )
            if bad:
                raise ValueError(
                    f"sum/avg columns must be integral for an exact view "
                    f"(float addition is order-dependent): {sorted(bad)} "
                    "— pre-scale to integer units in the source"
                )
            mm_not_fact = [
                c for c in self.minmax_cols if c not in f_names
            ]
            if mm_not_fact:
                raise ValueError(
                    f"min/max columns must come from the fact side: "
                    f"{mm_not_fact}"
                )
            mm_bad = [
                f.name
                for f in fsch.fields
                if f.name in self.minmax_cols
                and f.dataType.simpleString() not in _MINMAX_OK_TYPES
            ]
            if mm_bad:
                raise ValueError(
                    f"min/max columns must be integral/string/date for "
                    f"an engine-exact view: {sorted(mm_bad)}"
                )
        self.table = LakeTable(spark, path, buckets=buckets)
        # pruning decision of the most recent dim step (observability)
        self.last_prune: dict = {}
        # pruning decision of the most recent min/max recompute
        self.last_rec_prune: dict = {}

    # -- watermarks ----------------------------------------------------------

    def watermark(self) -> tuple[int, int]:
        """(fact version, dim version) applied to the view — parsed
        from the view's own ``mvj-<fv0>-<fv1>-<dv0>-<dv1>`` commit
        batch ids, so it is atomic with the data (the AggregateView
        protocol, two-source form)."""
        best = (0, 0)
        for v in self.table.log.versions():
            b = self.table.log.read(v).batch_id or ""
            if b.startswith(_J_BATCH_PREFIX):
                parts = b[len(_J_BATCH_PREFIX):].split("-")
                try:
                    cand = (int(parts[1]), int(parts[3]))
                except (ValueError, IndexError):
                    continue
                best = max(best, cand)
        return best

    def _pending_gc(self) -> str | None:
        """The mvjgc- batch id owed to the NEWEST mvj- commit, or None
        when its tombstone pass already ran (AggregateView's
        crash-recovery shape)."""
        newest = None
        for v in self.table.log.versions():
            b = self.table.log.read(v).batch_id or ""
            if b.startswith(_J_BATCH_PREFIX):
                newest = b[len(_J_BATCH_PREFIX):]
        if newest is None:
            return None
        gc_id = f"{_J_GC_PREFIX}{newest}"
        return None if self.table.log.has_batch(gc_id) else gc_id

    # -- maintenance ---------------------------------------------------------

    def _sides(self) -> tuple[list[str], list[str]]:
        """(dim-side group cols, fact-side group cols) — split by dim
        schema membership (payload names are disjoint by contract)."""
        dsch = self.dim.schema()
        d_names = {f.name for f in dsch.fields} if dsch else set()
        dim_side = [c for c in self.group_cols if c in d_names]
        fact_side = [c for c in self.group_cols if c not in d_names]
        return dim_side, fact_side

    def _next_ts(self) -> int:
        """Monotone LWW stamp: the view's own next commit version (the
        two-watermark id has no single scalar; any strictly-increasing
        stamp orders tombstones vs re-inserts correctly)."""
        latest = self.table.log.latest()
        return (latest.version if latest else 0) + 1

    def _signed(self, zero) -> list:
        """cnt/sum/non-null-count contribution columns for a ±frame
        carrying _sign, plus the raw min/max measure values (signed
        min/max makes no sense — the aggregation splits them by the
        row's sign instead)."""
        return [
            F.col("_sign").cast("long").alias("_c"),
            *[
                (
                    F.col("_sign")
                    * F.coalesce(F.col(c).cast("long"), zero)
                ).alias(f"_s_{c}")
                for c in self._sum_state
            ],
            *[
                (
                    F.col("_sign")
                    * F.when(F.col(c).isNotNull(), 1).otherwise(0)
                ).cast("long").alias(f"_n_{c}")
                for c in self.avg_cols
            ],
            *[
                F.col(c).alias(f"_m_{c}") for c in self.minmax_cols
            ],
            *([F.col("_mmn")] if self.minmax_cols else []),
        ]

    def _dim_arm(
        self,
        fv0: int,
        dv0: int,
        dv1: int,
        dim_side: list[str],
        fact_side: list[str],
        ckpts: list,
    ) -> DataFrame | None:
        """Contributions of dim churn against the fv0-pinned fact:
        one join of the fk-pruned fact slice against the broadcast
        ±dim-images. Returns None when no dim change survives the
        zero-contribution filter. Checkpointed frames are appended to
        ``ckpts`` for the caller to unpersist once consumed (the
        NdvView/PctlView discipline — a long-lived streaming driver
        must not leak checkpoint blocks across micro-batches)."""
        cdc = self.dim.incremental_cdc(dv0, dv1)
        proj = [self.dim_key] + dim_side
        same = None
        for c in proj:
            e = F.col(c).eqNullSafe(F.col(f"_before_{c}"))
            same = e if same is None else (same & e)
        # an update that leaves (key, group attrs) unchanged nets zero
        changed = cdc.where((F.col("_change_op") != "u") | ~same)
        # dim-churn negatives are always genuine leaves (a dim-attr
        # move re-attributes every matching fact row), so none are
        # min/max-neutral
        after = changed.where(
            F.col("_change_op").isin("i", "u")
        ).select(
            F.col(self.dim_key).alias("_jk"),
            *dim_side,
            F.lit(False).alias("_mmn"),
            F.lit(1).alias("_sign"),
        )
        before = changed.where(
            F.col("_change_op").isin("u", "d")
        ).select(
            F.col(f"_before_{self.dim_key}").alias("_jk"),
            *[F.col(f"_before_{c}").alias(c) for c in dim_side],
            F.lit(False).alias("_mmn"),
            F.lit(-1).alias("_sign"),
        )
        # bounded by the dim slice — dims are small by contract
        images = (
            after.unionByName(before)
            .where(F.col("_jk").isNotNull())
            .localCheckpoint(eager=True)
        )
        ckpts.append(images)
        # capped like every other driver collect (SCAN_KEYS_MAX /
        # MERGE_COLLECT_MAX_ROWS doctrine): past the probe cap this is no
        # longer a selective dim touch — file pruning and the
        # broadcast hint both come off, LOUDLY, and the join degrades
        # to a shuffle against the full fv0 snapshot (the correct plan
        # at that churn fraction)
        cap = self.fact.PRUNE_PROBE_CAP
        key_rows = images.select("_jk").distinct().limit(cap + 1).collect()
        if not key_rows:
            return None
        over_cap = len(key_rows) > cap
        if over_cap:
            import logging as _logging

            _logging.getLogger(__name__).warning(
                "JoinView dim step: >%d changed dim keys on %s — "
                "falling back to a shuffle join over the full pinned "
                "fact snapshot (file pruning and broadcast are off)",
                cap, self.fact.path,
            )
            self.last_prune = {"strategy": "full-scan"}
            fact0 = self.fact.snapshot(version=fv0)
        else:
            fact0, self.last_prune = self._fact_snapshot_pruned(
                [r["_jk"] for r in key_rows], fv0
            )
        zero = F.lit(0).cast("long")
        img = images if over_cap else F.broadcast(images)
        return (
            fact0.join(
                img, F.col(self.fact_fk) == F.col("_jk")
            ).select(*fact_side, *dim_side, *self._signed(zero))
        )

    def _fact_snapshot_pruned(
        self, keys: list, version: int
    ) -> tuple[DataFrame, dict]:
        """The shared fk-pruning ladder (dim step + min/max
        recompute): fact snapshot at ``version`` restricted to the
        files that can hold fk ∈ ``keys`` (``files_for_any_value``:
        secondary index > partition > col_stats). Returns
        ``(df, stats)``; a prune miss returns the full snapshot with
        ``{"strategy": "full-scan"}``."""
        pruned = self.fact.files_for_any_value(
            self.fact_fk, keys, version=version
        )
        if pruned is not None:
            kept, live = pruned
            return self.fact._read_resolved(kept, version), {
                "strategy": "file-pruned",
                "files_kept": len(kept),
                "files_live": len(live),
            }
        return (
            self.fact.snapshot(version=version),
            {"strategy": "full-scan"},
        )

    def _fact_arm(
        self,
        fv0: int,
        fv1: int,
        dv1: int,
        dim_side: list[str],
        fact_side: list[str],
    ) -> DataFrame:
        """Contributions of fact churn against the dv1-pinned broadcast
        dim: ±fact-images joined to dim@dv1 on the fk."""
        cdc = self.fact.incremental_cdc(fv0, fv1)
        cols = list(dict.fromkeys(
            [self.fact_fk] + fact_side + self._sum_state
            + self.minmax_cols
        ))
        # an update leaving every view-relevant column unchanged is a
        # ± pair canceling in every measure — drop it before the join
        # (the dim arm's no-contribution filter, fact-side form)
        same_all = None
        for c in cols:
            e = F.col(c).eqNullSafe(F.col(f"_before_{c}"))
            same_all = e if same_all is None else (same_all & e)
        cdc = cdc.where((F.col("_change_op") != "u") | ~same_all)
        mmn = F.lit(False)
        if self.minmax_cols:
            # an update changing ONLY additive measures cannot move an
            # extreme (group assignment and min/max values unchanged):
            # its before-image must not mark the group for recompute —
            # otherwise every sum-touching upsert stream forces
            # per-batch file recomputes of groups whose extremes
            # provably cannot change
            mm_cols = list(dict.fromkeys(
                [self.fact_fk] + fact_side + self.minmax_cols
            ))
            mm_same = None
            for c in mm_cols:
                e = F.col(c).eqNullSafe(F.col(f"_before_{c}"))
                mm_same = e if mm_same is None else (mm_same & e)
            mmn = (F.col("_change_op") == "u") & mm_same
        cdc = cdc.withColumn("_mmn", mmn)
        after = cdc.where(F.col("_change_op").isin("i", "u")).select(
            *cols, "_mmn", F.lit(1).alias("_sign")
        )
        before = cdc.where(F.col("_change_op").isin("u", "d")).select(
            *[F.col(f"_before_{c}").alias(c) for c in cols],
            "_mmn",
            F.lit(-1).alias("_sign"),
        )
        fdelta = after.unionByName(before)
        dsnap = self.dim.snapshot(version=dv1).select(
            F.col(self.dim_key).alias("_jk"), *dim_side
        )
        zero = F.lit(0).cast("long")
        return fdelta.join(
            F.broadcast(dsnap), F.col(self.fact_fk) == F.col("_jk")
        ).select(*fact_side, *dim_side, *self._signed(zero))

    def _minmax_recompute(
        self,
        dirty: DataFrame,
        fv1: int,
        dv1: int,
        dim_side: list[str],
    ) -> DataFrame:
        """Absolute min/max of the DIRTY groups at the end state
        (``fact@fv1 ⋈ dim@dv1``) — the only way to shrink an extreme
        after a row leaves. Pruned like the dim step: the dim snapshot
        is restricted to the dirty groups' dim-side attributes
        (broadcast semi-join — dims are small by contract), its keys
        bound the fact FILE read (``files_for_any_value``, capped at
        ``PRUNE_PROBE_CAP``), and a broadcast semi-join on the full
        group tuple trims rows to exactly the dirty groups. Past the
        cap the fact read degrades LOUDLY to the full fv1 snapshot
        (the correct plan at that churn fraction)."""
        dsnap = self.dim.snapshot(version=dv1).select(
            F.col(self.dim_key).alias("_jk"), *dim_side
        )
        if dim_side:
            dsnap = dsnap.alias("d").join(
                F.broadcast(
                    dirty.select(*dim_side).distinct().alias("g")
                ),
                _nullsafe_eq(dim_side, "d", "g"),
                "semi",
            )
        cap = self.fact.PRUNE_PROBE_CAP
        key_rows = (
            dsnap.select("_jk").distinct().limit(cap + 1).collect()
        )
        if len(key_rows) > cap:
            import logging as _logging

            _logging.getLogger(__name__).warning(
                "JoinView min/max recompute: >%d dim keys in dirty "
                "groups on %s — falling back to a full scan of the "
                "fv1 fact snapshot",
                cap, self.fact.path,
            )
            self.last_rec_prune = {"strategy": "full-scan"}
            fact1 = self.fact.snapshot(version=fv1)
        else:
            fact1, self.last_rec_prune = self._fact_snapshot_pruned(
                [r["_jk"] for r in key_rows], fv1
            )
        joined = fact1.join(
            F.broadcast(dsnap), F.col(self.fact_fk) == F.col("_jk")
        )
        joined = joined.alias("j").join(
            F.broadcast(dirty.select(*self.group_cols).alias("g")),
            _nullsafe_eq(self.group_cols, "j", "g"),
            "semi",
        )
        return joined.groupBy(*self.group_cols).agg(
            *[
                x
                for c in self.minmax_cols
                for x in (
                    F.min(c).alias(f"min_{c}"),
                    F.max(c).alias(f"max_{c}"),
                )
            ]
        )

    def refresh(self) -> dict:
        f_latest = self.fact.log.latest()
        d_latest = self.dim.log.latest()
        fv1 = f_latest.version if f_latest else 0
        dv1 = d_latest.version if d_latest else 0
        fv0, dv0 = self.watermark()
        noop = {
            "fact_begin": fv0, "fact_end": fv0,
            "dim_begin": dv0, "dim_end": dv0, "groups_touched": 0,
            "groups_recomputed": 0,
        }
        if fv1 <= fv0 and dv1 <= dv0:
            owed = self._pending_gc()
            if owed is not None:
                self.table.delete_where(F.col("cnt") == 0, batch_id=owed)
            return noop
        dim_side, fact_side = self._sides()
        arms = []
        ckpts: list = []
        try:
            if dv1 > dv0 and fv0 > 0:
                arm = self._dim_arm(
                    fv0, dv0, dv1, dim_side, fact_side, ckpts
                )
                if arm is not None:
                    arms.append(arm)
            # dv1 == 0 (dim never committed): the inner join is empty
            # by definition — nothing to apply, and the watermark must
            # NOT advance past the unjoined fact slice
            if fv1 > fv0 and dv1 > 0:
                arms.append(
                    self._fact_arm(fv0, fv1, dv1, dim_side, fact_side)
                )
            if not arms:
                # The dim slice was EXAMINED and nets zero (every
                # change filtered as no-contribution, or fv0 == 0 so
                # the join is empty) — the dim watermark must still
                # advance, or dim retention eventually drops dv0 off
                # the timeline and incremental_cdc(dv0, dv1) fails
                # forever on a view that never materially changed.
                # Metadata-only commits (live set re-cited, mvj-/mvjgc-
                # ids declared) advance it without touching data.
                if dv1 > dv0:
                    self._commit_watermark(fv0, dv0, dv1)
                    return {
                        "fact_begin": fv0, "fact_end": fv0,
                        "dim_begin": dv0, "dim_end": dv1,
                        "groups_touched": 0, "groups_recomputed": 0,
                    }
                return noop
            deltas = arms[0]
            for a in arms[1:]:
                deltas = deltas.unionByName(a)
            deltas = deltas.groupBy(*self.group_cols).agg(
                F.sum("_c").cast("long").alias("cnt"),
                *[
                    F.sum(f"_s_{c}").cast("long").alias(f"sum_{c}")
                    for c in self._sum_state
                ],
                *[
                    F.sum(f"_n_{c}").cast("long").alias(f"nn_{c}")
                    for c in self.avg_cols
                ],
                # min/max of the INSERTED rows only (merge path); any
                # negative-sign row marks the group for recompute — a
                # leaving row can shrink an extreme, which least/
                # greatest cannot express
                *[
                    x
                    for c in self.minmax_cols
                    for x in (
                        F.min(
                            F.when(F.col("_c") > 0, F.col(f"_m_{c}"))
                        ).alias(f"min_{c}"),
                        F.max(
                            F.when(F.col("_c") > 0, F.col(f"_m_{c}"))
                        ).alias(f"max_{c}"),
                    )
                ],
                *(
                    [
                        F.max(
                            F.when(
                                (F.col("_c") < 0) & ~F.col("_mmn"),
                                F.lit(1),
                            ).otherwise(F.lit(0))
                        ).cast("int").alias("mm_rec")
                    ]
                    if self.minmax_cols
                    else []
                ),
            )
            nonzero = F.col("cnt") != 0
            for c in self._sum_state:
                nonzero = nonzero | (F.col(f"sum_{c}") != 0)
            for c in self.avg_cols:
                nonzero = nonzero | (F.col(f"nn_{c}") != 0)
            if self.minmax_cols:
                # an in-place update of a min/max measure nets zero on
                # every additive column yet can move the extremes
                nonzero = nonzero | (F.col("mm_rec") == 1)
            # materialize ONCE: the un-checkpointed pipeline (fact CDC
            # + pinned fact-snapshot join + dim-snapshot join + agg)
            # would otherwise re-execute for src.count() and for each
            # of merge_into's consumers (~5 passes over the dominant
            # fact I/O); the aggregate is bounded by groups touched
            deltas = deltas.where(nonzero).localCheckpoint(eager=True)
            ckpts.append(deltas)
            state_cols = (
                ["cnt"]
                + [f"sum_{c}" for c in self._sum_state]
                + [f"nn_{c}" for c in self.avg_cols]
            )
            mm_state = [
                x
                for c in self.minmax_cols
                for x in (f"min_{c}", f"max_{c}")
            ]
            nrec = 0
            if self.minmax_cols:
                dirty = deltas.where(F.col("mm_rec") == 1)
                nrec = dirty.count()
                if nrec:
                    rec = self._minmax_recompute(
                        dirty, fv1, dv1, dim_side
                    )
                    # splice: dirty groups take the recomputed
                    # absolutes (NULL for a group emptied at the end
                    # state — its cnt nets 0 and GC removes it); the
                    # additive columns stay delta-algebraic either way
                    keep = (
                        self.group_cols + state_cols + ["mm_rec"]
                    )
                    dirty = (
                        dirty.drop(*mm_state).alias("x")
                        .join(
                            F.broadcast(rec.alias("r")),
                            _nullsafe_eq(self.group_cols, "x", "r"),
                            "left",
                        )
                        .select(
                            *[F.col(f"x.{c}") for c in keep],
                            *[
                                F.col(f"r.{m}").alias(m)
                                for m in mm_state
                            ],
                        )
                    )
                    deltas = (
                        deltas.where(F.col("mm_rec") == 0)
                        .unionByName(dirty)
                        .localCheckpoint(eager=True)
                    )
                    ckpts.append(deltas)
            src = deltas.select(
                F.to_json(
                    F.struct(*self.group_cols),
                    {"ignoreNullFields": "false"},
                ).alias(KEY_COL),
                F.lit(self._next_ts()).cast("long").alias(TS_COL),
                *self.group_cols,
                *state_cols,
                *mm_state,
                *(["mm_rec"] if self.minmax_cols else []),
            )
            n = src.count()
            assigns = {
                c: F.col(f"t.{c}") + F.col(f"s.{c}")
                for c in state_cols
            }
            if self.minmax_cols:
                rec_flag = F.col("s.mm_rec") == 1
                for c in self.minmax_cols:
                    assigns[f"min_{c}"] = F.when(
                        rec_flag, F.col(f"s.min_{c}")
                    ).otherwise(
                        # least/greatest skip NULLs: an all-NULL
                        # insert slice keeps the stored extreme, a
                        # NULL stored extreme takes the slice's
                        F.least(
                            F.col(f"t.min_{c}"), F.col(f"s.min_{c}")
                        )
                    )
                    assigns[f"max_{c}"] = F.when(
                        rec_flag, F.col(f"s.max_{c}")
                    ).otherwise(
                        F.greatest(
                            F.col(f"t.max_{c}"), F.col(f"s.max_{c}")
                        )
                    )
                # the flag only steers THIS merge; at rest it is
                # meaningless state
                assigns["mm_rec"] = F.lit(0).cast("int")
            bid = f"{_J_BATCH_PREFIX}{fv0}-{fv1}-{dv0}-{dv1}"
            self.table.merge_into(
                src,
                assigns,
                "insert",
                batch_id=bid,
            )
            self.table.delete_where(
                F.col("cnt") == 0,
                batch_id=f"{_J_GC_PREFIX}{fv0}-{fv1}-{dv0}-{dv1}",
            )
        finally:
            release_all(ckpts)
        return {
            "fact_begin": fv0, "fact_end": fv1,
            "dim_begin": dv0, "dim_end": dv1, "groups_touched": n,
            "groups_recomputed": nrec,
        }

    def _commit_watermark(self, fv0: int, dv0: int, dv1: int) -> None:
        """Advance the dim watermark with NO data change: one
        metadata-only commit declaring the mvj- id (what watermark()
        parses) and one declaring its mvjgc- id (so _pending_gc owes
        nothing). Both re-cite the live set byte-for-byte, published
        against the version it was read at (a concurrent commit is
        re-read, never dropped)."""
        t = self.table
        for prefix in (_J_BATCH_PREFIX, _J_GC_PREFIX):
            bid = f"{prefix}{fv0}-{fv0}-{dv0}-{dv1}"

            def attempt(bid=bid):
                prev = t.log.latest()
                t._publish("mv_watermark", prev.files if prev else [],
                           prev, batch_id=bid)

            t._with_commit_retries(attempt)

    # -- reads ---------------------------------------------------------------

    def df(self) -> DataFrame:
        """Current view contents: group_cols + cnt + sum_<col> +
        avg_<col> (avg = maintained integer sum / maintained non-null
        count, one deterministic double division; NULL when every
        joined value in the group is NULL — SQL AVG semantics) +
        min_/max_<col> (NULL when every joined value is NULL — SQL
        MIN/MAX semantics; the ``mm_rec`` maintenance flag is not
        part of the view). ``cnt == 0`` filtered read-side, same
        doctrine as AggregateView.df."""
        return (
            self.table.snapshot()
            .where(F.col("cnt") != 0)
            .select(
                *self.group_cols,
                "cnt",
                *[f"sum_{c}" for c in self.sum_cols],
                *[
                    F.when(
                        F.col(f"nn_{c}") > 0,
                        F.col(f"sum_{c}").cast("double")
                        / F.col(f"nn_{c}"),
                    ).alias(f"avg_{c}")
                    for c in self.avg_cols
                ],
                *[
                    x
                    for c in self.minmax_cols
                    for x in (f"min_{c}", f"max_{c}")
                ],
            )
        )


class PctlView:
    """Incrementally-maintained per-group approx PERCENTILES — the
    fifth matview shape (VERDICT r12 directive 7), completing the
    reporting aggregate family next to NDV: ``table/pctl_sketch``'s
    deterministic mergeable quantile sketches composed with the
    watermark-in-batch-id exactly-once protocol.

    A quantile sketch merges but cannot subtract, so maintenance is
    the NdvView HYBRID, split per group per slice:

    * groups touched ONLY by inserts: sketch-MERGE — the stored sketch
      ⊕ a sketch of the new rows' values (``merge_sketch_cols``), no
      source scan at all (the append-mostly common case);
    * groups touched by any update/delete: PARTIAL RECOMPUTE from the
      file-pruned source snapshot PINNED at the captured watermark
      version (``snapshot_pruned_to_groups(version=end)``) — the only
      way to shrink a sketch is to rebuild it from the rows that
      remain.

    One LWW merge commit applies both paths plus tombstones for
    emptied groups (no GC window — the MinMaxView/NdvView shape).
    Sketches are built EXECUTOR-SIDE (mapInPandas partials + per-group
    merge, ``pctl_sketch.group_sketches``); the driver holds group
    keys and paths only, never a sketch.

    Error doctrine (q16's): sketch rank error is the ONLY error, and
    it is TRACKED, not assumed — each stored sketch carries its
    accumulated bound; ``error_bounds()`` exposes it per group, and
    while every group stays under the sketch capacity ``k`` the
    sketches are lossless, so ``df()`` equals DuckDB's exact
    ``quantile_disc`` bit-for-bit (what lets the fixture hash-match an
    exact SQL oracle). NULL measure values are ignored (SQL percentile
    semantics): an all-NULL group stores a NULL sketch and reads NULL."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        source: LakeTable,
        group_cols: list[str],
        pctl_cols: list[str],
        quantiles: tuple = (0.5, 0.95),
        k: int | None = None,
        buckets: int = 4,
    ):
        from hudi_spark_plus_spark.table.pctl_sketch import DEFAULT_K

        if not group_cols:
            raise ValueError("PctlView requires at least one group col")
        if not pctl_cols:
            raise ValueError("PctlView requires at least one measure col")
        overlap = set(group_cols) & set(pctl_cols)
        if overlap:
            raise ValueError(
                f"columns cannot be both group and measure: {sorted(overlap)}"
            )
        if "cnt" in group_cols or "cnt" in pctl_cols:
            raise ValueError("'cnt' is the view's count column name")
        bad_q = [q for q in quantiles if not 0.0 <= q <= 1.0]
        if bad_q:
            raise ValueError(f"quantiles must be in [0, 1]: {bad_q}")
        # df() renders each quantile as p<percent>_<col>; two distinct
        # quantiles rounding to the same percent (0.9 vs 0.904) would
        # silently produce duplicate column names — refuse at define
        # time, not at the first ambiguous read
        labels = [f"p{int(round(q * 100)):02d}" for q in quantiles]
        if len(set(labels)) != len(labels):
            dupes = sorted({l for l in labels if labels.count(l) > 1})
            raise ValueError(
                f"quantiles {list(quantiles)} collide on rendered "
                f"column labels {dupes} (labels are whole percents) — "
                "pick quantiles at least 0.01 apart or drop one"
            )
        self.spark = spark
        self.source = source
        self.group_cols = list(group_cols)
        self.pctl_cols = list(pctl_cols)
        self.quantiles = list(quantiles)
        self.k = DEFAULT_K if k is None else int(k)
        self.table = LakeTable(spark, path, buckets=buckets)
        self.last_prune: dict = {}

    def watermark(self) -> int:
        return _watermark_of(self.table)

    def _nullsafe(self, left: str, right: str):
        return _nullsafe_eq(self.group_cols, left, right)

    def _group_key(self):
        return F.to_json(
            F.struct(*self.group_cols), {"ignoreNullFields": "false"}
        )

    def _sketch_frame(self, df: DataFrame) -> DataFrame:
        from hudi_spark_plus_spark.table.pctl_sketch import group_sketches

        return group_sketches(df, self.group_cols, self.pctl_cols, self.k)

    def refresh(self) -> dict:
        from hudi_spark_plus_spark.table.pctl_sketch import (
            merge_sketch_cols,
        )

        latest = self.source.log.latest()
        if latest is None:
            return {"begin": 0, "end": 0, "groups_union": 0,
                    "groups_recomputed": 0}
        begin = self.watermark()
        end = latest.version
        if end <= begin:
            return {"begin": begin, "end": begin, "groups_union": 0,
                    "groups_recomputed": 0}
        cdc = self.source.incremental_cdc(begin, end)
        # same dirty/insert split as NdvView (sketches can't subtract)
        dirty = (
            cdc.where(F.col("_change_op") == "u")
            .select(*self.group_cols)
            .unionByName(
                cdc.where(F.col("_change_op").isin("u", "d")).select(
                    *[
                        F.col(f"_before_{c}").alias(c)
                        for c in self.group_cols
                    ]
                )
            )
            .distinct()
            .localCheckpoint(eager=True)  # bounded by the slice's groups
        )
        ins = cdc.where(F.col("_change_op") == "i").select(
            *self.group_cols, *self.pctl_cols
        )
        ins_only = ins.alias("a").join(
            F.broadcast(dirty.alias("r")), self._nullsafe("a", "r"), "anti"
        ).select(*self.group_cols, *self.pctl_cols)
        union_delta = self._sketch_frame(ins_only)
        sketch_cols = [f"pctl_{c}" for c in self.pctl_cols]
        if self.table.schema() is not None:
            # stored ⊕ delta fold via the Bloom-pruned point lookup —
            # LIVE rows only (the NdvView ADVICE r12 #1 doctrine)
            stored = self.table.scan_for_keys(
                union_delta.select(self._group_key().alias(KEY_COL))
            )
            if DELETED_COL in stored.columns:
                stored = stored.where(
                    ~F.coalesce(F.col(DELETED_COL), F.lit(False))
                )
            stored = stored.select(*self.group_cols, "cnt", *sketch_cols)
            merge2 = merge_sketch_cols(self.k)
            d, s = union_delta.alias("d"), stored.alias("s")
            union_delta = d.join(
                F.broadcast(s), self._nullsafe("d", "s"), "left"
            ).select(
                *[F.col(f"d.{c}").alias(c) for c in self.group_cols],
                (
                    F.col("d.cnt")
                    + F.coalesce(F.col("s.cnt"), F.lit(0))
                ).cast("long").alias("cnt"),
                *[
                    # fixed operand order (stored ⊕ delta): replays
                    # reproduce bytes exactly
                    merge2(F.col(f"s.{sc}"), F.col(f"d.{sc}")).alias(sc)
                    for sc in sketch_cols
                ],
            )
        union_delta = union_delta.localCheckpoint(eager=True)
        self.last_prune = {}
        # bounded by the dirty groups; checkpointed for the same reason
        # as NdvView's recomputed frame (merge unit collect + batch
        # branch + dead broadcast would each re-run the pruned scan)
        recomputed = self._sketch_frame(
            self.source.snapshot_pruned_to_groups(
                dirty, self.group_cols, stats_out=self.last_prune,
                version=end,
            )
        ).localCheckpoint(eager=True)
        types = dict(recomputed.dtypes)
        dead = (
            dirty.alias("a")
            .join(
                F.broadcast(recomputed.select(*self.group_cols).alias("r")),
                self._nullsafe("a", "r"),
                "anti",
            )
            .select(
                *self.group_cols,
                F.lit(0).cast("long").alias("cnt"),
                *[
                    F.lit(None).cast(types[sc]).alias(sc)
                    for sc in sketch_cols
                ],
            )
        )

        def keyed(df, op):
            return df.select(
                self._group_key().alias(KEY_COL),
                F.lit(end).cast("long").alias(TS_COL),
                F.lit(op).alias("_op"),
                *self.group_cols,
                "cnt",
                *sketch_cols,
            )

        n_union = union_delta.count()
        n_dirty = dirty.count()
        batch = (
            keyed(union_delta, "upsert")
            .unionByName(keyed(recomputed, "upsert"))
            .unionByName(keyed(dead, "delete"))
        )
        self.table.merge(batch, batch_id=f"{_BATCH_PREFIX}{begin}-{end}")
        release_all((dirty, union_delta, recomputed))
        return {
            "begin": begin,
            "end": end,
            "groups_union": n_union,
            "groups_recomputed": n_dirty,
        }

    def df(self) -> DataFrame:
        """Current view contents: group_cols + cnt + p<q>_<col> per
        requested quantile (double; NULL for an all-NULL group)."""
        from hudi_spark_plus_spark.table.pctl_sketch import quantile_col

        return self.table.snapshot().select(
            *self.group_cols,
            "cnt",
            *[
                quantile_col(q, self.k)(F.col(f"pctl_{c}")).alias(
                    f"p{int(round(q * 100)):02d}_{c}"
                )
                for q in self.quantiles
                for c in self.pctl_cols
            ],
        )

    def error_bounds(self) -> DataFrame:
        """Per-group tracked rank-error bound and value count per
        measure column (q16 doctrine: the error is measured state, not
        an assumption). err == 0 ⇒ the group's quantiles are exact."""
        from pyspark.sql.types import LongType

        from hudi_spark_plus_spark.table.pctl_sketch import deserialize

        k = self.k

        def field(name):
            @F.pandas_udf(LongType())
            def read_f(col: pd.Series) -> pd.Series:
                return pd.Series(
                    [
                        None
                        if b is None
                        else deserialize(bytes(b), k)[name]
                        for b in col
                    ],
                    dtype="Int64",
                )

            return read_f

        return self.table.snapshot().select(
            *self.group_cols,
            *[
                x
                for c in self.pctl_cols
                for x in (
                    field("err")(F.col(f"pctl_{c}")).alias(f"err_{c}"),
                    field("n")(F.col(f"pctl_{c}")).alias(f"n_{c}"),
                )
            ],
        )
