"""``spark.read.format("lake-table")`` — batch read of a lake table
through the standard DataFrameReader surface (the ``spark.read.format(
"hudi")`` analogue; the reference's tables are consumed exactly this
way downstream, README.md:21-27), via PySpark 4's Python Data Source
API. Together with the streaming side (streaming/stream_source.py) and
the foreachBatch write sink this completes the read/write matrix of the
``lake-table`` format.

Modes (``engine.read.type``):

* ``snapshot`` (default) — current state, or time travel via
  ``engine.read.version`` / ``engine.read.as.of.ts.millis`` (H6);
* ``read_optimized`` — base files only, Hudi's ``_ro`` view;
* ``incremental`` — records changed in versions
  (``engine.read.begin``, ``engine.read.end``] at their final in-range
  state, deletes as tombstones (H7, same contract as
  ``LakeTable.incremental``);
* ``cdc`` — the CDC-format incremental read (H13, the Hudi
  ``hoodie.datasource.query.incremental.format=cdc`` read option;
  same contract as ``LakeTable.incremental_cdc``): one row per changed
  record with ``_change_op`` i/u/d, ``_change_ver``, after-image
  payload and ``_before_<col>`` before-image columns. Computed with NO
  shuffle: a record's before and after copies live in the same file
  group by bucket-hash construction, so each planned unit joins its
  begin-version image against its end-version image entirely inside
  one worker.

Pushed-filter pruning: with ``spark.sql.python.filterPushdown.enabled``
(``register()`` turns it on) Spark hands ``pushFilters`` the query's
conjunctive predicates during planning. Two families prune the planned
file set STRUCTURALLY, before any scan:

* equality / IN / range predicates on simple (transform-free)
  partition-path source fields eliminate whole partitions via the
  manifest's per-file partition values;
* equality / IN on ``_key`` prunes per file through the manifest's
  min/max key range and serialized Bloom filter (K1) — the point-lookup
  path, no bucket math needed driver-side.

ALL filters are handed back to Spark for re-evaluation, so pruning can
only shrink I/O, never change answers — a false positive costs a file
read, a false negative cannot occur (Bloom property). At 100 TB this is
the difference between "scan 7 of 3650 day-partitions" and "scan the
table": the same structural elimination ``snapshot(partitions=...)``
does, but driven by ordinary ``df.filter`` predicates.

SHARP EDGE (Spark 4.1 framework behavior, measured — not this
reader's state): the engine plans a Python Data Source read once per
FILTERED query (a fresh reader instance in a fresh planning worker
each time — filtered results are always correct), but an UNFILTERED
action on the SAME loaded DataFrame object does not re-plan: it reuses
the most recent planning's InputPartitions. So
``df = spark.read.format("lake-table").load(p);
df.filter(...).count(); df.count()`` returns the FILTERED subset for
the second count. The ``pushFilters`` API is documented as
"called once during query planning" with mutations visible to
``partitions()`` — the contract assumes one planning per query, and
the filterless re-use path violates it outside this reader's control
(instance-level state hygiene cannot help: the stale partitions are
cached JVM-side). Until Spark re-plans filterless scans: either call
``load()`` per query when mixing filtered and unfiltered actions on
one table (each load is independently planned — measured), or set
``engine.read.pushdown=false`` on a relation you intend to reuse —
pruning is then skipped entirely and every action scans the full
plan with Spark-side filter evaluation (correct, just unpruned).

Execution model: offset/version resolution and file planning run on the
DRIVER as plain commit-log reads (no Spark jobs); ``read()`` runs in
Python workers over pyarrow. The file plan is the one every reader
shares (table/merge_kernel.py: ``incremental_plan``, ``cdc_plan``,
``unit_of``), with this reader's pushed-filter pruning on top, and the
worker read is ``read_slice`` (``load_logical`` -> resolve ->
``in_version_range``), which the stream reader uses too. COW /
read-optimized reads plan one ``InputPartition`` per data file. When
merge-on-read deltas are live, the unit of planning becomes the
resolution unit's FILE GROUP — (partition, bucket), or bucket alone on
global-index tables — and the worker resolves latest-per-key inside the
group (``resolve_latest_arrow``, the same (_ts desc, _commit_ver desc,
live-beats-tombstone) rule as ``LakeTable._resolve_latest``): buckets
are hash(key)-assigned, so a record's every copy lives in one group by
construction and resolution never needs a shuffle. Column mapping is
honored — files store PHYSICAL names, the scan yields the logical
schema, renames/widenings applied and pre-evolution files back-filled
with nulls.
"""

from __future__ import annotations

import datetime
import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

from hudi_spark_plus_spark.table.merge_kernel import (
    NON_SECONDARY_KINDS,
    active_fields,
    bloom_hits,
    cdc_plan,
    in_version_range,
    incremental_plan,
    load_logical,
    open_latest_manifest,
    resolve_latest_arrow,
    unit_groups,
    unit_of,
)

PATH_OPT = "path"
TYPE_OPT = "engine.read.type"
VERSION_OPT = "engine.read.version"
AS_OF_TS_OPT = "engine.read.as.of.ts.millis"
# read a named savepoint's pinned version (H12 through the format
# surface): resolves via the table's _savepoints/<name>.json sidecar —
# the pin vacuum honors, so the read target cannot be reclaimed while
# the name lives. Version/instant options win when both are given.
SAVEPOINT_OPT = "engine.read.savepoint"
BEGIN_OPT = "engine.read.begin"
END_OPT = "engine.read.end"
# Hudi-parity instant-based ranges (hoodie.datasource.read.begin/
# end.instanttime): resolved against commit ts_millis — begin maps to
# the newest version AT OR BEFORE the instant (so the read streams
# everything after it), end to the newest version at or before its
# instant. Version options win when both are given.
BEGIN_TS_OPT = "engine.read.begin.ts.millis"
END_TS_OPT = "engine.read.end.ts.millis"
INCLUDE_DELETED_OPT = "engine.read.include.deleted"
# disable pushed-filter file pruning for a relation that will be
# REUSED across filtered and unfiltered actions (see SHARP EDGE above)
PUSHDOWN_OPT = "engine.read.pushdown"

_KEY = "_key"
_DELETED = "_deleted"
_COMMIT_VER = "_commit_ver"


def logical_struct(schema_json: str) -> StructType:
    """Reader-facing schema: active fields under logical names, no
    mapping metadata exposed."""
    full = StructType.fromJson(json.loads(schema_json))
    return StructType(
        [
            f.__class__(f.name, f.dataType, True)
            for f in full.fields
            if not (f.metadata or {}).get("dropped")
        ]
    )


def version_at_or_before(log, ts_millis: int) -> int:
    """Newest version whose commit instant is <= the given epoch
    millis; 0 when the instant predates the whole timeline (an
    incremental begin of 0 = everything, the right reading of "changes
    since before the table existed"). THE instant-resolution rule — the
    batch reader, as-of resolution, and the stream source all share it."""
    best = 0
    for ver in log.versions():
        if log._read_meta(ver).ts_millis <= ts_millis:
            best = ver
    return best


def cdc_struct(schema_json: str) -> StructType:
    """Reader-facing schema of a ``cdc`` read — mirrors
    ``LakeTable.incremental_cdc`` exactly: ``_change_op``,
    ``_change_ver``, the payload columns (logical schema minus
    ``_deleted``/``_commit_ver``), then ``_before_<col>`` for every
    payload column except ``_key``."""
    from pyspark.sql.types import LongType, StringType, StructField

    logical = logical_struct(schema_json)
    payload = [
        f for f in logical.fields if f.name not in (_DELETED, _COMMIT_VER)
    ]
    return StructType(
        [
            StructField("_change_op", StringType(), True),
            StructField("_change_ver", LongType(), True),
            *payload,
            *[
                StructField(f"_before_{f.name}", f.dataType, True)
                for f in payload
                if f.name != _KEY
            ],
        ]
    )


def _render_prune_value(v) -> str | None:
    """Partition-path rendering of a pushed filter literal — must match
    ``keygen._partition_part``'s null-safe string cast for SIMPLE specs.
    Returns None for types whose Spark string rendering we don't
    reproduce exactly (then that predicate simply doesn't prune)."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (str, int)):
        return str(v)
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return v.isoformat()
    return None


# string/date partition values compare in rendered (string) order, so
# range predicates can prune them; numeric renders do not ("10" < "2").
_RANGE_SAFE = (str, datetime.date)

# manifest col_stats hold JSON-stable int/float/str; a pushed literal of
# the same kind compares natively (bool excluded — it's an int subclass
# whose parquet stats semantics we don't rely on)
_STATS_SAFE = (int, float, str)


class _Slice(InputPartition):
    """One planned scan unit of the batch and stream readers: a single
    file (no resolution) or a whole file group (worker-side latest-per-
    key resolution). ``boot`` names the subset of ``paths`` that are
    metadata-only bootstrap files — the worker synthesizes their engine
    meta columns from the table's persisted bootstrap spec
    (table/bootstrap.py). An incremental slice keeps only the rows whose
    commit version is in (``begin``, ``end``]."""

    def __init__(self, paths: list[str], resolve: bool, boot=(),
                 begin: int | None = None, end: int | None = None):
        self.paths = paths
        self.resolve = resolve
        self.boot = frozenset(boot)
        self.begin = begin
        self.end = end


def plan_slices(files, groups, begin=None, end=None) -> list[_Slice]:
    """The slices of a plan: one per group of ``groups`` (``{unit:
    files}``, resolved in the worker) or, when it is None, one per file
    of ``files``."""
    if groups is not None:
        return [
            _Slice([f.path for f in grp], True,
                   [f.path for f in grp if f.kind == "bootstrap"],
                   begin, end)
            for grp in groups.values()
        ]
    return [
        _Slice([f.path], False,
               [f.path] if f.kind == "bootstrap" else (), begin, end)
        for f in files
    ]


def read_slice(s: _Slice, table_path: str, fields, bootstrap_spec):
    """The one worker-side read of a slice: each file on the logical
    ``fields``, a group resolved latest-per-key, then the slice's
    version range."""
    import pyarrow as pa

    parts = [
        load_logical(table_path, rel, fields,
                     bootstrap_spec if rel in s.boot else None)
        for rel in s.paths
    ]
    t = parts[0] if len(parts) == 1 else pa.concat_tables(parts)
    if s.resolve:
        t = resolve_latest_arrow(t)
    if s.begin is not None:
        t = t.filter(in_version_range(t, s.begin, s.end))
    return t


class _CdcSlice(InputPartition):
    """One CDC scan unit: a changed file group's live files at the END
    version (after-image side) and at the BEGIN version (before-image
    side — empty when begin <= 0: everything classifies as insert).
    ``boot_candidates`` are the manifest entries of the begin-version
    bootstrap files the range CONSUMED (converted) — a changed record's
    before image may sit in one (they are not bucket-attributable), so
    the worker probes each candidate's key range and Bloom with its own
    changed keys and reads only the hits: per-slice relevance is exact
    up to Bloom false positives."""

    def __init__(self, after_paths: list[str], before_paths: list[str],
                 boot=(), boot_candidates=()):
        self.after_paths = after_paths
        self.before_paths = before_paths
        self.boot = frozenset(boot)
        self.boot_candidates = list(boot_candidates)


class LakeBatchReader(DataSourceReader):
    def __init__(self, options):
        path = options.get(PATH_OPT)
        if not path:
            raise ValueError(
                "lake-table source requires .option('path', <table dir>) "
                "or .load(<table dir>)"
            )
        from hudi_spark_plus_spark.table.commit_log import CommitLog

        self.table_path = path
        self.log = CommitLog(path)
        latest = self.log.latest()
        if latest is None or not latest.schema_json:
            raise ValueError(f"lake table at {path} has no commits")
        self.fields = active_fields(latest.schema_json)
        self.partition_fields = latest.partition_fields or []
        self.global_index = bool(latest.global_index)
        self.bootstrap_spec = latest.bootstrap_spec
        self.mode = options.get(TYPE_OPT, "snapshot")
        if self.mode not in ("snapshot", "read_optimized", "incremental",
                             "cdc"):
            raise ValueError(
                f"unknown {TYPE_OPT} {self.mode!r}; supported: snapshot, "
                "read_optimized, incremental, cdc"
            )
        self.version = self._resolve_version(options)
        self.begin = self.end = None
        if self.mode in ("incremental", "cdc"):
            if BEGIN_OPT in options:
                self.begin = int(options.get(BEGIN_OPT))
            elif BEGIN_TS_OPT in options:
                self.begin = self._version_at_or_before(
                    int(options.get(BEGIN_TS_OPT))
                )
            else:
                raise ValueError(
                    f"{self.mode} read requires .option('{BEGIN_OPT}', "
                    f"<version>) or .option('{BEGIN_TS_OPT}', <epoch ms>)"
                )
            e = options.get(END_OPT)
            if e is not None:
                self.end = int(e)
            elif END_TS_OPT in options:
                self.end = self._version_at_or_before(
                    int(options.get(END_TS_OPT))
                )
        inc_del = options.get(INCLUDE_DELETED_OPT)
        if inc_del is None:
            # tombstones ARE the payload of an incremental (CDC) read;
            # a snapshot hides them like LakeTable.snapshot does
            self.include_deleted = self.mode in ("incremental", "cdc")
        else:
            self.include_deleted = str(inc_del).lower() in ("true", "1")
        self.pushdown = str(
            options.get(PUSHDOWN_OPT, "true")
        ).lower() in ("true", "1")
        # pushed-filter prune state: field-component index -> values.
        # PER-QUERY lifecycle: Spark's planning worker keeps ONE reader
        # instance per loaded relation and re-plans every action on it,
        # so state must be re-armed by pushFilters (start of a filtered
        # plan) and cleared after partitions() (end of any plan) — a
        # later action on the same DataFrame without filters would
        # otherwise inherit the previous action's pruning and silently
        # drop files (wrong results, not just a missed optimization).
        self._part_eq: dict[int, set] = {}
        self._part_lo: dict[int, tuple] = {}
        self._part_hi: dict[int, tuple] = {}
        self._key_eq: set | None = None
        # which partition components are prunable: simple specs only
        # (transformed components would need the transform re-applied)
        self._simple_comp = {
            spec: i
            for i, spec in enumerate(self.partition_fields)
            if ":" not in spec
        }
        # value-stats prune state (Hudi metadata-table col_stats data
        # skipping, the format-read twin of LakeTable.scan_range):
        # logical column -> pushed conjuncts [(op, literal(s))]
        self._val_preds: dict[str, list] = {}
        self._phys_of = {name: phys for name, phys, _ in self.fields}
        # lazily-loaded secondary-index manifests ({col: entries}) +
        # decoded-bloom cache for the current plan (see _index_prunes)
        self._sec_idx: dict | None = None
        self._sec_blooms: dict = {}

    def _version_at_or_before(self, ts_millis: int) -> int:
        return version_at_or_before(self.log, ts_millis)

    def _resolve_version(self, options) -> int | None:
        v = options.get(VERSION_OPT)
        if v is not None:
            return int(v)
        sp = options.get(SAVEPOINT_OPT)
        if sp is not None:
            # same name alphabet LakeTable.savepoint enforces — also
            # keeps a hostile option value from escaping the table dir
            if not sp or not all(c.isalnum() or c in "._-" for c in sp):
                raise ValueError(
                    f"savepoint name {sp!r} must be non-empty and use "
                    "only letters, digits, '.', '_', '-'"
                )
            p = os.path.join(
                self.table_path, "_savepoints", f"{sp}.json"
            )  # LakeTable.SAVEPOINTS_DIR
            try:
                with open(p) as fh:
                    return int(json.load(fh)["version"])
            except FileNotFoundError:
                raise ValueError(
                    f"no savepoint {sp!r} on table at {self.table_path}"
                ) from None
        ts = options.get(AS_OF_TS_OPT)
        if ts is None:
            return None
        best = version_at_or_before(self.log, int(ts))
        if best == 0:
            raise ValueError(
                f"table at {self.table_path} has no commit at or before "
                f"ts_millis={ts}"
            )
        return best

    # -- planning (driver-side) ---------------------------------------------

    def _reset_prune_state(self) -> None:
        self._part_eq = {}
        self._part_lo = {}
        self._part_hi = {}
        self._key_eq = None
        self._val_preds = {}
        self._sec_idx = None
        self._sec_blooms = {}

    def pushFilters(self, filters):
        # EAGER, not a generator: the reset and the state building must
        # run at call time — Spark materializes the returned iterator,
        # but a lazily-evaluated reset would leave a window where stale
        # state survives into this query's planning
        self._reset_prune_state()
        if not self.pushdown:
            # relation opted out (reuse-safe mode): no prune state is
            # ever built, so a cached re-plan can never drop files
            return list(filters)
        return list(self._consume_filters(filters))

    def _consume_filters(self, filters):
        for flt in filters:
            attr = getattr(flt, "attribute", None)
            if not attr or len(attr) != 1:
                yield flt
                continue
            col = attr[0]
            comp = self._simple_comp.get(col)
            if col == _KEY and isinstance(flt, (EqualTo, In)):
                vals = (
                    [flt.value] if isinstance(flt, EqualTo) else list(flt.value)
                )
                keys = {v for v in vals if isinstance(v, str)}
                if len(keys) == len(vals):
                    self._key_eq = (
                        keys if self._key_eq is None else self._key_eq & keys
                    )
            elif comp is not None and isinstance(flt, (EqualTo, In)):
                vals = (
                    [flt.value] if isinstance(flt, EqualTo) else list(flt.value)
                )
                rendered = {_render_prune_value(v) for v in vals}
                if None not in rendered:
                    prev = self._part_eq.get(comp)
                    self._part_eq[comp] = (
                        rendered if prev is None else prev & rendered
                    )
            elif comp is not None and isinstance(
                flt, (GreaterThan, GreaterThanOrEqual)
            ):
                if isinstance(flt.value, _RANGE_SAFE) and not isinstance(
                    flt.value, bool
                ):
                    r = _render_prune_value(flt.value)
                    incl = isinstance(flt, GreaterThanOrEqual)
                    cur = self._part_lo.get(comp)
                    # keep the larger bound; on ties inclusive wins —
                    # conservative (extra kept file, never a wrong prune)
                    if r is not None and (cur is None or (r, incl) > cur):
                        self._part_lo[comp] = (r, incl)
            elif comp is not None and isinstance(
                flt, (LessThan, LessThanOrEqual)
            ):
                if isinstance(flt.value, _RANGE_SAFE) and not isinstance(
                    flt.value, bool
                ):
                    r = _render_prune_value(flt.value)
                    incl = isinstance(flt, LessThanOrEqual)
                    cur = self._part_hi.get(comp)
                    # keep the smaller bound (filters are a conjunction;
                    # at equal value the exclusive form is the tighter
                    # AND and still exact)
                    if r is not None and (cur is None or (r, incl) < cur):
                        self._part_hi[comp] = (r, incl)
            elif (
                col in self._phys_of
                and not col.startswith("_")
                and self.mode != "cdc"
                # CDC output rows pair a begin-version before-image with
                # an end-version after-image; neither side's file stats
                # bound the OUTPUT columns, so value skipping is off
            ):
                if isinstance(flt, (EqualTo, In)):
                    vals = (
                        [flt.value]
                        if isinstance(flt, EqualTo)
                        else list(flt.value)
                    )
                    if (
                        vals
                        and all(
                            isinstance(v, _STATS_SAFE)
                            and not isinstance(v, bool)
                            for v in vals
                        )
                        and len({isinstance(v, str) for v in vals}) == 1
                    ):
                        self._val_preds.setdefault(col, []).append(
                            ("in", vals)
                        )
                elif isinstance(
                    flt,
                    (GreaterThan, GreaterThanOrEqual,
                     LessThan, LessThanOrEqual),
                ):
                    v = flt.value
                    if isinstance(v, _STATS_SAFE) and not isinstance(
                        v, bool
                    ):
                        op = {
                            GreaterThan: "gt",
                            GreaterThanOrEqual: "ge",
                            LessThan: "lt",
                            LessThanOrEqual: "le",
                        }[type(flt)]
                        self._val_preds.setdefault(col, []).append((op, v))
            # every filter is re-evaluated by Spark post-scan: pruning
            # here only shrinks the file plan, never answers predicates
            yield flt

    def _partition_prunes(self, f) -> bool:
        """True when the manifest entry's partition value proves the
        file holds NO matching rows. Unknown partitions (None, or
        unexpected component counts) are kept conservatively."""
        if f.partition is None or not self.partition_fields:
            return False
        comps = (
            f.partition.split("/")
            if len(self.partition_fields) > 1
            else [f.partition]
        )
        if len(comps) != len(self.partition_fields):
            return False
        for i, keep in self._part_eq.items():
            if comps[i] not in keep:
                return True
        for i, (lo, incl) in self._part_lo.items():
            if comps[i] < lo or (comps[i] == lo and not incl):
                return True
        for i, (hi, incl) in self._part_hi.items():
            if comps[i] > hi or (comps[i] == hi and not incl):
                return True
        return False

    def _key_prunes(self, f) -> bool:
        """True when min/max key range + manifest Bloom prove the file
        holds none of the equality-probed keys. No false negatives
        (Bloom property), so pruning is exact for the probed keys."""
        if not self._key_eq:
            return False
        keys = self._key_eq
        if f.min_key is not None and f.max_key is not None:
            keys = {k for k in keys if f.min_key <= k <= f.max_key}
            if not keys:
                return True
        return not bloom_hits([f], keys)

    def _stats_prunes(self, f) -> bool:
        """True when the file's manifest col_stats prove NO row can
        satisfy some pushed value conjunct (Hudi col_stats data
        skipping). Missing stats, unknown columns, or cross-type
        literals keep the file — pruning is I/O-only and conservative,
        and Spark re-evaluates every predicate post-scan."""
        if not self._val_preds:
            return False
        cs = f.col_stats or {}
        for col, preds in self._val_preds.items():
            st = cs.get(self._phys_of[col])
            if st is None:
                continue
            lo, hi = st
            if not isinstance(lo, _STATS_SAFE):
                continue
            for op, val in preds:
                probe = val[0] if op == "in" else val
                if isinstance(probe, str) != isinstance(lo, str):
                    continue  # numeric-vs-string proves nothing
                if op == "in":
                    if all(v < lo or v > hi for v in val):
                        return True
                elif op == "gt":
                    if hi <= val:
                        return True
                elif op == "ge":
                    if hi < val:
                        return True
                elif op == "lt":
                    if lo >= val:
                        return True
                elif op == "le":
                    if lo > val:
                        return True
        return False

    def _load_sec_indexes(self) -> dict:
        """Latest secondary-index manifest entries for every column the
        pushed equality conjuncts touch — the format-read twin of
        ``LakeTable.scan_for_values``. Loaded once per plan; a table
        with no ``_index/`` sidecars costs one isdir check. Entries are
        PATH-keyed and a file's content never changes, so an index
        entry is valid for any version that references the file —
        time-travel and incremental plans prune safely with it."""
        if self._sec_idx is not None:
            return self._sec_idx
        self._sec_idx = {}
        for col, preds in self._val_preds.items():
            if not any(op == "in" for op, _ in preds):
                continue
            try:
                manifest = open_latest_manifest(self.table_path, col)
            except (OSError, ValueError):
                continue  # unreadable sidecar: prune nothing
            if manifest and manifest.get("kind") not in NON_SECONDARY_KINDS:
                self._sec_idx[col] = manifest.get("entries", {})
        return self._sec_idx

    def _index_prunes(self, f) -> bool:
        """True when a secondary-index Bloom proves the file holds NONE
        of a pushed equality conjunct's values. Unindexed files and
        non-str/int literals keep the file; an all-null sentinel entry
        prunes (SQL equality never matches NULL). Same I/O-only
        conservatism as col_stats skipping — Spark re-evaluates every
        predicate post-scan."""
        from hudi_spark_plus_spark.table.bloom import KeyBloom

        idxs = self._load_sec_indexes()
        if not idxs:
            return False
        for col, preds in self._val_preds.items():
            entries = idxs.get(col)
            if entries is None:
                continue
            b64 = entries.get(f.path)
            if b64 is None:
                continue  # file newer than the index: scan it
            for op, vals in preds:
                if op != "in":
                    continue
                # exact-type rendering only: the build cast the column
                # to string, so str(int) matches bigint renders but a
                # float/decimal literal must NOT be guessed at
                probes = [
                    v if isinstance(v, str) else str(v)
                    for v in vals
                    if isinstance(v, (str, int))
                    and not isinstance(v, bool)
                ]
                if len(probes) != len(vals):
                    continue
                if b64 == "":
                    return True  # indexed: column all-NULL in file
                bloom = self._sec_blooms.get((col, f.path))
                if bloom is None:
                    bloom = KeyBloom.from_b64(b64)
                    self._sec_blooms[(col, f.path)] = bloom
                if not any(bloom.might_contain(p) for p in probes):
                    return True
        return False

    def _value_prunes(self, f) -> bool:
        return self._stats_prunes(f) or self._index_prunes(f)

    def _stats_keep_units(self, groups: dict) -> dict:
        """Unit-granular data skipping for merge-on-read plans: a
        resolution unit is droppable only when EVERY file in it proves
        disjoint — per-file pruning inside a unit could delete the
        delta that supersedes an in-range base row and resurrect it."""
        return {
            u: grp
            for u, grp in groups.items()
            if not all(self._value_prunes(f) for f in grp)
        }

    def _plan_files(self):
        """(files to scan, ``{unit: files}`` or None): the shared plan —
        ``merge_kernel.incremental_plan``, or the live set at the version
        grouped by ``unit_of`` when deltas are live — with pushed-filter
        pruning on top: partition pruning of the changed or live files,
        key pruning of single files, and col_stats / secondary-index
        value skipping (file-granular on copy-on-write plans, unit-
        granular on merge-on-read — the same conservatism as
        ``LakeTable.scan_range``)."""
        if self.mode == "incremental":
            files, groups = incremental_plan(
                self.log, self.begin, self.end, self.global_index
            )
            files = [f for f in files if not self._partition_prunes(f)]
            if groups is not None:
                units = {unit_of(f, self.global_index) for f in files}
                return None, self._stats_keep_units(
                    {u: g for u, g in groups.items() if u in units}
                )
            return [
                f
                for f in files
                if not self._key_prunes(f) and not self._value_prunes(f)
            ], None
        files = self.log.live_files(self.version)
        if self.mode == "read_optimized":
            files = [f for f in files if f.kind != "delta"]
        files = [
            f
            for f in files
            if not self._partition_prunes(f) and not self._key_prunes(f)
        ]
        if self.mode == "snapshot" and any(f.kind == "delta" for f in files):
            return None, self._stats_keep_units(
                unit_groups(files, self.global_index)
            )
        return [f for f in files if not self._value_prunes(f)], None

    def _plan_cdc(self):
        """CDC plan: ``merge_kernel.cdc_plan``'s changed units, less the
        units whose changed files all fall to partition pruning (their
        before files follow them). Bounded by the range's touched units,
        never table size."""
        files, units, consumed = cdc_plan(
            self.log, self.begin, self.end, self.global_index
        )
        keep = {
            unit_of(f, self.global_index)
            for f in files
            if not self._partition_prunes(f)
        }
        return [
            _CdcSlice(
                [f.path for f in after],
                [f.path for f in before],
                boot=[
                    f.path for f in after + before if f.kind == "bootstrap"
                ],
                boot_candidates=consumed,
            )
            for u, (after, before) in units.items()
            if u in keep
        ]

    def partitions(self):
        # clear the pushed-filter state once this query's plan is
        # built: the NEXT action on the same loaded DataFrame may carry
        # different (or no) filters, and pushFilters is only invoked
        # when there is something to push — without the clear it would
        # inherit this query's pruning and silently drop files
        try:
            if self.mode == "cdc":
                return self._plan_cdc()
            files, groups = self._plan_files()
            return plan_slices(files, groups, self.begin, self.end)
        finally:
            self._reset_prune_state()

    # -- scan (worker-side) ---------------------------------------------------

    def _read(self, s: _Slice):
        return read_slice(s, self.table_path, self.fields,
                          self.bootstrap_spec)

    def _read_cdc(self, partition: _CdcSlice):
        """Worker-side CDC of one file group: resolve the group's
        end-version image, range-filter, left-join the group's resolved
        begin-version image on ``_key`` (identity within a unit — the
        unit already fixes the partition for non-global tables, the
        bucket holds every copy of its keys for global ones), classify
        i/u/d. Pure pyarrow; rows never touch the driver."""
        import pyarrow as pa
        import pyarrow.compute as pc

        t = self._read(_Slice(partition.after_paths, True, partition.boot,
                              self.begin, self.end))
        payload = [
            name for name, _, _ in self.fields
            if name not in (_DELETED, _COMMIT_VER)
        ]
        before_src = [c for c in payload if c != _KEY]
        boot_hits: list[str] = []
        if partition.boot_candidates and t.num_rows:
            # probe consumed bootstrap files with THIS slice's changed
            # keys: min/max prefilter, then the manifest key Bloom —
            # only hits are read (false positives cost a file read)
            keys = [k for k in t[_KEY].to_pylist() if k is not None]
            lo, hi = (min(keys), max(keys)) if keys else (None, None)
            cands = [
                f
                for f in partition.boot_candidates
                if (f.min_key is None or hi is None or f.min_key <= hi)
                and (f.max_key is None or lo is None or f.max_key >= lo)
            ]
            boot_hits = [f.path for f in bloom_hits(cands, keys)]
        if partition.before_paths or boot_hits:
            b = self._read(_Slice(
                partition.before_paths + boot_hits, True,
                partition.boot | frozenset(boot_hits),
            ))
            if _DELETED in b.column_names:
                b = b.filter(
                    pc.invert(pc.fill_null(b[_DELETED], False))
                )
            bsel = pa.table(
                [b[_KEY], *[b[c] for c in before_src],
                 pa.array([True] * b.num_rows, pa.bool_())],
                names=[_KEY, *[f"_before_{c}" for c in before_src],
                       "__b_present"],
            )
            j = t.join(bsel, keys=[_KEY], join_type="left outer")
            # join scrambles order; only row pairing matters downstream
        else:
            j = t
            for c in before_src:
                j = j.append_column(
                    f"_before_{c}", pa.nulls(t.num_rows, t[c].type)
                )
            j = j.append_column(
                "__b_present", pa.nulls(t.num_rows, pa.bool_())
            )
        present = pc.fill_null(j["__b_present"], False)
        dead = (
            pc.fill_null(j[_DELETED], False)
            if _DELETED in j.column_names
            else pa.array([False] * j.num_rows, pa.bool_())
        )
        # insert-then-delete inside the range is a net no-op
        j = j.filter(pc.invert(pc.and_(dead, pc.invert(present))))
        present = pc.fill_null(j["__b_present"], False)
        dead = (
            pc.fill_null(j[_DELETED], False)
            if _DELETED in j.column_names
            else pa.array([False] * j.num_rows, pa.bool_())
        )
        op = pc.if_else(
            dead,
            pa.scalar("d"),
            pc.if_else(present, pa.scalar("u"), pa.scalar("i")),
        )
        cver = (
            pc.cast(pc.fill_null(j[_COMMIT_VER], 0), pa.int64())
            if _COMMIT_VER in j.column_names
            else pa.nulls(j.num_rows, pa.int64())
        )
        out = pa.table(
            [op, cver, *[j[c] for c in payload],
             *[j[f"_before_{c}"] for c in before_src]],
            names=["_change_op", "_change_ver", *payload,
                   *[f"_before_{c}" for c in before_src]],
        )
        yield from out.to_batches()

    def read(self, partition):
        import pyarrow.compute as pc

        if isinstance(partition, _CdcSlice):
            yield from self._read_cdc(partition)
            return
        t = self._read(partition)
        if not self.include_deleted and _DELETED in t.column_names:
            t = t.filter(
                pc.invert(pc.fill_null(t[_DELETED], False))
            )
        yield from t.to_batches()


class LakeTableDataSource(DataSource):
    """The ``lake-table`` format: batch read (this module's
    ``LakeBatchReader``) + streaming read (streaming/stream_source.py's
    ``LakeStreamReader``); the write side is the foreachBatch sink /
    ``binlog-hudi`` spool (streaming/sink.py, streaming/datasource.py)."""

    @classmethod
    def name(cls):
        return "lake-table"

    def schema(self):
        path = self.options.get(PATH_OPT)
        if not path:
            raise ValueError(
                "lake-table source requires .option('path', <table dir>)"
            )
        from hudi_spark_plus_spark.table.commit_log import CommitLog

        latest = CommitLog(path).latest()
        if latest is None or not latest.schema_json:
            raise ValueError(f"lake table at {path} has no commits")
        if self.options.get(TYPE_OPT) == "cdc":
            return cdc_struct(latest.schema_json)
        return logical_struct(latest.schema_json)

    def reader(self, schema):
        return LakeBatchReader(self.options)

    def writer(self, schema, overwrite):
        from hudi_spark_plus_spark.sources.lake_writer import (
            LakeTableBatchWriter,
        )

        return LakeTableBatchWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite):
        from hudi_spark_plus_spark.sources.lake_writer import (
            LakeTableStreamWriter,
        )

        return LakeTableStreamWriter(self.options, schema, overwrite)

    def streamReader(self, schema):
        from hudi_spark_plus_spark.streaming.stream_source import (
            LakeStreamReader,
        )

        return LakeStreamReader(self.options)


def register(spark) -> None:
    """Make ``format('lake-table')`` resolvable in this session, for
    both ``spark.read`` and ``spark.readStream``, and enable Python
    data source filter pushdown so batch predicates reach
    ``pushFilters`` (off by default in Spark 4.1; runtime-settable)."""
    spark.dataSource.register(LakeTableDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
