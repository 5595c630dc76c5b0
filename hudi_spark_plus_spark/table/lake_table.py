"""Keyed lake table: Parquet + commit log + LWW merge (SURVEY M3).

Reimplements the table-format semantics the reference delegates to Hudi
(SURVEY §2.3 H1-H8) over plain Parquet and the JSON commit log:

* ``merge``   — copy-on-write upsert+delete: each (partition, bucket)
  unit the batch touches is resolved against that unit's live files in
  ONE pass by the per-unit merge kernel (``table/merge_kernel.py``);
  the batch row wins iff its ``_ts`` is not older than the stored one
  (precombine, quirk Q5: an older event never overwrites a newer row;
  ties go to the incoming batch, matching the reference's arrival-order
  last-wins; a null ``_ts`` is older than any other). A winning delete
  is kept as a TOMBSTONE row (``_deleted = true``) rather than dropped,
  so a late-arriving upsert with an older ``_ts`` cannot resurrect a
  deleted key in a later batch (H1/H2; the "late event never
  overwrites" quirk test in SURVEY §5.2.4). ``snapshot()`` filters
  tombstones out. ``merge(mode="mor")`` appends the batch as delta
  files that reads resolve by the same rule.
* ``insert`` / ``bulk_insert`` — plain file append (H3).
* ``snapshot`` — read live files from the latest manifest (H6).
* ``incremental`` — rows of files added in a commit range (H7).

Scale design (100 TB posture): rows are hash-bucketed by record key
(``pmod(xxhash64(_key), buckets)``), so every copy of a record lives in
one unit — its (partition, bucket), or its bucket across partitions on
a global-index table. A merge only reads+rewrites the units that
contain batch keys — cost is O(affected units), not O(table) — and
never shuffles a stored row: the kernel runs on the driver over one
collect of a small batch, or in write tasks over the batch alone,
hash-partitioned on the unit. md5 record keys are uniformly
distributed, so buckets cannot skew. File-level min/max key stats and a
per-file key Bloom filter in the manifest provide file skipping — the
role of the reference's Bloom key index (BloomFilter.java:31-104).

Every data-writing commit ends in ONE write-and-publish tail
(``LakeTable._publish_written``) and writes its files with the one file
emitter (``emit_unit_files``), which writes each (partition, bucket)
unit as a Parquet file with pyarrow and returns the file's manifest
entry — key Bloom from the keys in hand, stats from the file's own
footer. The driver checks the commit's data subdir holds exactly the
reported files and publishes optimistically against the version it was
computed from.
"""

from __future__ import annotations

import glob
import json
import os
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    NumericType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from hudi_spark_plus_spark.localdf import local_frame
from hudi_spark_plus_spark.table.bloom import KeyBloom, hash_key, pairs_array
from hudi_spark_plus_spark.table.bootstrap import (
    BOOTSTRAP_KIND,
    collect_bootstrap_entries,
    key_expr as _boot_key_expr,
    resolve_source_files,
    ts_expr as _boot_ts_expr,
    validate_source_schemas,
)
from hudi_spark_plus_spark.table.commit_log import (
    CommitConflict,
    CommitLog,
    FileEntry,
)
from hudi_spark_plus_spark.table.keygen import (
    BUCKET_COL,
    KEY_COL,
    OP_COL,
    PARTITION_COL,
    TS_COL,
    bucket_expr,
    partition_path_expr,
    partition_source_cols,
    validate_partition_specs,
)
from hudi_spark_plus_spark.table.merge_kernel import (
    COMMIT_VER_COL,
    DELETED_COL,
    INDEX_DIR,
    NON_SECONDARY_KINDS,
    UnitFile,
    active_fields,
    bloom_hits,
    cdc_plan,
    incremental_plan,
    index_dir,
    latest_index_n,
    merge_unit,
    open_latest_manifest,
    project_logical,
    unit_of,
)

DELETE_OP = "delete"
# columns a write derives itself: never payload
_MERGE_META = (OP_COL, BUCKET_COL, PARTITION_COL, DELETED_COL, COMMIT_VER_COL)

# Widening lattices for in-band schema evolution (beyond-additive). Only
# widenings Spark's vectorized parquet reader can apply at READ time are
# allowed, because carried files of untouched buckets keep their old
# physical type: the int chain (INT32/INT64 physical) and float->double.
# int->double, date->timestamp, renames etc. would poison carried files
# and are rejected per table.
_INT_CHAIN = ["tinyint", "smallint", "int", "bigint"]
_FLOAT_CHAIN = ["float", "double"]

_SPARK_TYPE_BY_NAME = {
    "tinyint": ByteType(),
    "smallint": ShortType(),
    "int": IntegerType(),
    "bigint": LongType(),
    "float": FloatType(),
    "double": DoubleType(),
}


def _widened_type(a: str, b: str) -> str | None:
    """Common read-compatible supertype of two Spark dtype strings, or
    None when the change is incompatible."""
    if a == b:
        return a
    if a in _INT_CHAIN and b in _INT_CHAIN:
        return _INT_CHAIN[max(_INT_CHAIN.index(a), _INT_CHAIN.index(b))]
    if a in _FLOAT_CHAIN and b in _FLOAT_CHAIN:
        return "double"
    return None


def _conform(df: DataFrame, fields: list[StructField]) -> DataFrame:
    """Cast ``df``'s columns to ``fields``' types and add the ones it
    lacks as typed nulls (one side of a schema-evolving merge)."""
    have = dict(df.dtypes)
    for f in fields:
        if f.name not in have:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        elif have[f.name] != f.dataType.simpleString():
            df = df.withColumn(f.name, F.col(f.name).cast(f.dataType))
    return df


class IncompatibleSchemaChange(ValueError):
    """Raised (and caught per-table by the CDC sync, Q1 isolation) when
    an in-band schema declares a non-widening type change."""


class WriteCountMismatch(RuntimeError):
    """A commit's data subdir holds different files than its write
    tasks reported — a stray file (e.g. a partial task attempt) or a
    lost one — or a written file's footer disagrees with the rows
    written into it. Nothing was published."""


def _footer_stats(
    f: str,
) -> tuple[int, str | None, str | None, dict, bool, int]:
    """(rows, min_key, max_key, col_stats, has_key, live_rows) from ONE
    parquet file — footer-only in the common case; the write task runs
    it on each file it has just closed.
    ``live_rows`` counts rows with ``_deleted == false`` (exactly the
    rows snapshot() surfaces): boolean row-group statistics decide the
    all-live / all-tombstone cases for free; only a mixed file pays one
    columnar read of the single boolean column."""
    import pyarrow.parquet as _pq

    pf = _pq.ParquetFile(f)
    md = pf.metadata
    min_key = max_key = None
    has_key = False
    names = {md.schema.column(i).name: i for i in range(len(md.schema))}
    ki = names.get(KEY_COL)
    if ki is not None:
        has_key = True
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ki).statistics
            if st is not None and st.has_min_max:
                mins.append(st.min)
                maxs.append(st.max)
        if mins:
            min_key, max_key = min(mins), max(maxs)
    # per-column min/max from the SAME footer (no extra I/O) — the
    # Hudi col_stats analogue, feeding value-range file pruning
    col_stats: dict = {}
    for cname, ci in names.items():
        if cname.startswith("_"):
            continue  # engine meta cols: key stats cover _key
        cmins, cmaxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                cmins = []
                break
            cmins.append(st.min)
            cmaxs.append(st.max)
        if not cmins:
            continue
        lo, hi = min(cmins), max(cmaxs)
        if isinstance(lo, bytes):
            try:
                lo, hi = lo.decode(), hi.decode()
            except UnicodeDecodeError:
                continue
        if isinstance(lo, (int, float, str)):  # JSON-stable only
            col_stats[cname] = [lo, hi]
    live_rows = md.num_rows
    di = names.get(DELETED_COL)
    if di is not None:
        known = 0
        exact_read = False
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            st = rgm.column(di).statistics
            nulls = st.null_count if st is not None and st.has_null_count else None
            if st is not None and st.has_min_max and nulls == 0:
                if not st.min and not st.max:
                    known += rgm.num_rows
                    continue
                if st.min and st.max:
                    continue  # all tombstones: contributes 0 live
            exact_read = True
            break
        if exact_read:
            # mixed / statless file: one columnar read of the boolean
            # column — strict `== false`, matching snapshot()'s filter
            import pyarrow.compute as _pc

            col = pf.read(columns=[DELETED_COL]).column(0)
            known = _pc.sum(
                _pc.equal(col, False).cast("int64"), min_count=0
            ).as_py()
        live_rows = known
    return md.num_rows, min_key, max_key, col_stats, has_key, live_rows


class _UnitFile:
    """One open Parquet file of one (partition, bucket) unit: streams
    the unit's batches in and keeps only its key column for the Bloom.
    Dictionary encoding is on for the columns whose distinct count in
    the first batch is at most half its rows — parquet-mr's fallback
    when a dictionary does not pay, which keeps files as small as the
    Spark writer's."""

    def __init__(self, table_path: str, subdir_rel: str, part, bucket, batch):
        import pyarrow as pa
        import pyarrow.compute as pc
        from urllib.parse import quote

        d = os.path.join(table_path, subdir_rel)
        if part is not None:
            d = os.path.join(d, f"_part={quote(part, safe='')}")
        d = os.path.join(d, f"_bucket={bucket}")
        os.makedirs(d, exist_ok=True)
        self.path = os.path.join(d, f"part-{uuid.uuid4().hex}.parquet")
        self.table_path, self.part, self.bucket = table_path, part, bucket
        self.schema = batch.schema
        dict_cols = [
            f.name
            for f, col in zip(batch.schema, batch.columns)
            if not pa.types.is_nested(f.type)
            and 2 * pc.count_distinct(col).as_py() <= batch.num_rows
        ]
        self.writer = pq.ParquetWriter(
            self.path, batch.schema, use_dictionary=dict_cols,
            store_schema=False,
        )
        self.rows = 0
        self.keys = []

    def add(self, batch) -> None:
        self.writer.write(batch)
        self.rows += batch.num_rows
        if KEY_COL in batch.schema.names:
            self.keys.append(batch.column(KEY_COL))

    def close(self) -> dict:
        """Close the file; return its manifest-entry fields (all but
        ``kind``), stats read back from its own footer."""
        self.writer.close()
        rows, min_key, max_key, col_stats, has_key, live_rows = (
            _footer_stats(self.path)
        )
        if rows != self.rows:
            raise WriteCountMismatch(
                f"{self.path}: {self.rows} rows written, footer holds {rows}"
            )
        bloom = None
        if has_key:
            bf = KeyBloom.sized(rows)
            bf.bulk_add([k for c in self.keys for k in c.to_pylist()])
            bloom = bf.to_b64()
        return dict(
            path=os.path.relpath(self.path, self.table_path),
            bucket=self.bucket, rows=rows, min_key=min_key,
            max_key=max_key, bloom=bloom, col_stats=col_stats or None,
            partition=self.part, live_rows=live_rows,
            bytes=os.path.getsize(self.path),
        )


def emit_unit_files(pieces, table_path: str, subdir_rel: str):
    """The one file emitter of every engine write: Hudi's write handle,
    which builds a file's key Bloom and write stats while it writes the
    file. ``pieces`` is an iterable of ``(partition, bucket, data)``
    with ``data`` an Arrow record batch or table; consecutive pieces of
    one unit with one schema stream into one Parquet file under
    ``subdir_rel`` (``[_part=<quoted value>/]_bucket=<b>/``), so memory
    holds one batch and one open writer. Yields each file's
    manifest-entry fields as it closes. A failed attempt removes the
    files it wrote."""
    cur: _UnitFile | None = None
    written: list[str] = []
    try:
        for part, bucket, batch in pieces:
            if cur is not None and (
                (cur.part, cur.bucket) != (part, bucket)
                or cur.schema != batch.schema
            ):
                yield cur.close()
                cur = None
            if cur is None:
                cur = _UnitFile(table_path, subdir_rel, part, bucket, batch)
                written.append(cur.path)
            cur.add(batch)
        if cur is not None:
            yield cur.close()
    except BaseException:
        for f in written:
            try:
                os.unlink(f)
            except FileNotFoundError:
                pass
        raise


_ENTRY_COLS = (
    ("path", "string"), ("bucket", "int"), ("rows", "bigint"),
    ("min_key", "string"), ("max_key", "string"), ("bloom", "string"),
    ("col_stats", "string"), ("partition", "string"),
    ("live_rows", "bigint"), ("bytes", "bigint"),
)


def _entry_schema(extra=()):
    import pyarrow as pa

    types = {"string": pa.string(), "int": pa.int32(), "bigint": pa.int64(),
             "boolean": pa.bool_()}
    return pa.schema([(n, types[t]) for n, t in (*_ENTRY_COLS, *extra)])


def _entry_row(e: dict) -> dict:
    return {**e, "col_stats": e["col_stats"] and json.dumps(e["col_stats"])}


def _row_entries(rows, kind: str) -> list[FileEntry]:
    """Manifest entries from the entry rows a write job collected."""
    out = []
    for r in rows:
        e = {n: r[n] for n, _ in _ENTRY_COLS}
        e["col_stats"] = e["col_stats"] and json.loads(e["col_stats"])
        out.append(FileEntry(kind=kind, **e))
    return out


def _unit_runs(batch, cols: list[str]):
    """``(key, rows)`` for each run of equal ``cols`` values in an Arrow
    batch or table sorted by them; ``key`` is the tuple of the run's
    values as Python scalars."""
    import numpy as np

    n = batch.num_rows
    if not n:
        return
    keys = [batch.column(c).to_numpy(zero_copy_only=False) for c in cols]
    cut = np.zeros(n - 1, dtype=bool)
    for k in keys:
        cut |= k[1:] != k[:-1]
    bounds = [0, *(np.flatnonzero(cut) + 1).tolist(), n]
    for lo, hi in zip(bounds, bounds[1:]):
        key = tuple(
            k[lo].item() if isinstance(k[lo], np.generic) else k[lo]
            for k in keys
        )
        yield key, batch.slice(lo, hi - lo)


def _write_task(table_path: str, subdir_rel: str, layout: list[str]):
    """The ``mapInArrow`` body of z-order clustering's write
    (``LakeTable._write_commit``): cut the
    task's layout-sorted batches into unit runs (layout columns
    dropped, as a partitioned write stores them in the path) and emit
    one file per run, returning the entries as rows."""

    def run(batches):
        import pyarrow as pa

        out = _entry_schema()

        def pieces():
            for batch in batches:
                for key, rows in _unit_runs(batch, layout):
                    part = key[0] if len(layout) > 1 else None
                    yield part, key[-1], rows.drop_columns(layout)

        for e in emit_unit_files(pieces(), table_path, subdir_rel):
            yield pa.RecordBatch.from_pylist([_entry_row(e)], schema=out)

    return run


def _merge_pieces(runs, table_path, files_by_unit, fields, next_ver, mode,
                  global_index, consumed: list):
    """Run the merge kernel (``merge_unit`` in ``mode``) over ``runs`` —
    ``(unit, routed rows)`` pairs with ``unit[-1]`` the bucket; a
    compaction marks each of its units with a row holding the unit
    columns alone — and yield its output as emitter pieces under
    physical column names, one per (partition, bucket) in partition
    order. ``fields``: the commit's ``[(logical, physical, DataType)]``.
    The paths each unit consumed are appended to ``consumed``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    logical = [(n, n, t) for n, _, t in fields]
    physical = [p for _, p, _ in fields]
    for unit, rows in runs:
        batch = None
        if KEY_COL in rows.column_names and mode == "compact":
            rows = rows.filter(pc.is_valid(rows[KEY_COL]))  # the marker
        if KEY_COL in rows.column_names and rows.num_rows:
            batch = project_logical(rows, logical)
            if PARTITION_COL in rows.column_names:
                batch = batch.append_column(
                    PARTITION_COL, rows[PARTITION_COL].cast(pa.string())
                )
        out, used = merge_unit(
            table_path, files_by_unit.get(unit, ()), batch, fields,
            next_ver, mode, global_index,
        )
        consumed += used
        if PARTITION_COL not in out.column_names:
            yield None, unit[-1], out.rename_columns(physical)
            continue
        for (part,), piece in _unit_runs(out.sort_by(PARTITION_COL),
                                         [PARTITION_COL]):
            piece = piece.drop_columns([PARTITION_COL])
            yield part, unit[-1], piece.rename_columns(physical)


def _merge_task(table_path, subdir_rel, unit_cols, files_by_unit, fields,
                next_ver, mode, global_index):
    """The ``mapInArrow`` body of a unit rewrite's task placement: gather
    each unit's batch rows across the task's unit-sorted Arrow batches,
    run the kernel per unit, emit its files, and return their entries
    plus one ``consumed`` row per stored file the kernel replaced."""

    def run(batches):
        import pyarrow as pa

        out = _entry_schema((("consumed", "boolean"),))
        consumed: list = []

        def runs():
            key, buf = None, []
            for batch in batches:
                for k, rows in _unit_runs(batch, unit_cols):
                    if buf and k != key:
                        yield key, pa.Table.from_batches(buf)
                        buf = []
                    key = k
                    buf.append(rows)
            if buf:
                yield key, pa.Table.from_batches(buf)

        pieces = _merge_pieces(runs(), table_path, files_by_unit, fields,
                               next_ver, mode, global_index, consumed)
        for e in emit_unit_files(pieces, table_path, subdir_rel):
            yield pa.RecordBatch.from_pylist(
                [{**_entry_row(e), "consumed": False}], schema=out
            )
        if consumed:
            yield pa.RecordBatch.from_pylist(
                [{"path": p, "consumed": True} for p in consumed], schema=out
            )

    return run


def _check_written(
    table_path: str, subdir_rel: str, entries: list[FileEntry], operation: str
) -> None:
    """Reconcile a commit's data subdir with the files its write tasks
    reported: anything else there (a stray part-file, a partial task
    attempt) or anything missing raises ``WriteCountMismatch``."""
    found = {
        os.path.relpath(f, table_path)
        for f in glob.glob(
            os.path.join(table_path, subdir_rel, "**", "*.parquet"),
            recursive=True,
        )
    }
    reported = {e.path for e in entries}
    if found != reported:
        raise WriteCountMismatch(
            f"{operation} on table at {table_path}: the write reported "
            f"{len(reported)} files but {subdir_rel} holds {len(found)} "
            f"({len(found - reported)} unreported, "
            f"{len(reported - found)} missing); not published"
        )


DEFAULT_BUCKETS = 16


class LakeTable:
    """One keyed lake table (TableMetaInfo equivalent, SURVEY §1.1.3)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        buckets: int | None = None,
        partition_fields: list[str] | None = None,
        finalizer=None,
        global_index: bool | None = None,
    ):
        self.spark = spark
        self.path = path
        # ``finalizer``: atomic-publish strategy for the commit log —
        # default POSIX hard-link; pass a ConditionalPutFinalizer
        # binding on S3-style stores (commit_log.CommitFinalizer).
        self.log = CommitLog(path, finalizer=finalizer)
        # The bucket count is TABLE state, not caller state: a mismatched
        # modulus would assign new bucket ids on rewrite and break
        # affected-bucket pruning (stale duplicates would survive merges).
        # Persisted value wins; an explicitly conflicting caller errors.
        latest = self.log.latest()
        persisted = latest.buckets if latest else None
        if persisted is not None:
            if buckets is not None and buckets != persisted:
                raise ValueError(
                    f"table at {path} was created with buckets={persisted}; "
                    f"caller requested buckets={buckets}"
                )
            self.buckets = persisted
        elif latest is not None and buckets is None:
            # A table with commits but no persisted count predates the
            # bucket-metadata field; silently assuming DEFAULT_BUCKETS
            # would re-introduce the modulus-mismatch duplication the
            # persistence exists to prevent. The caller must say what the
            # table was created with (persisted on the next commit).
            raise ValueError(
                f"table at {path} has no persisted bucket count (created "
                "before bucket metadata); pass buckets= explicitly"
            )
        else:
            self.buckets = buckets if buckets is not None else DEFAULT_BUCKETS
        # Partition-path fields (H4, the half of Hudi's Simple/Complex
        # key generators the record key doesn't cover): table state like
        # buckets — the persisted list wins, a conflicting caller errors,
        # and an existing unpartitioned table cannot be retrofitted
        # without a rewrite (files carry no partition dirs to prune on).
        persisted_pf = latest.partition_fields if latest else None
        if persisted_pf:
            if partition_fields is not None and list(partition_fields) != persisted_pf:
                raise ValueError(
                    f"table at {path} is partitioned by {persisted_pf}; "
                    f"caller requested {list(partition_fields)}"
                )
            self.partition_fields: list[str] = persisted_pf
        elif latest is not None and partition_fields:
            raise ValueError(
                f"table at {path} was created unpartitioned; partitioning "
                "an existing table requires a full rewrite"
            )
        else:
            self.partition_fields = list(partition_fields or [])
        validate_partition_specs(self.partition_fields)
        # Global-index mode (Hudi GLOBAL_BLOOM/GLOBAL_SIMPLE semantics):
        # record identity is _key ALONE on a partitioned table, so an
        # upsert with a changed partition value RELOCATES the record
        # (old partition's copy is dropped/tombstoned). Table state like
        # buckets: persisted value wins, a conflicting caller errors —
        # mixing identities across writers would corrupt resolution.
        persisted_gi = latest.global_index if latest else None
        if persisted_gi is not None:
            if global_index is not None and bool(global_index) != persisted_gi:
                raise ValueError(
                    f"table at {path} was created with "
                    f"global_index={persisted_gi}; caller requested "
                    f"{bool(global_index)}"
                )
            self.global_index = persisted_gi
        elif latest is not None and global_index:
            raise ValueError(
                f"table at {path} was created without a global index; "
                "switching identity on an existing table requires a "
                "full rewrite"
            )
        else:
            self.global_index = bool(global_index)

    # -- partition-path layout ----------------------------------------------

    def _partition_expr(self):
        return partition_path_expr(self.partition_fields)

    def _with_part(self, df: DataFrame) -> DataFrame:
        """Attach the rendered partition-path column (derived from the
        payload partition fields — never stored in data files)."""
        if not self.partition_fields:
            return df
        missing = [
            c
            for c in partition_source_cols(self.partition_fields)
            if c not in df.columns
        ]
        if missing:
            raise ValueError(
                f"table at {self.path} is partitioned by "
                f"{self.partition_fields}; batch is missing partition "
                f"column(s) {missing}"
            )
        return df.withColumn(PARTITION_COL, self._partition_expr())

    def _laid_out(self, df: DataFrame) -> DataFrame:
        """Attach the layout columns a write partitions its files by."""
        return self._with_part(
            df.withColumn(BUCKET_COL, bucket_expr(F.col(KEY_COL), self.buckets))
        )

    def _layout_cols(self) -> list[str]:
        """Directory layout under each commit's data subdir:
        ``_part=<value>/_bucket=<b>/`` for partitioned tables,
        ``_bucket=<b>/`` otherwise."""
        return ([PARTITION_COL] if self.partition_fields else []) + [BUCKET_COL]

    def _prune_partitions(self, files, partitions=None, partition_range=None):
        """Structural partition elimination over manifest entries — no
        stats needed: each file's single partition value is exact.
        ``partitions``: iterable of partition-path values to keep;
        ``partition_range``: (lo, hi) inclusive string range (partition
        values are rendered strings — ISO dates and strings compare
        correctly; pick such types for range-pruned partitions).

        A table with no partition metadata REJECTS both arguments
        (silently returning everything — or nothing — would turn a
        mis-targeted prune into a wrong answer); files with no recorded
        partition value on a partitioned table are kept conservatively
        by BOTH filters (symmetric: an unprunable file is never
        silently dropped)."""
        if partitions is None and partition_range is None:
            return files
        if not self.partition_fields:
            raise ValueError(
                f"table at {self.path} is not partitioned; partitions=/"
                "partition_range= cannot prune it"
            )
        if partitions is not None:
            keep = {str(p) for p in partitions}
            files = [
                f for f in files if f.partition is None or f.partition in keep
            ]
        if partition_range is not None:
            lo, hi = partition_range
            files = [
                f
                for f in files
                if f.partition is None
                or ((lo is None or f.partition >= str(lo))
                    and (hi is None or f.partition <= str(hi)))
            ]
        return files

    def partition_values(self, version: int | None = None) -> list[str]:
        """Distinct live partition-path values — manifest metadata only
        (the SHOW PARTITIONS analogue)."""
        return sorted(
            {
                f.partition
                for f in self.log.live_files(version)
                if f.partition is not None
            }
        )

    def partition_stats(self, version: int | None = None) -> DataFrame:
        """Per-partition file/row accounting from manifest metadata
        alone (no data I/O): the SHOW PARTITIONS + stats surface a
        maintenance scheduler reads to find skewed or delta-heavy
        partitions. Row counts include tombstones (they occupy storage
        until vacuumed — that is what a maintenance view must see)."""
        agg: dict[str | None, list[int]] = {}
        for f in self.log.live_files(version):
            a = agg.setdefault(f.partition, [0, 0, 0, 0])
            a[0] += 1
            a[1] += f.rows
            if f.kind == "delta":
                a[2] += 1
            a[3] += f.bytes or 0
        rows = [
            (p, n[0], n[1], n[2], n[3]) for p, n in sorted(
                agg.items(), key=lambda kv: (kv[0] is None, kv[0])
            )
        ]
        return local_frame(
            self.spark,
            rows,
            "partition string, n_files long, n_rows long, "
            "n_delta_files long, n_bytes long",
        )

    def _meta_agg_split(self, files: list) -> tuple[list, list]:
        """Split a live set into (meta, scan): files whose manifest
        stats are EXACT with respect to snapshot() semantics vs files
        that must be read. The rule mirrors snapshot()'s own resolution
        behavior: with no deltas live, snapshot() never window-resolves,
        so per-file counts compose exactly. With deltas live, a bucket
        touched by any delta needs resolution (base files there can
        hold superseded versions — ``_pruned``'s MOR rule, at
        bucket-number granularity, which covers every ``unit_of``), and live bootstrap files
        force a full scan (their rows' buckets are unknown until
        conversion, so a clean/dirty split cannot be proven)."""
        if not any(f.kind == "delta" for f in files):
            meta = [f for f in files if f.live_rows is not None]
            return meta, [f for f in files if f.live_rows is None]
        if any(f.kind == BOOTSTRAP_KIND for f in files):
            return [], list(files)
        dirty = {f.bucket for f in files if f.kind == "delta"}
        meta, scan = [], []
        for f in files:
            if (
                f.kind != "delta"
                and f.bucket not in dirty
                and f.live_rows is not None
            ):
                meta.append(f)
            else:
                scan.append(f)
        return meta, scan

    def _read_resolved(
        self,
        files: list,
        version: int | None = None,
        include_deleted: bool = False,
    ) -> DataFrame:
        """snapshot() semantics over an explicit subset of the live set
        at ``version`` — the one resolved read behind every snapshot-
        shaped path: read under the version's schema, MOR-resolve iff
        deltas are in the subset, hide tombstones unless
        ``include_deleted``. A pruned subset must hold every file its
        rows resolve against (``_pruned`` guarantees that)."""
        df = self._read_files(files, schema=self._schema_at(version))
        if any(f.kind == "delta" for f in files):
            df = self._resolve_latest(df)
        if not include_deleted and DELETED_COL in df.columns:
            df = df.where(~F.col(DELETED_COL))
        return df

    def _field_at(
        self, col: str, version: int | None = None
    ) -> StructField | None:
        """The LOGICAL field ``col`` in the schema of ``version`` (None
        = latest), or None. Manifest col_stats are recorded under the
        field's physical name, fixed at column birth."""
        sch = self._schema_at(version)
        if sch is None:
            return None
        return next((f for f in sch.fields if f.name == col), None)

    def stats_count(
        self,
        version: int | None = None,
        partitions=None,
        partition_range=None,
    ) -> dict:
        """Exact ``snapshot().count()`` answered from manifest metadata
        wherever the manifest is provably exact (the Hudi metadata-table
        / Delta stats-based COUNT(*) fast path): a COW table's count is
        pure driver arithmetic over per-file ``live_rows`` — zero data
        I/O, no Spark job — and a MOR table pays a scan ONLY for the
        buckets delta files touch. At 100 TB that is the difference
        between a sub-second metadata answer and a full-table scan.
        Returns ``{"count", "files_metadata", "files_scanned"}`` so
        callers (and tests) can assert how much I/O the answer cost."""
        files = self._prune_partitions(
            self.log.live_files(version), partitions, partition_range
        )
        meta, scan = self._meta_agg_split(files)
        n = sum(f.live_rows for f in meta)
        if scan:
            n += self._read_resolved(scan, version).count()
        return {
            "count": n,
            "files_metadata": len(meta),
            "files_scanned": len(scan),
        }

    def stats_minmax(
        self,
        col: str,
        version: int | None = None,
        partitions=None,
        partition_range=None,
    ) -> dict:
        """Exact ``snapshot().agg(min(col), max(col))`` from manifest
        col_stats wherever provably exact. On top of the
        ``_meta_agg_split`` rule, a file's recorded [min, max] is only
        trusted when (a) the column is numeric — engines truncate long
        string statistics, so string extrema fall back to a scan —
        (b) the file carries stats for it, and (c) the file holds no
        tombstones (``live_rows == rows``): a deleted row may be the
        recorded extremum, and min/max must range over live rows only.
        Parquet stats exclude nulls, matching SQL MIN/MAX. Float/double
        columns are NOT trusted either (ADVICE r10 #2): whether a writer
        records min/max for a NaN-containing float column is
        writer-version dependent, and Spark's MAX treats NaN as greater
        than every value — a footer that silently dropped NaN would
        diverge from ``snapshot().agg(max())``. Integral/decimal types
        have no NaN, so the fast path stays exact there. Everything
        untrusted is scanned; the two halves combine exactly."""
        field = self._field_at(col, version)
        if field is None:
            raise KeyError(f"no such column: {col}")
        phys = self._physical_of(field)
        numeric = isinstance(field.dataType, NumericType) and not isinstance(
            field.dataType, (FloatType, DoubleType)
        )
        files = self._prune_partitions(
            self.log.live_files(version), partitions, partition_range
        )
        meta, scan = self._meta_agg_split(files)
        lo = hi = None
        scan = list(scan)
        n_meta = 0
        for f in meta:
            st = (f.col_stats or {}).get(phys)
            if (
                not numeric
                or st is None
                or f.live_rows != f.rows
                or f.live_rows == 0
            ):
                if f.live_rows != 0:  # all-tombstone files hold no live rows
                    scan.append(f)
                continue
            n_meta += 1
            lo = st[0] if lo is None else min(lo, st[0])
            hi = st[1] if hi is None else max(hi, st[1])
        if scan:
            row = self._read_resolved(scan, version).agg(
                F.min(col).alias("lo"), F.max(col).alias("hi")
            ).first()
            if row["lo"] is not None:
                lo = row["lo"] if lo is None else min(lo, row["lo"])
                hi = row["hi"] if hi is None else max(hi, row["hi"])
        return {
            "min": lo,
            "max": hi,
            "files_metadata": n_meta,
            "files_scanned": len(scan),
        }

    # -- reads -------------------------------------------------------------

    def exists(self) -> bool:
        return self.log.latest() is not None

    def _stored_schema(self) -> StructType | None:
        """Full committed schema, INCLUDING tombstoned (dropped) fields —
        they keep claiming their physical column name so a re-added
        column of the same logical name can never resurrect old bytes."""
        c = self.log.latest()
        if c is None or not c.schema_json:
            return None
        import json

        return StructType.fromJson(json.loads(c.schema_json))

    def schema(self) -> StructType | None:
        """ACTIVE logical schema — what readers and writers see. Column
        mapping (rename/drop without rewriting data, H-extension beyond
        the reference's Hudi-delegated additive evolution): each field
        may carry ``metadata = {"physical": <name in parquet>}``; data
        files always store PHYSICAL names fixed at column birth, so a
        rename is a metadata-only commit and a drop merely stops
        projecting the column (pruned scans never read its bytes)."""
        full = self._stored_schema()
        if full is None:
            return None
        return StructType(
            [f for f in full.fields if not (f.metadata or {}).get("dropped")]
        )

    @staticmethod
    def _physical_of(f: StructField) -> str:
        return (f.metadata or {}).get("physical", f.name)

    def _resolve_latest(self, df: DataFrame) -> DataFrame:
        """Merge-on-read resolution: latest row per record identity by
        (_ts, commit version) — identical to the COW merge's precombine
        rule (batch wins iff ``_ts >=`` stored; equal ``_ts`` goes to the
        later commit). One window shuffle: the read-time cost MOR trades
        for its O(batch) writes. On partitioned tables record identity is
        (partition, key) — Hudi's non-global-index semantics — with the
        partition value derived from the payload fields (never stored);
        a ``global_index`` table resolves by key ALONE (Hudi GLOBAL_*),
        so a relocated record's old-partition copies lose to the new
        one. Tertiary tie-break: at identical (_ts, commit version) a
        live row beats a tombstone — the only way that tie arises is a
        relocation tombstone written in the same commit as the row's new
        copy, and the record must survive its own move."""
        from pyspark.sql.window import Window

        ident = (
            [self._partition_expr()]
            if self.partition_fields and not self.global_index
            else []
        ) + [F.col(KEY_COL)]
        order = [
            F.col(TS_COL).desc(),
            F.coalesce(F.col(COMMIT_VER_COL), F.lit(0)).desc(),
        ]
        if DELETED_COL in df.columns:
            order.append(
                F.coalesce(F.col(DELETED_COL), F.lit(False)).asc()
            )
        w = Window.partitionBy(*ident).orderBy(*order)
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    def snapshot(
        self,
        version: int | None = None,
        include_deleted: bool = False,
        read_optimized: bool = False,
        partitions=None,
        partition_range=None,
    ) -> DataFrame:
        """Current (or time-travel) table state as a DataFrame (H6).
        Tombstone rows are hidden unless ``include_deleted``. When the
        live set contains merge-on-read delta files, the latest row per
        key is resolved at read time.

        ``read_optimized=True`` is Hudi's ``_ro`` view: read the BASE
        files only — zero merge cost, no window shuffle — at the price
        of staleness (delta-only updates/deletes are invisible until
        compaction folds them in). The default is the real-time ``_rt``
        view. After ``compact()`` the two views converge (asserted by
        q-lake-mor-ro).

        ``partitions`` / ``partition_range`` prune the read STRUCTURALLY
        to the matching partitions' files (the at-scale point of a
        partitioned layout: a "last 7 days" query on a time-partitioned
        table never plans a scan over the other days). Safe under MOR —
        a delta file lives inside its partition dir, so the pruned slice
        still carries every row needed to resolve its own partitions."""
        files = self.log.live_files(version)
        if read_optimized:
            files = [f for f in files if f.kind != "delta"]
        return self._read_resolved(
            self._prune_partitions(files, partitions, partition_range),
            version,
            include_deleted,
        )

    def history(self) -> DataFrame:
        """Timeline metadata table (the Hudi commits-metadata / Delta
        DESCRIBE HISTORY analogue): one row per commit with version,
        operation, batch id, publish time, and file/row counts. Commit
        metadata only — version rows resolve their segment manifests,
        not data files."""
        rows = []
        for v in self.log.versions():
            c = self.log.read(v)
            rows.append(
                (
                    c.version,
                    c.operation,
                    c.batch_id,
                    c.ts_millis,
                    len(c.files),
                    sum(f.rows for f in c.files),
                )
            )
        return local_frame(
            self.spark,
            rows,
            "version long, operation string, batch_id string, "
            "ts_millis long, n_files long, n_rows long",
        )

    def files_df(self, version: int | None = None) -> DataFrame:
        """Live-files metadata table at a version (default latest):
        path, bucket, kind (base/delta), row count, and key-range stats
        — the file-level inspection surface maintenance tooling reads."""
        rows = [
            (f.path, f.partition, f.bucket, f.kind, f.rows, f.live_rows,
             f.bytes, f.min_key, f.max_key)
            for f in self.log.live_files(version)
        ]
        return local_frame(
            self.spark,
            rows,
            "path string, partition string, bucket int, kind string, "
            "rows long, live_rows long, bytes long, min_key string, "
            "max_key string",
        )

    def snapshot_as_of(
        self,
        ts_millis: int,
        include_deleted: bool = False,
        partitions=None,
        partition_range=None,
    ) -> DataFrame:
        """Point-in-time read: the newest commit published at or before
        the wall-clock instant (Hudi's ``as.of.instant`` analogue of the
        version-based time travel). Commit metadata only — no file
        resolution until the chosen version is read. Partition pruning
        composes with it like on ``snapshot``."""
        best = None
        for v in self.log.versions():
            if self.log._read_meta(v).ts_millis <= ts_millis:
                best = v
        if best is None:
            raise ValueError(
                f"table at {self.path} has no commit at or before "
                f"ts_millis={ts_millis}"
            )
        return self.snapshot(
            version=best,
            include_deleted=include_deleted,
            partitions=partitions,
            partition_range=partition_range,
        )

    def rollback(self, version: int) -> None:
        """Restore the table to an earlier version's state by publishing
        a NEW commit that references that version's files — no data
        rewrite (the Hudi savepoint/restore analogue). History stays
        intact: time travel to the rolled-over versions keeps working
        until vacuumed. Record-level ``incremental`` reflects original
        commit versions, so restored rows do NOT reappear as changes —
        a restore rewinds state, it does not re-author history."""

        def attempt() -> None:
            prev = self.log.latest()
            if prev is None:
                raise ValueError(f"lake table at {self.path} has no commits")
            if version not in self.log.versions():
                raise ValueError(
                    f"version {version} not in timeline (vacuumed?)"
                )
            old = self.log.read(version)
            self._publish("rollback", old.files, prev, old.schema_json)

        self._with_commit_retries(attempt)

    # -- savepoints ---------------------------------------------------------

    SAVEPOINTS_DIR = "_savepoints"

    def _savepoint_file(self, name: str) -> str:
        if not name or not all(
            c.isalnum() or c in "._-" for c in name
        ):
            raise ValueError(
                f"savepoint name {name!r} must be non-empty and use only "
                "letters, digits, '.', '_', '-'"
            )
        return os.path.join(self.path, self.SAVEPOINTS_DIR, f"{name}.json")

    def savepoint(self, name: str, version: int | None = None) -> int:
        """Hudi savepoint: pin a committed version under a name so
        ``vacuum`` retains it — commit metadata, segment manifests, and
        every data file it references — regardless of ``keep_last``,
        until the savepoint is deleted. Metadata-only (one small JSON).
        Published through the table's commit finalizer, so creation is
        atomic on any store the commit log itself supports; a duplicate
        name errors rather than silently repointing (repointing a name
        another consumer relies on would yank their pinned state).
        Returns the pinned version (default: latest)."""
        import json as _json
        import time as _time

        latest = self.log.latest()
        if latest is None:
            raise ValueError(f"lake table at {self.path} has no commits")
        v = latest.version if version is None else version
        if v not in self.log.versions():
            raise ValueError(f"version {v} not in timeline (vacuumed?)")
        target = self._savepoint_file(name)
        os.makedirs(os.path.dirname(target), exist_ok=True)
        content = _json.dumps(
            {
                "name": name,
                "version": v,
                "ts_millis": int(_time.time() * 1000),
            }
        )
        try:
            self.log.finalizer.publish(content, target)
        except CommitConflict:
            raise ValueError(
                f"savepoint {name!r} already exists on table at "
                f"{self.path}; delete it first to repoint"
            ) from None
        # close the check-then-publish window: a vacuum running between
        # the timeline check above and the pin landing can reclaim the
        # version, leaving a pin on deleted data. Vacuum reads pins
        # before deleting, so after the pin is VISIBLE one re-check
        # decides it: still on the timeline -> the pin now protects it;
        # gone -> undo the pin and fail loudly.
        self.log.invalidate()
        if v not in self.log.versions():
            self.delete_savepoint(name)
            raise ValueError(
                f"version {v} was vacuumed while savepoint {name!r} was "
                "being created; re-create from a live version"
            )
        return v

    def savepoints(self) -> dict[str, int]:
        """{name: pinned version} for every live savepoint."""
        import json as _json

        d = os.path.join(self.path, self.SAVEPOINTS_DIR)
        out: dict[str, int] = {}
        if not os.path.isdir(d):
            return out
        for fn in sorted(os.listdir(d)):
            if not fn.endswith(".json"):
                continue
            try:
                with open(os.path.join(d, fn)) as fh:
                    m = _json.load(fh)
                out[m["name"]] = int(m["version"])
            except (OSError, ValueError, KeyError):
                continue  # half-written concurrent create: skip
        return out

    def delete_savepoint(self, name: str) -> bool:
        """Unpin; the version becomes vacuumable again. Returns whether
        the savepoint existed."""
        try:
            os.unlink(self._savepoint_file(name))
            return True
        except FileNotFoundError:
            return False

    def restore(self, name: str) -> None:
        """Hudi restore: roll the table state back to the named
        savepoint (a new rollback commit — history stays readable until
        vacuumed; see ``rollback``)."""
        sp = self.savepoints()
        if name not in sp:
            raise ValueError(
                f"no savepoint {name!r} on table at {self.path}; "
                f"have {sorted(sp)}"
            )
        self.rollback(sp[name])

    def incremental(
        self,
        begin: int,
        end: int | None = None,
        partitions=None,
        partition_range=None,
    ) -> DataFrame:
        """Records CHANGED in versions (begin, end] (H7) — record-level,
        like Hudi's commit-time incremental query. Deletes surface as
        tombstone records (``_deleted = true``) for downstream CDC.

        Each in-range record is returned exactly once, at its FINAL state
        within the range: the file plan is ``merge_kernel.
        incremental_plan``'s, shared with the ``lake-table`` readers
        (changed files still live at ``end``; on MOR every live file of
        their units, resolved), then rows are filtered to
        ``_commit_ver`` in range. Null
        ``_commit_ver`` (files written before record versioning) counts
        as version 0. ``partitions``/``partition_range`` prune the
        changed-file set structurally — record identity is scoped to its
        partition, so pruning cannot change resolution outcomes."""
        files, groups = incremental_plan(
            self.log, begin, end, self.global_index
        )
        files = self._prune_partitions(files, partitions, partition_range)
        if groups is not None:
            # MOR: winners are decided over every live row of the units
            # the kept changed files are in, then filtered to the range
            units = {unit_of(f, self.global_index) for f in files}
            df = self._resolve_latest(
                self._read_files(
                    [f for u, g in groups.items() if u in units for f in g],
                    schema=self._schema_at(end),
                )
            )
        else:
            df = self._read_files(files, schema=self._schema_at(end))
        if COMMIT_VER_COL in df.columns:
            ver = F.coalesce(F.col(COMMIT_VER_COL), F.lit(0))
            cond = ver > begin
            if end is not None:
                cond = cond & (ver <= end)
            df = df.where(cond)
        return df

    def incremental_cdc(
        self,
        begin: int,
        end: int | None = None,
        partitions=None,
        partition_range=None,
    ) -> DataFrame:
        """CDC-format incremental read (the Hudi 0.13
        ``hoodie.datasource.query.incremental.format=cdc`` analogue,
        layered on H7): each record changed in versions (begin, end]
        yields ONE row at its final in-range state, with

        * ``_change_op`` — ``'i'`` (no live copy at ``begin``), ``'u'``,
          or ``'d'`` (final state is a tombstone; its payload is the
          deleting batch's row);
        * the after-image payload columns;
        * ``_before_<col>`` before-image columns (NULL for ``'i'``);
        * ``_change_ver`` — the commit version that produced the state.

        A record inserted AND deleted inside the range is a net no-op
        and emits nothing (final-state semantics, same as
        ``incremental``). The before-image lookup reads the BEGIN
        version pruned structurally to the changed records'
        (partition, bucket) units — bounded by the range's touched
        units, never table size — and joins on the table's record
        identity (key-only on global-index tables). ``begin`` must
        still be on the timeline (savepoint it to guarantee that);
        ``begin=0`` classifies everything as inserts."""
        after = self.incremental(begin, end, partitions, partition_range)
        payload = [
            c for c in after.columns
            if c not in (DELETED_COL, COMMIT_VER_COL)
        ]
        before_src = [c for c in payload if c != KEY_COL]
        non_global_part = bool(self.partition_fields) and not self.global_index
        if begin <= 0:
            a_types = dict(after.dtypes)
            j = after.withColumn("_b_key", F.lit(None).cast("string"))
            for c in before_src:
                j = j.withColumn(
                    f"_before_{c}", F.lit(None).cast(a_types[c])
                )
        else:
            # the begin-version files of the kept changed units, plus
            # the bootstrap files the range consumed (their rows are not
            # bucket-routed): bounded by the range's own work
            files, units, consumed = cdc_plan(
                self.log, begin, end, self.global_index
            )
            keep = {
                unit_of(f, self.global_index)
                for f in self._prune_partitions(
                    files, partitions, partition_range
                )
            }
            bfiles = [
                f for u, (_, b) in units.items() if u in keep for f in b
            ] + consumed
            # the before image under the end version's names and types:
            # a column renamed or retyped in the range keeps its
            # physical name
            at_begin = {
                self._physical_of(f): f.name
                for f in self._schema_at(begin).fields
            }
            phys_at_end = {
                f.name: self._physical_of(f)
                for f in self._schema_at(end).fields
            }
            a_types = {f.name: f.dataType for f in after.schema.fields}

            def before(c):
                src = at_begin.get(phys_at_end[c])
                col = F.col(src) if src else F.lit(None)
                return col.cast(a_types[c]).alias(f"_before_{c}")

            bsel = self._read_resolved(bfiles, begin).select(
                F.col(KEY_COL).alias("_b_key"),
                *(
                    [self._partition_expr().alias("_b_part")]
                    if non_global_part else []
                ),
                *[before(c) for c in before_src],
            )
            cond = F.col(KEY_COL) == F.col("_b_key")
            if non_global_part:
                after = after.withColumn("_a_part", self._partition_expr())
                cond = cond & (F.col("_a_part") == F.col("_b_part"))
            j = after.join(bsel, cond, "left")
        deleted = F.coalesce(F.col(DELETED_COL), F.lit(False))
        op = (
            F.when(deleted, F.lit("d"))
            .when(F.col("_b_key").isNull(), F.lit("i"))
            .otherwise(F.lit("u"))
        )
        ver = (
            F.coalesce(F.col(COMMIT_VER_COL), F.lit(0)).cast("long")
            if COMMIT_VER_COL in after.columns
            else F.lit(None).cast("long")
        )
        return (
            j.where(~(deleted & F.col("_b_key").isNull()))
            .select(
                op.alias("_change_op"),
                ver.alias("_change_ver"),
                *[F.col(c) for c in payload],
                *[F.col(f"_before_{c}") for c in before_src],
            )
        )

    def scan_for_keys(self, keys_df: DataFrame, partitions=None) -> DataFrame:
        """Bucket-, stats-, and Bloom-pruned snapshot slice for a set of
        record keys (the query-side of the Bloom-index capability, K1/H8:
        the reference skips files where ``!mightContain(key)``,
        BloomFilter.java:82-87). The collect of the distinct key set is
        CAPPED at ``SCAN_KEYS_MAX`` (same stance as the merge's
        ``MERGE_COLLECT_MAX_ROWS``): past the cap this is no longer a
        point lookup, so the method degrades to a distributed semi-join
        against the bucket-pruned snapshot — only the distinct BUCKET
        ids (bounded by ``self.buckets``) ever reach the driver.

        ``partitions``: the Hudi (partition_path, record_key) lookup —
        when the caller knows the keys' partitions, files of other
        partitions are eliminated structurally BEFORE bucket/bloom
        probing (on a date-partitioned table this is the difference
        between probing one day's blooms and every day's)."""
        live = self._prune_partitions(self.log.live_files(), partitions)
        key_set = (
            keys_df.select(
                F.col(KEY_COL),
                bucket_expr(F.col(KEY_COL), self.buckets).alias("_b"),
            )
            .where(F.col(KEY_COL).isNotNull())
            .distinct()
        )
        rows = key_set.limit(self.SCAN_KEYS_MAX + 1).collect()
        if len(rows) > self.SCAN_KEYS_MAX:
            buckets = {
                r[0] for r in key_set.select("_b").distinct().collect()
            }
            files = [
                f
                for f in live
                if f.bucket in buckets or f.kind == BOOTSTRAP_KIND
            ]
            return self._read_resolved(files, include_deleted=True).join(
                key_set.select(KEY_COL).distinct(), KEY_COL, "left_semi"
            )
        keys = [r[0] for r in rows]
        lo, hi = (min(keys), max(keys)) if keys else (None, None)
        by_bucket: dict[int, list] = {}
        for k, b in rows:
            by_bucket.setdefault(b, []).append(hash_key(k))
        # hash once per key, probe many files vectorized (ndarray path)
        hashes_by_bucket = {b: pairs_array(v) for b, v in by_bucket.items()}
        all_hashes = pairs_array([h for v in by_bucket.values() for h in v])
        _EMPTY = pairs_array([])

        def _probe_hashes(f: FileEntry):
            # bootstrap files (bucket=-1, unrouted rows) may hold any
            # key: probe with the full set, min/max + Bloom still prune
            if f.kind == BOOTSTRAP_KIND:
                return all_hashes
            return hashes_by_bucket.get(f.bucket, _EMPTY)

        files = [
            f
            for f in live
            if len(_probe_hashes(f)) > 0
            and (f.min_key is None or hi is None or f.min_key <= hi)
            and (f.max_key is None or lo is None or f.max_key >= lo)
            and (
                f.bloom is None
                or KeyBloom.from_b64(f.bloom).might_contain_any(
                    _probe_hashes(f)
                )
            )
        ]
        return self._read_resolved(files, include_deleted=True)

    def files_in_range(self, col: str, lo, hi) -> tuple[list, list]:
        """(kept, live): live files whose manifest col_stats range for
        ``col`` intersects [lo, hi] — a file with no recorded stats for
        the column is conservatively kept — MOR-widened by ``_pruned``.
        Pure manifest metadata, no data I/O. ``col`` is the LOGICAL
        name; stats are recorded under the physical (stored) name."""
        fld = self._field_at(col)
        phys = self._physical_of(fld) if fld else col
        # when ``col`` IS the (single) partition field, each file's exact
        # partition value prunes it with no stats at all — works even
        # for files whose col_stats were unrecordable. String compare,
        # so only applied to string bounds (ISO dates / strings — the
        # recommended partition types).
        by_part = (
            self.partition_fields == [col]
            and isinstance(lo, str)
            and isinstance(hi, str)
        )

        def might_hit(f: FileEntry) -> bool:
            if by_part and f.partition is not None and not (
                lo <= f.partition <= hi
            ):
                return False
            st = (f.col_stats or {}).get(phys)
            return st is None or not (hi < st[0] or lo > st[1])

        return self._pruned(might_hit)

    def scan_range(self, col: str, lo, hi) -> DataFrame:
        """Value-range scan with manifest col_stats file pruning (the
        Hudi metadata-table col_stats read path): rows of the current
        snapshot with ``col`` in [lo, hi], reading ONLY files whose
        recorded range intersects — after z-order clustering on the
        column this skips most of the table for selective ranges. Under
        MOR the kept set is unit-widened, so a kept base row is
        resolved against the delta that supersedes it."""
        kept, _ = self.files_in_range(col, lo, hi)
        return self._read_resolved(kept).where(F.col(col).between(lo, hi))

    # -- secondary index (Hudi 1.0 secondary-index analogue) ---------------
    #
    # Per-file Bloom filters over a PAYLOAD column — the record-key Bloom
    # (K1/H8) generalized to non-key columns, the Hudi 1.0 secondary
    # index's job (HoodieIndexDefinition / the async indexer): equality
    # lookups on a column the table is neither keyed nor clustered by
    # prune files exactly, where col_stats min/max ranges (wide on
    # unclustered data) prune nothing. The index lives OUTSIDE the commit
    # timeline as `_index/<col>/index-<n>.json` sidecars (finalizer-
    # published, so creation is atomic + race-safe): a STALE index is
    # always CORRECT — files committed after the indexed version simply
    # have no entry and are conservatively scanned — which is exactly
    # Hudi's async-indexer contract (index up to instant t; later files
    # are unindexed until catch-up). `refresh_secondary_index` is the
    # catch-up: it blooms only the unindexed live files and carries
    # still-live entries forward, dropping dead ones.

    SECONDARY_INDEX_DIR = INDEX_DIR
    # "indexed, column all-null in this file": probe always misses
    _EMPTY_BLOOM = ""
    _INDEXABLE_TYPES = (
        "string", "boolean", "tinyint", "smallint", "int", "bigint",
    )

    def _index_col_field(self, col: str) -> StructField:
        if self.schema() is None:
            raise ValueError(f"lake table at {self.path} has no commits")
        fld = self._field_at(col)
        if fld is None:
            raise ValueError(f"column {col!r} not in table schema")
        if col in self.RESERVED_COLS or col == DELETED_COL:
            raise ValueError(
                f"column {col!r} is an engine meta column; the "
                "record-key Bloom already indexes keys"
            )
        t = fld.dataType.simpleString()
        if t not in self._INDEXABLE_TYPES:
            raise ValueError(
                f"secondary index supports {self._INDEXABLE_TYPES} "
                f"columns; {col!r} is {t!r} (float equality is not "
                "a sane index probe; use scan_range for ranges)"
            )
        return fld

    def _index_dir(self, col: str) -> str:
        return index_dir(self.path, col)

    @staticmethod
    def _index_probe_str(value) -> str:
        """The probe-side twin of the build's ``cast('string')``: Spark
        renders bigint as the plain digits and boolean as true/false, so
        the driver-side rendering must match bit-for-bit."""
        if isinstance(value, bool):
            return "true" if value else "false"
        if isinstance(value, str):
            return value
        if isinstance(value, int):
            return str(value)
        raise TypeError(
            f"secondary-index probe values must be str/int/bool, got "
            f"{type(value).__name__}"
        )

    def _build_index_entries(
        self, files: list[FileEntry], col: str
    ) -> dict[str, str]:
        """One distributed job: shuffle ONLY the indexed column grouped
        by source file (column-pruned at the parquet footer), build each
        file's Bloom executor-side — memory bounded by one file's values,
        the same bound the record-key bloom build has. Returns
        {manifest-relative path: bloom_b64}, with the empty-string
        sentinel for files where the column is entirely null."""
        import pandas as pd  # noqa: F401
        from urllib.parse import unquote, urlparse

        if not files:
            return {}
        fld = self._index_col_field(col)
        phys = self._physical_of(fld)
        abs_to_rel = {
            os.path.normpath(self.log.abs_path(f.path)): f.path
            for f in files
        }

        def build(pdf):
            import pandas as _pd

            vs = [v for v in pdf["_v"] if v is not None]
            b = KeyBloom.from_keys(vs).to_b64() if vs else ""
            return _pd.DataFrame(
                {"_f": [pdf["_f"].iloc[0]], "bloom": [b]}
            )

        rows = (
            self.spark.read.schema(
                StructType([StructField(phys, fld.dataType, True)])
            )
            .parquet(*[self.log.abs_path(f.path) for f in files])
            .select(
                F.input_file_name().alias("_f"),
                F.col(phys).cast("string").alias("_v"),
            )
            .groupBy("_f")
            .applyInPandas(build, "_f string, bloom string")
            .collect()
        )
        out: dict[str, str] = {}
        for r in rows:
            p = r["_f"]
            if p.startswith("file:"):
                p = unquote(urlparse(p).path)
            rel = abs_to_rel.get(os.path.normpath(p))
            if rel is not None:
                out[rel] = r["bloom"]
        # a file can legitimately produce no group ONLY if it has zero
        # rows; mark it indexed-empty rather than leaving it unindexed
        for f in files:
            out.setdefault(f.path, self._EMPTY_BLOOM)
        return out

    def _publish_sidecar(self, dirname: str, payload: dict) -> str:
        """Publish ``payload`` as the next ``index-<n>.json`` manifest
        of the ``_index/<dirname>`` sidecar (secondary index, functional
        index, NDV sketch): finalizer-atomic, a lost slot race moves on
        to the next slot, older manifests retire. Returns the path."""
        import json as _json

        d = self._index_dir(dirname)
        os.makedirs(d, exist_ok=True)
        content = _json.dumps(payload)
        n = self._latest_index_n(dirname) + 1
        for _ in range(self.COMMIT_RETRIES + 1):
            target = os.path.join(d, f"index-{n:06d}.json")
            try:
                self.log.finalizer.publish(content, target)
                self._retire_index_manifests(d, n)
                return target
            except CommitConflict:
                n += 1  # concurrent indexer landed; next slot
        raise CommitConflict(
            f"could not publish index manifest {dirname!r} after "
            f"{self.COMMIT_RETRIES + 1} attempts"
        )

    def _refresh_sidecar(
        self, dirname: str, idx: dict, meta: dict, build
    ) -> tuple[int, int, int]:
        """Async-indexer catch-up shared by the secondary and functional
        indexes: ``build`` entries for ONLY the live files with none,
        carry still-live entries forward, drop dead ones, and publish
        ``{**meta, version, entries}``. Cost is proportional to data
        written since the last (re)build, not to the table; a no-change
        refresh (idempotent replay, commit that touched no indexed
        state) publishes nothing. Returns (version, files_indexed,
        files_built)."""
        latest = self.log.latest()
        live = self.log.live_files()
        old = idx["entries"]
        entries = {f.path: old[f.path] for f in live if f.path in old}
        new_files = [f for f in live if f.path not in old]
        if not new_files and entries == old:
            return idx["version"], len(entries), 0
        entries.update(build(new_files))
        self._publish_sidecar(
            dirname, {**meta, "version": latest.version, "entries": entries}
        )
        return latest.version, len(entries), len(new_files)

    @staticmethod
    def _retire_index_manifests(d: str, newest: int) -> None:
        """Only the NEWEST index manifest is ever read, and in-commit
        maintenance publishes one per mutating commit — without
        retention a long-lived indexed table accumulates one
        O(live-files) JSON per commit. Keep the newest two (the
        previous one covers a reader that listed the directory just
        before this publish); best-effort unlink is safe for open
        POSIX readers and correct on list-then-get object stores."""
        for fn in os.listdir(d):
            if not (fn.startswith("index-") and fn.endswith(".json")):
                continue
            try:
                if int(fn[6:-5]) < newest - 1:
                    os.unlink(os.path.join(d, fn))
            except (ValueError, OSError):
                continue

    def _latest_index_n(self, dirname: str) -> int:
        return latest_index_n(self.path, dirname)

    def _open_latest_manifest(self, dirname: str) -> dict | None:
        return open_latest_manifest(self.path, dirname)

    def secondary_index(self, col: str) -> dict | None:
        """Latest published index manifest for ``col`` (None if never
        indexed): {"col", "version", "entries": {relpath: bloom_b64}}."""
        m = self._open_latest_manifest(col)
        if m is None:
            return None
        return None if m.get("kind") in NON_SECONDARY_KINDS else m

    def secondary_indexes(self) -> list[str]:
        """Columns with a live secondary index."""
        d = os.path.join(self.path, self.SECONDARY_INDEX_DIR)
        if not os.path.isdir(d):
            return []
        return sorted(
            c
            for c in os.listdir(d)
            if self._latest_index_n(c) > 0
            and self.secondary_index(c) is not None
        )

    def create_secondary_index(self, col: str) -> dict:
        """Build (or fully rebuild) the secondary index on ``col`` over
        every live file of the current snapshot. Returns
        {col, version, files_indexed}."""
        self._index_col_field(col)
        latest = self.log.latest()
        if latest is None:
            raise ValueError(f"lake table at {self.path} has no commits")
        files = self.log.live_files()
        entries = self._build_index_entries(files, col)
        self._publish_sidecar(
            col, {"col": col, "version": latest.version, "entries": entries}
        )
        return {
            "col": col,
            "version": latest.version,
            "files_indexed": len(entries),
        }

    def refresh_secondary_index(self, col: str) -> dict:
        """Async-indexer catch-up (``_refresh_sidecar``): bloom ONLY the
        live files with no entry; creates the index if it has none."""
        idx = self.secondary_index(col)
        if idx is None:
            return self.create_secondary_index(col)
        version, n, built = self._refresh_sidecar(
            col, idx, {"col": col},
            lambda files: self._build_index_entries(files, col),
        )
        return {
            "col": col,
            "version": version,
            "files_indexed": n,
            "files_built": built,
        }

    def functional_indexes(self) -> list[str]:
        """Names of live functional indexes."""
        d = os.path.join(self.path, self.SECONDARY_INDEX_DIR)
        if not os.path.isdir(d):
            return []
        return sorted(
            c[len(self._FN_PREFIX):]
            for c in os.listdir(d)
            if c.startswith(self._FN_PREFIX)
            and self.functional_index(c[len(self._FN_PREFIX):]) is not None
        )

    def _maintain_indexes(self) -> None:
        """In-commit incremental index maintenance (VERDICT r8 #4):
        every table-mutating operation calls this after its commit
        publishes, so secondary/functional indexes stay an INVARIANT
        instead of a chore — a merge that rewrites files re-indexes
        exactly the commit's added files (the refresh paths build only
        live-files-without-entries) and point queries keep pruning
        without a manual refresh. Stale-is-correct still holds (an
        async crash between commit and refresh just un-prunes the new
        files until the next commit); cost is one ``isdir`` when the
        table has no indexes, else one bounded job per index sized by
        the commit's own output."""
        d = os.path.join(self.path, self.SECONDARY_INDEX_DIR)
        if not os.path.isdir(d):
            return
        for c in self.secondary_indexes():
            self.refresh_secondary_index(c)
        for n in self.functional_indexes():
            self.refresh_functional_index(n)

    def files_for_values(
        self, col: str, values, partitions=None, version: int | None = None
    ) -> tuple[list, list]:
        """(kept, live): the file-pruning decision behind
        ``scan_for_values``, exposed for plan inspection. Unindexed
        files are conservatively kept (stale index = less pruning,
        never wrong rows). When MOR deltas are live, pruning widens to
        the resolution unit: a kept base file pulls in its unit's
        delta files (they may supersede its rows), and a kept
        bootstrap file pulls in ALL deltas (bootstrap rows' buckets
        are unknown until conversion) — equality results must reflect
        the RESOLVED row, not a superseded one."""
        idx = self.secondary_index(col)
        if idx is None:
            raise ValueError(
                f"no secondary index on {col!r}; call "
                f"create_secondary_index({col!r}) first"
            )
        probes = [self._index_probe_str(v) for v in values]
        if not probes:
            return [], self.log.live_files(version)
        entries = idx["entries"]

        def might_hit(f: FileEntry) -> bool:
            b = entries.get(f.path)
            if b is None:
                return True  # unindexed: conservatively scan
            if b == self._EMPTY_BLOOM:
                return False
            bloom = KeyBloom.from_b64(b)
            return any(bloom.might_contain(p) for p in probes)

        return self._pruned(might_hit, version, partitions)

    def _pruned(
        self,
        might_hit,
        version: int | None = None,
        partitions=None,
        partition_range=None,
    ) -> tuple[list, list]:
        """(kept, live): the one file-pruning path behind the secondary
        index, functional index, col_stats range and value-set reads.
        ``live`` is the live set at ``version`` after structural
        partition elimination; ``kept`` is the files ``might_hit`` keeps
        (the caller's own predicate) so that ``_read_resolved(kept,
        version)`` resolves every kept row correctly: when MOR deltas
        are live, a non-hit file can hold the NEWER version of a hit
        file's key, so a hit pulls in every live file of its unit
        (``unit_of``), and a hit bootstrap file pulls in ALL deltas (its
        rows' buckets are unknown until conversion)."""
        live = self._prune_partitions(
            self.log.live_files(version), partitions, partition_range
        )
        hits = [f for f in live if might_hit(f)]
        if not any(f.kind == "delta" for f in live):
            return hits, live
        hit_paths = {f.path for f in hits}
        units = {
            unit_of(f, self.global_index)
            for f in hits
            if f.kind != BOOTSTRAP_KIND
        }
        boot_hit = any(f.kind == BOOTSTRAP_KIND for f in hits)
        kept = [
            f
            for f in live
            if f.path in hit_paths
            or unit_of(f, self.global_index) in units
            or (boot_hit and f.kind == "delta")
        ]
        return kept, live

    def scan_for_values(
        self, col: str, values, partitions=None
    ) -> DataFrame:
        """Equality point lookup by a NON-KEY column through the
        secondary index (the Hudi 1.0 secondary-index read path):
        current-snapshot rows with ``col`` in ``values``, reading only
        Bloom-hit files. Pruning is I/O-only — the equality predicate
        is re-applied by Spark, so Bloom false positives and stale
        entries cost reads, never wrong rows."""
        kept, _ = self.files_for_values(col, values, partitions)
        return self._read_resolved(kept).where(F.col(col).isin(list(values)))

    # probing more values than this per file is slower than scanning;
    # past it, value-set file pruning declines (row-level prune remains)
    PRUNE_PROBE_CAP = 2000

    def files_for_any_value(
        self, col: str, values, version: int | None = None
    ) -> tuple[list, list] | None:
        """Best-available FILE pruning for an equality value-SET on
        ``col`` — the partial-recompute feeder (VERDICT r9 #1): a
        matview refresh touching 5 groups of a 100 TB table should read
        the affected groups' files, not every live file. Tries, in
        precedence order: secondary index (Bloom per file) > identity
        partition field (exact structural elimination) > manifest
        col_stats ([min,max] intersection). Returns (kept, live)
        MOR-widened like ``files_for_values`` — a kept file's key can
        be superseded by a delta in a non-kept file, so kept buckets
        pull in their delta mates for resolution; under COW the live
        set holds exactly one version per key and no widening applies.
        Returns None when no structure covers the column (or the probe
        set is unprunable: too large, or types the structure can't
        render) — the caller falls back to row-level pruning over the
        full snapshot. Files without index/stats entries are kept
        conservatively: stale structures cost reads, never rows."""
        vals = list(dict.fromkeys(values))
        has_null = any(v is None for v in vals)
        non_null = [v for v in vals if v is not None]
        # 1. secondary index — exact-value Bloom per file. Nulls are
        # not recorded by the index build, so a null probe disables it.
        if (
            not has_null
            and len(non_null) <= self.PRUNE_PROBE_CAP
            and all(isinstance(v, (str, int, bool)) for v in non_null)
            and self.secondary_index(col) is not None
        ):
            return self.files_for_values(col, non_null, version=version)
        # 2. identity partition field — each file's single exact
        # partition value; nulls render as the "default" partition, so
        # null probes prune fine. Floats are skipped (Python str() vs
        # Spark cast disagree on scientific notation).
        if self.partition_fields == [col] and not any(
            isinstance(v, float) for v in non_null
        ):
            keep = {
                "default" if v is None else self._index_probe_str(v)
                if isinstance(v, (str, int, bool))
                else str(v)
                for v in vals
            }
            return self._pruned(
                lambda f: f.partition is None or f.partition in keep, version
            )
        # 3. manifest col_stats — [min,max] per file. Parquet stats
        # ignore nulls, so a null probe can never be pruned by them.
        if has_null or len(non_null) > self.PRUNE_PROBE_CAP:
            return None
        fld = self._field_at(col, version)
        phys = self._physical_of(fld) if fld else col
        if not any(
            (f.col_stats or {}).get(phys) for f in self.log.live_files(version)
        ):
            return None

        def might(f: FileEntry) -> bool:
            st = (f.col_stats or {}).get(phys)
            if st is None:
                return True  # stat-less: conservatively scan
            try:
                return any(st[0] <= v <= st[1] for v in non_null)
            except TypeError:
                return True  # incomparable probe type: keep

        return self._pruned(might, version)

    # broadcast-semi guard for partial-recompute consumers: past this
    # many affected groups the plan falls back to a shuffle semi-join
    MAX_BROADCAST_GROUPS = 100_000

    def snapshot_pruned_to_groups(
        self,
        affected: DataFrame,
        group_cols: list[str],
        max_broadcast_groups: int | None = None,
        stats_out: dict | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Snapshot slice holding exactly the ``affected`` groups' rows
        — the scan side of every partial-recompute maintenance path
        (MinMaxView, ``operators/derived.py``). Three-tier shape:

        * affected-group count ≤ cap: FILE-prune via the first group
          column ``files_for_any_value`` can serve (index / partition /
          col_stats), then a null-safe BROADCAST semi-join row-prunes
          the remainder — refresh I/O is O(affected groups' files).
        * a column prunes nothing (every file might hit): keep the full
          scan but still broadcast the semi-join (the r8 shape).
        * count > cap: LOUD fallback — full scan + SHUFFLE semi-join
          (a 100k+-group broadcast would flood the driver; at that
          cardinality a full recompute-shaped plan is the right one).

        ``stats_out`` (optional dict) receives {strategy, prune_col,
        files_kept, files_live, groups} for tests/observability.

        ``version`` pins the read to a committed version (time-travel
        pruning + scan). Maintenance consumers MUST pass their
        watermark target: a matview refresh that captured ``end`` but
        recomputes from the unpinned latest snapshot would absorb rows
        a concurrent writer committed AFTER ``end`` — and the next
        slice, classified insert-only, would add those rows AGAIN
        (review r12 #1: permanent cnt drift in NdvView's union path;
        MinMaxView merely self-healed)."""
        import logging as _logging

        cap = (
            self.MAX_BROADCAST_GROUPS
            if max_broadcast_groups is None
            else max_broadcast_groups
        )
        out = stats_out if stats_out is not None else {}
        rows = affected.limit(cap + 1).collect()
        if len(rows) > cap:
            _logging.getLogger(__name__).warning(
                "partial recompute: >%d affected groups on %s — "
                "falling back to a shuffle semi-join over the full "
                "snapshot (file pruning and broadcast are off)",
                cap, self.path,
            )
            out.update(
                strategy="shuffle-semi", prune_col=None,
                files_kept=None, files_live=None, groups=None,
            )
            snap = self.snapshot(version=version).alias("s")
            return snap.join(
                affected.alias("a"),
                self._group_eq("s", "a", group_cols),
                "semi",
            )
        out.update(
            strategy="broadcast-semi", prune_col=None,
            files_kept=None, files_live=None, groups=len(rows),
        )
        snap = None
        for c in group_cols:
            pruned = self.files_for_any_value(
                c, [r[c] for r in rows], version=version
            )
            if pruned is None:
                continue
            kept, live = pruned
            if len(kept) < len(live):
                out.update(
                    prune_col=c, files_kept=len(kept), files_live=len(live)
                )
                snap = self._read_resolved(kept, version)
                break
        if snap is None:
            snap = self.snapshot(version=version)
        # the semi-join stays even when files pruned: Bloom false
        # positives / widened units / coarse stats admit extra rows
        local = local_frame(self.spark, rows, affected.schema)
        return snap.alias("s").join(
            F.broadcast(local.alias("a")),
            self._group_eq("s", "a", group_cols),
            "semi",
        )

    @staticmethod
    def _group_eq(left: str, right: str, cols: list[str]):
        cond = None
        for c in cols:
            e = F.col(f"{left}.{c}").eqNullSafe(F.col(f"{right}.{c}"))
            cond = e if cond is None else (cond & e)
        return cond

    # -- functional index (Hudi 1.0 expression-index analogue) -------------
    #
    # Per-file [min, max] of an ARBITRARY Spark SQL expression over
    # payload columns — Hudi 1.0's functional/expression index
    # (column_stats on a function of a column): range predicates on a
    # DERIVED value (`substr(dt,1,7)`, `x div 100`, `length(text)`)
    # prune files with no per-row evaluation, where the raw col_stats
    # can't see the expression at all. Same sidecar lifecycle as the
    # secondary index: finalizer-atomic `_index/fn_<name>/` manifests
    # outside the timeline, stale-is-correct, incremental refresh.

    _FN_PREFIX = "fn_"
    _FN_TYPES = (
        "string", "boolean", "tinyint", "smallint", "int", "bigint",
        "float", "double",
    )

    def _fn_validate(self, expr_sql: str) -> None:
        """Resolve the expression against a zero-row snapshot frame:
        analysis errors (bad column, bad function) and unsupported
        result types fail at CREATE time, not probe time."""
        sch = self.schema()
        if sch is None:
            raise ValueError(f"lake table at {self.path} has no commits")
        probe = self.spark.createDataFrame([], sch).select(
            F.expr(expr_sql).alias("_v")
        )
        t = probe.schema["_v"].dataType.simpleString()
        if t not in self._FN_TYPES:
            raise ValueError(
                f"functional index expressions must produce one of "
                f"{self._FN_TYPES}; {expr_sql!r} produces {t!r} — cast "
                "dates/timestamps to string (ISO orders lexically) or "
                "to epoch numbers in the expression"
            )

    def _fn_build_entries(
        self, files: list[FileEntry], expr_sql: str
    ) -> dict:
        """One JVM-only job: per-file min/max of the expression —
        `groupBy(input_file_name)` over a scan Catalyst column-prunes
        to exactly the columns the expression references. No Python in
        the hot path; the collect is one row per file (bounded
        metadata)."""
        if not files:
            return {}
        abs_to_rel = {
            os.path.normpath(self.log.abs_path(f.path)): f.path
            for f in files
        }
        from urllib.parse import unquote, urlparse

        rows = (
            self._read_files(files)
            .select(
                F.input_file_name().alias("_f"),
                F.expr(expr_sql).alias("_v"),
            )
            .groupBy("_f")
            .agg(F.min("_v").alias("mn"), F.max("_v").alias("mx"))
            .collect()
        )
        out: dict = {}
        for r in rows:
            p = r["_f"]
            if p.startswith("file:"):
                p = unquote(urlparse(p).path)
            rel = abs_to_rel.get(os.path.normpath(p))
            if rel is not None:
                # mn/mx both None <=> expr NULL for every row: store
                # null sentinel (range probes always miss NULL)
                out[rel] = (
                    None if r["mn"] is None else [r["mn"], r["mx"]]
                )
        for f in files:
            out.setdefault(f.path, None)  # zero-row file
        return out

    def create_functional_index(self, name: str, expr_sql: str) -> dict:
        """Build (or rebuild) the functional index ``name`` = per-file
        [min, max] of ``expr_sql`` over every live file."""
        self._fn_validate(expr_sql)
        latest = self.log.latest()
        files = self.log.live_files()
        entries = self._fn_build_entries(files, expr_sql)
        self._publish_sidecar(
            self._FN_PREFIX + name,
            {
                "kind": "functional",
                "name": name,
                "expr": expr_sql,
                "version": latest.version,
                "entries": entries,
            },
        )
        return {
            "name": name,
            "expr": expr_sql,
            "version": latest.version,
            "files_indexed": len(entries),
        }

    def refresh_functional_index(self, name: str) -> dict:
        """Catch-up: evaluate the stored expression over ONLY the live
        files with no entry; carry still-live entries, drop dead."""
        idx = self.functional_index(name)
        if idx is None:
            raise ValueError(
                f"no functional index {name!r}; create it first "
                "(the expression lives in the index, so refresh "
                "cannot invent one)"
            )
        expr = idx["expr"]
        version, n, built = self._refresh_sidecar(
            self._FN_PREFIX + name, idx,
            {"kind": "functional", "name": name, "expr": expr},
            lambda files: self._fn_build_entries(files, expr),
        )
        return {
            "name": name,
            "expr": expr,
            "version": version,
            "files_indexed": n,
            "files_built": built,
        }

    def functional_index(self, name: str) -> dict | None:
        """Latest manifest for functional index ``name`` (None if never
        created): {"kind","name","expr","version","entries"}."""
        m = self._open_latest_manifest(self._FN_PREFIX + name)
        if m is None:
            return None
        return m if m.get("kind") == "functional" else None

    def files_for_expr_range(
        self, name: str, lo, hi, partitions=None
    ) -> tuple[list, list]:
        """(kept, live) for ``lo <= expr <= hi``: live files whose
        recorded expression range intersects; unindexed files kept
        conservatively; all-null entries pruned (NULL never satisfies
        a range). MOR widens to the resolution unit (see
        files_for_values)."""
        idx = self.functional_index(name)
        if idx is None:
            raise ValueError(
                f"no functional index {name!r}; call "
                "create_functional_index first"
            )
        entries = idx["entries"]

        def might_hit(f: FileEntry) -> bool:
            if f.path not in entries:
                return True  # unindexed: conservatively scan
            rng = entries[f.path]
            if rng is None:
                return False  # expr all-NULL (or zero rows)
            try:
                return not (hi < rng[0] or lo > rng[1])
            except TypeError:
                return True  # probe/stat type mismatch: stay correct

        return self._pruned(might_hit, partitions=partitions)

    def scan_expr_range(self, name: str, lo, hi, partitions=None):
        """Derived-value range scan through the functional index (the
        Hudi 1.0 expression-index read path): current-snapshot rows
        with ``lo <= expr <= hi``, reading only range-hit files. The
        predicate is re-applied by Spark over the stored expression, so
        pruning is I/O-only — stale entries cost reads, never rows."""
        idx = self.functional_index(name)
        kept, _ = self.files_for_expr_range(name, lo, hi, partitions)
        return self._read_resolved(kept).where(
            F.expr(idx["expr"]).between(lo, hi)
        )

    def bootstrap(
        self,
        source,
        key_fields: list[str],
        ts_field: str | None = None,
    ) -> None:
        """Metadata-only bootstrap (the Hudi METADATA_ONLY bootstrap
        analogue — see table/bootstrap.py for the full design): register
        EXISTING parquet files as this table's first commit without
        rewriting, copying, or moving them. One distributed metadata
        pass reads only the key (+ts) columns to build per-file
        synthesized-key min/max + Bloom; payload col_stats come from the
        footers. Queries work immediately; upserts convert files
        progressively (Bloom-pruned); ``compact()`` converts everything
        left in one pass.

        ``source``: a directory (recursive ``*.parquet``) or explicit
        file list. ``key_fields``: string/integer columns whose
        null-safe ``:``-joined string rendering is the record key.
        ``ts_field``: optional integer precombine column (missing/null
        → 0, so any later upsert wins LWW)."""
        if self.log.latest() is not None:
            raise ValueError(
                f"table at {self.path} already has commits; bootstrap "
                "only creates tables"
            )
        if self.partition_fields:
            raise ValueError(
                "bootstrap onto a partition-path table is not supported: "
                "source files are not partition-attributable without a "
                "data pass; bootstrap unpartitioned, then cluster/rewrite"
            )
        key_fields = list(key_fields)
        if not key_fields:
            raise ValueError("bootstrap requires at least one key field")
        files = resolve_source_files(source)
        validate_source_schemas(files, key_fields, ts_field)
        spec = {
            "key_fields": key_fields,
            "ts_field": ts_field,
            "commit_ver": 1,
        }
        entries = collect_bootstrap_entries(self.spark, files, spec)
        payload = self.spark.read.parquet(*files).schema
        full = StructType(
            list(payload.fields)
            + [
                StructField(KEY_COL, StringType(), True),
                StructField(TS_COL, LongType(), True),
                StructField(DELETED_COL, BooleanType(), True),
                StructField(COMMIT_VER_COL, LongType(), True),
            ]
        )
        self._publish(
            "bootstrap", entries, None, full.json(), bootstrap_spec=spec
        )

    def _bootstrap_spec(self) -> dict | None:
        latest = self.log.latest()
        return latest.bootstrap_spec if latest else None

    def _synthesize_bootstrap(self, df: DataFrame, spec: dict) -> DataFrame:
        """Spark-side meta-column synthesis for bootstrap files (the
        pyarrow twin lives in table/bootstrap.py): operates on the
        PHYSICAL frame — the spec's field names are physical by
        construction (fixed at column birth = the source files' own
        names)."""
        return (
            df.withColumn(KEY_COL, _boot_key_expr(spec["key_fields"]))
            .withColumn(TS_COL, _boot_ts_expr(spec.get("ts_field")))
            .withColumn(DELETED_COL, F.lit(False))
            .withColumn(
                COMMIT_VER_COL,
                F.lit(int(spec["commit_ver"])).cast("long"),
            )
        )

    def _schema_at(self, version: int | None) -> StructType | None:
        """ACTIVE logical schema of a specific committed version (None
        = latest). Historical reads must use the schema of the version
        whose live set they read: widening evolution happens to be
        read-compatible in both directions of time, but an explicit
        ``rewrite_column_type`` changes the physical type of every live
        file at its commit — reading an older version's files with the
        newer schema would crash the vectorized reader (and vice
        versa). Version-scoped schemas make every read self-consistent:
        any file live at version v was written under a schema v's
        schema widens."""
        if version is None:
            return self.schema()
        import json as _json

        c = self.log.read(version)
        if not c.schema_json:
            return self.schema()
        full = StructType.fromJson(_json.loads(c.schema_json))
        return StructType(
            [f for f in full.fields if not (f.metadata or {}).get("dropped")]
        )

    def _read_files(
        self, files: list[FileEntry], schema: StructType | None = None
    ) -> DataFrame:
        """Read data files into the LOGICAL schema: scan with physical
        names (what the parquet actually stores — a logical name absent
        from the files would silently read as all-null), then alias back
        to logical. Dropped columns are simply not projected. Bootstrap
        files (kind="bootstrap") are read separately and their engine
        meta columns synthesized from the persisted spec. ``schema``
        overrides the latest logical schema for historical reads (pass
        ``_schema_at`` of the version whose live set ``files`` is)."""
        sch = schema if schema is not None else self.schema()
        if sch is None:
            raise ValueError(f"lake table at {self.path} has no commits")
        if not files:
            return self.spark.createDataFrame([], sch)
        phys = StructType(
            [
                StructField(self._physical_of(f), f.dataType, True)
                for f in sch.fields
            ]
        )

        def to_logical(df: DataFrame) -> DataFrame:
            if any(self._physical_of(f) != f.name for f in sch.fields):
                return df.select(
                    *[
                        F.col(self._physical_of(f)).alias(f.name)
                        for f in sch.fields
                    ]
                )
            return df

        boot = [f for f in files if f.kind == BOOTSTRAP_KIND]
        rest = [f for f in files if f.kind != BOOTSTRAP_KIND]
        out: DataFrame | None = None
        if rest:
            out = to_logical(
                self.spark.read.schema(phys).parquet(
                    *[self.log.abs_path(f.path) for f in rest]
                )
            )
        if boot:
            spec = self._bootstrap_spec()
            if spec is None:
                raise ValueError(
                    f"table at {self.path} has bootstrap files but no "
                    "bootstrap spec in the commit log (corrupted manifest)"
                )
            bdf = to_logical(
                self._synthesize_bootstrap(
                    self.spark.read.schema(phys).parquet(
                        *[self.log.abs_path(f.path) for f in boot]
                    ),
                    spec,
                )
            )
            out = bdf if out is None else out.unionByName(bdf)
        return out

    # -- writes ------------------------------------------------------------

    # Bounded optimistic-concurrency retries: a write path that loses the
    # commit publish race re-reads the timeline and RECOMPUTES its output
    # against the winner's state (the stale attempt's data files become
    # unreferenced orphans; vacuum's grace window reclaims them).
    COMMIT_RETRIES = 3

    def _with_commit_retries(self, attempt):
        out = None
        for n in range(self.COMMIT_RETRIES + 1):
            try:
                out = attempt()
                break
            except CommitConflict:
                if n == self.COMMIT_RETRIES:
                    raise
                self.log.invalidate()
        try:
            # every successful mutating commit maintains the table's
            # indexes in-line (no-op isdir check on index-less tables)
            self._maintain_indexes()
        except Exception:
            # The DATA commit has already published by this point — a
            # maintenance failure must not make the API raise, or a
            # caller retry without batch_id would re-apply the batch
            # (double write) while misattributing a successful commit
            # as failed. Stale indexes are contractually correct
            # (pruning is advisory: an unindexed/stale file is kept,
            # never skipped), so ANY maintenance error — a concurrent
            # indexer's CommitConflict, a transient Spark failure
            # building bloom entries — degrades to a stale index, which
            # the next mutating commit or explicit rebuild repairs.
            import logging

            logging.getLogger(__name__).warning(
                "in-commit index maintenance failed for %s; indexes "
                "remain stale-but-correct until the next commit or an "
                "explicit create_*_index rebuild",
                self.path,
                exc_info=True,
            )
        return out

    def _publish(
        self,
        operation: str,
        files: list[FileEntry],
        prev,
        schema_json: str | None = None,
        batch_id: str | None = None,
        **extra,
    ):
        """The publish tail every LakeTable commit shares: optimistic
        against ``prev`` (the commit the caller computed from — a stale
        timeline raises ``CommitConflict``, which ``_with_commit_retries``
        recomputes) with the table-level metadata filled in."""
        return self.log.commit(
            operation,
            files,
            batch_id=batch_id,
            schema_json=schema_json,
            buckets=self.buckets,
            expected_version=(prev.version + 1) if prev else 1,
            partition_fields=self.partition_fields or None,
            global_index=self.global_index or None,
            **extra,
        )

    def _write_commit(
        self, out: DataFrame, operation: str, prev, carry, schema_json: str
    ) -> list[FileEntry]:
        """The write of z-order clustering, the one data-writing commit
        that does not go through the per-unit kernel: its files are the
        tasks of ``out``, the LOGICAL frame with its layout columns,
        range-partitioned on (layout, z-value) and sorted by them within
        each task. Each task writes one file per (partition, bucket) run
        with ``emit_unit_files`` and returns the files' manifest
        entries, which ``_publish_written`` checks and publishes with
        ``carry``. Returns the new entries."""
        layout = self._layout_cols()
        _, rel = self.log.new_data_subdir()
        rows = self._apply_physical(out, schema_json).mapInArrow(
            _write_task(self.path, rel, layout),
            ", ".join(f"{n} {t}" for n, t in _ENTRY_COLS),
        ).collect()
        return self._publish_written(
            rel, _row_entries(rows, "base"), operation, prev, carry,
            schema_json, None,
        )

    def _publish_written(
        self, rel, new_files, operation, prev, carry, schema_json, batch_id
    ) -> list[FileEntry]:
        """The tail of every data-writing commit: the data subdir ``rel``
        must hold exactly ``new_files`` (``_check_written``), or nothing
        is published; then publish ``carry`` (a list, or a function of
        the new entries that picks it) plus the new entries, in path
        order. Returns the new entries."""
        new_files = sorted(new_files, key=lambda f: f.path)
        _check_written(self.path, rel, new_files, operation)
        if callable(carry):
            carry = carry(new_files)
        self._publish(operation, carry + new_files, prev, schema_json, batch_id)
        return new_files

    def insert(
        self,
        df: DataFrame,
        batch_id: str | None = None,
        parallelism: int | None = None,
        operation: str = "insert",
    ) -> None:
        """Plain partitioned append, no merge (H3). ``df`` must already
        carry _key and _ts columns (use prepare helpers in operators.cdc).
        Its rows are written as base rows of their units by the per-unit
        kernel, unresolved (see ``_overwrite_once``). Type changes
        follow the same widening rules as merge — without the check, a
        batch declaring a different physical type would be written
        as-is while the committed read schema kept the stored type,
        breaking every subsequent read of the new file.
        ``parallelism``: the number of write tasks; given, the append
        always runs in tasks, as on ``merge``."""
        self._with_commit_retries(
            lambda: self._overwrite_once(
                df, batch_id, parallelism, operation, replace=None
            )
        )

    def bulk_insert(
        self,
        df: DataFrame,
        batch_id: str | None = None,
        parallelism: int | None = None,
    ) -> None:
        """H3 bulk_insert: ``insert`` under its own operation name;
        ``parallelism`` is the reference's separate bulkinsert
        parallelism knob (N15)."""
        self.insert(df, batch_id, parallelism, operation="bulk_insert")

    def insert_overwrite(
        self,
        df: DataFrame,
        batch_id: str | None = None,
        parallelism: int | None = None,
    ) -> None:
        """Hudi ``insert_overwrite`` (the replacecommit half of the write
        surface the reference's Hudi tables expose beyond the sync's
        upsert/delete, ``hoodie.datasource.write.operation``): replace
        exactly the partitions PRESENT IN THE BATCH with the batch's
        rows, atomically in one commit. Untouched partitions carry over
        unchanged (their manifest entries are reused — zero data I/O);
        the replaced partitions' old files (base AND delta) leave the
        live set but stay on disk for time travel until vacuumed. The
        replaced-partition set is derived from the NEW files' manifest
        entries, so no extra Spark job or driver collect is needed.

        An unpartitioned table must use ``insert_overwrite_table``: an
        unpartitioned "overwrite what the batch covers" is the whole
        table anyway, and requiring the explicit call keeps a mis-routed
        batch from silently truncating the table."""
        if not self.partition_fields:
            raise ValueError(
                f"table at {self.path} is not partitioned; use "
                "insert_overwrite_table to replace an unpartitioned table"
            )
        self._with_commit_retries(
            lambda: self._overwrite_once(
                df, batch_id, parallelism, "insert_overwrite",
                replace="partitions",
            )
        )

    def insert_overwrite_table(
        self,
        df: DataFrame,
        batch_id: str | None = None,
        parallelism: int | None = None,
    ) -> None:
        """Hudi ``insert_overwrite_table``: replace the ENTIRE table
        with the batch in one atomic commit (partitioned or not). Prior
        versions stay readable via time travel until vacuumed."""
        self._with_commit_retries(
            lambda: self._overwrite_once(
                df, batch_id, parallelism, "insert_overwrite_table",
                replace="table",
            )
        )

    def _overwrite_once(
        self,
        df: DataFrame,
        batch_id: str | None,
        parallelism: int | None,
        operation: str,
        replace: str | None,
    ) -> None:
        """Append ``df`` as new base files through the per-unit kernel
        (``_rewrite_units`` in ``"append"`` mode), conformed and stamped
        as a merge's batch is; a row keeps the frame's own ``_deleted``
        (else false) and ``_commit_ver`` (else this commit's).
        ``replace``: None keeps every previous file (insert),
        "partitions" drops the previous files of the partitions the new
        files land in, "table" drops them all."""
        if batch_id is not None and self.log.has_batch(batch_id):
            return  # idempotent re-run (H5)
        prev = self.log.latest()
        next_ver = (prev.version + 1) if prev else 1
        b = self._stamped_batch(
            df,
            F.col(DELETED_COL) if DELETED_COL in df.columns else F.lit(False),
            F.col(COMMIT_VER_COL) if COMMIT_VER_COL in df.columns
            else F.lit(next_ver),
        )
        live = prev.files if prev else []
        if replace == "table":
            carry = []
        elif replace == "partitions":
            self._require_attributable(live, operation)

            def carry(new_files):
                replaced = {f.partition for f in new_files}
                return [f for f in live if f.partition not in replaced]
        else:
            carry = live
        self._rewrite_units(
            prev, [], self._commit_schema_json(b, next_ver), operation,
            batch=b, batch_id=batch_id, parallelism=parallelism,
            mode="append", carry=carry,
        )

    def delete_partitions(
        self, partitions, batch_id: str | None = None
    ) -> None:
        """Hudi ``delete_partition``: drop every live file (base and
        delta) of the named partitions in one METADATA-ONLY commit — no
        data is read or written, so retiring a day from a 100-TB
        time-partitioned table costs one manifest rewrite. The dropped
        files stay on disk for time travel until vacuum reclaims them.
        Partition values with no live files are a no-op; an
        unpartitioned table errors."""
        if not self.partition_fields:
            raise ValueError(
                f"table at {self.path} is not partitioned; "
                "delete_partitions cannot target it"
            )
        drop = {str(p) for p in partitions}

        def attempt() -> None:
            if batch_id is not None and self.log.has_batch(batch_id):
                return  # idempotent re-run (H5)
            prev = self.log.latest()
            if prev is None:
                raise ValueError(
                    f"lake table at {self.path} has no commits"
                )
            self._require_attributable(prev.files, "delete_partition")
            carry = [f for f in prev.files if f.partition not in drop]
            self._publish("delete_partition", carry, prev, batch_id=batch_id)

        self._with_commit_retries(attempt)

    def _require_attributable(self, files, operation: str) -> None:
        """Partition-replacing writes need every live file attributed to
        a partition: a file with no recorded partition value could hold
        rows of a replaced partition, and carrying it over would
        resurrect them (reads keep such files CONSERVATIVELY — see
        _prune_partitions — but for replace semantics conservative ==
        wrong, so it's an error; writers on partitioned tables always
        record the value, so this only trips on corrupted manifests)."""
        n = sum(1 for f in files if f.partition is None)
        if n:
            raise ValueError(
                f"{operation} on table at {self.path}: {n} live manifest "
                "entries have no partition value; cannot attribute them "
                "to a partition"
            )

    def delete_where(
        self,
        condition,
        batch_id: str | None = None,
        mode: str = "cow",
    ) -> None:
        """Predicate delete — the Spark SQL ``DELETE FROM t WHERE …``
        surface on the lake table. The matched snapshot slice becomes a
        delete batch through the SAME LWW merge as keyed deletes:
        tombstones at each matched row's own ``_ts`` (ties go to the
        batch, so the delete wins its own row; a LATER upsert still
        beats it — DELETE is not a key ban). Planning cost is the
        pruned scan: the predicate reaches the parquet scan via
        Catalyst pushdown, and the merge's bucket/Bloom pruning comes
        from the derived key set as usual. On partitioned tables a
        partition-field predicate prunes structurally — prefer
        ``delete_partitions`` when the predicate IS a whole partition
        (that one is metadata-only)."""
        self._dml_merge(condition, None, batch_id, mode)

    def update_where(
        self,
        condition,
        assignments: dict,
        batch_id: str | None = None,
        mode: str = "cow",
    ) -> None:
        """Predicate update — the Spark SQL ``UPDATE t SET … WHERE …``
        surface: matched rows re-enter the LWW merge as upserts at
        their own ``_ts`` (ties to the batch, so the update lands;
        concurrent newer writes still win). ``assignments``: column
        name -> Column expression, evaluated over the matched rows —
        expressions may reference any payload column. Assigning key,
        partition, or engine meta columns is refused (that is a
        delete + insert, not an update)."""
        if not assignments:
            raise ValueError("update_where requires at least one assignment")
        bad = set(assignments) & (
            set(self.RESERVED_COLS)
            | {DELETED_COL}
            | set(partition_source_cols(self.partition_fields))
        )
        if bad:
            raise ValueError(
                f"update_where cannot assign {sorted(bad)}: key, "
                "partition-source, and engine meta columns are record "
                "identity — delete and re-insert instead"
            )
        self._dml_merge(condition, assignments, batch_id, mode)

    def _dml_merge(self, condition, assignments, batch_id, mode) -> None:
        snap = self.snapshot().where(condition)
        payload = [
            c for c in snap.columns
            if c not in (DELETED_COL, COMMIT_VER_COL)
        ]
        if assignments is None:
            batch = snap.select(
                *payload, F.lit(DELETE_OP).alias(OP_COL)
            )
        else:
            unknown = sorted(set(assignments) - set(payload))
            if unknown:
                # a typo'd column must raise, not silently no-op: the
                # select below walks the TABLE's payload columns, so an
                # unmatched assignment key would simply never be read
                raise ValueError(
                    f"update_where assignments reference columns not in "
                    f"the table payload: {unknown} (payload columns: "
                    f"{sorted(payload)})"
                )
            from pyspark.sql import Column

            def value_of(v):
                return v if isinstance(v, Column) else F.lit(v)

            cols = [
                value_of(assignments[c]).alias(c)
                if c in assignments
                else F.col(c)
                for c in payload
            ]
            batch = snap.select(*cols, F.lit("upsert").alias(OP_COL))
        self.merge(batch, batch_id=batch_id, mode=mode)

    def merge_into(
        self,
        source: DataFrame,
        when_matched: str | dict = "update",
        when_not_matched: str | None = "insert",
        batch_id: str | None = None,
        mode: str = "cow",
    ) -> None:
        """The Spark SQL ``MERGE INTO target USING source ON key``
        surface, composed onto the LWW merge. ``source`` carries
        ``_key`` + ``_ts`` + payload (like a merge batch, but no
        ``_op`` — the actions decide ops):

        * ``when_matched="update"`` — matched source rows upsert;
          a dict of column->Column assignments updates ONLY those
          columns, keeping the target row's other payload (evaluated
          over the matched pair: qualify shared column names as
          ``s.<col>`` / ``t.<col>`` — a bare name both sides carry is
          ambiguous, same as Spark's own MERGE);
        * ``when_matched="delete"`` — matched source rows delete;
        * ``when_not_matched="insert"`` (default) inserts unmatched
          source rows; ``None`` drops them.

        Matching is against the CURRENT snapshot of the source's keys —
        resolved through ``scan_for_keys``, so the membership probe
        reads only bucket/Bloom-pruned files, never the table. LWW
        still applies: a matched action only lands if ``source._ts >=``
        the stored row's ``_ts`` (the merge's precombine — MERGE INTO
        does not bypass conflict semantics)."""
        if isinstance(when_matched, str) and when_matched not in (
            "update", "delete",
        ):
            raise ValueError(
                f"when_matched must be 'update', 'delete', or an "
                f"assignment dict; got {when_matched!r}"
            )
        if when_not_matched not in ("insert", None):
            raise ValueError(
                f"when_not_matched must be 'insert' or None; got "
                f"{when_not_matched!r}"
            )
        if KEY_COL not in source.columns or TS_COL not in source.columns:
            raise ValueError(
                f"merge_into source requires {KEY_COL} and {TS_COL} "
                "columns"
            )
        if self.log.latest() is None:
            # empty target: everything is unmatched
            if when_not_matched == "insert":
                self.merge(
                    source.withColumn(OP_COL, F.lit("upsert")),
                    batch_id=batch_id,
                    mode=mode,
                )
            return
        # record identity: (partition, key) on partitioned non-global
        # tables — a source row only "matches" its OWN partition's copy
        ident = [KEY_COL]
        part_ident = bool(self.partition_fields) and not self.global_index
        if part_ident:
            source = self._with_part(source)
            ident = [KEY_COL, PARTITION_COL]
        probe = self.scan_for_keys(
            source.select(KEY_COL).distinct()
        ).where(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        if part_ident:
            probe = self._with_part(probe)
        if isinstance(when_matched, dict):
            if not when_matched:
                raise ValueError(
                    "merge_into: empty assignment dict — use "
                    "when_matched='update' for full-row upserts"
                )
            bad = set(when_matched) & (
                set(self.RESERVED_COLS) | {DELETED_COL}
            )
            if bad:
                raise ValueError(
                    f"merge_into cannot assign {sorted(bad)}: record "
                    "identity / engine meta columns"
                )
            from pyspark.sql import Column

            def value_of(v):
                return v if isinstance(v, Column) else F.lit(v)

            t = probe.alias("t")
            s = source.alias("s")
            t_payload = [
                c for c in probe.columns
                if c not in (
                    KEY_COL, TS_COL, DELETED_COL, COMMIT_VER_COL,
                    PARTITION_COL,
                )
            ]
            unknown = sorted(set(when_matched) - set(t_payload))
            if unknown:
                # same no-silent-no-op rule as update_where: the select
                # below walks the TARGET's payload columns, so a typo'd
                # (or schema-evolving) assignment key would vanish
                raise ValueError(
                    f"merge_into assignments reference columns not in "
                    f"the target payload: {unknown} (target payload: "
                    f"{sorted(t_payload)}; to add columns, run a full "
                    "merge first)"
                )
            matched = t.join(s, ident).select(
                F.col(KEY_COL),
                F.col(f"s.{TS_COL}").alias(TS_COL),
                *[
                    value_of(when_matched[c]).alias(c)
                    if c in when_matched
                    else F.col(f"t.{c}")
                    for c in t_payload
                ],
                F.lit("upsert").alias(OP_COL),
            )
        else:
            op = "delete" if when_matched == "delete" else "upsert"
            matched = source.join(
                probe.select(*ident), ident, "semi"
            ).withColumn(OP_COL, F.lit(op))
        batch = matched
        if when_not_matched == "insert":
            unmatched = source.join(
                probe.select(*ident), ident, "anti"
            ).withColumn(OP_COL, F.lit("upsert"))
            batch = (
                batch.unionByName(unmatched, allowMissingColumns=True)
                if isinstance(when_matched, dict)
                else batch.unionByName(unmatched)
            )
        if PARTITION_COL in batch.columns:
            batch = batch.drop(PARTITION_COL)  # merge re-derives it
        self.merge(batch, batch_id=batch_id, mode=mode)

    def merge_partial(
        self,
        source: DataFrame,
        batch_id: str | None = None,
        mode: str = "cow",
    ) -> None:
        """Partial-update upsert — the Hudi ``PartialUpdateAvroPayload``
        / ``OverwriteNonDefaultsWithLatestAvroPayload`` surface: for
        MATCHED keys, a NULL (or absent) payload column in ``source``
        keeps the stored row's value instead of overwriting it with
        null; non-null columns overwrite. Unmatched keys insert as-is
        (absent columns null). The documented Hudi caveat carries over
        verbatim: NULL is the "keep" sentinel, so a partial update
        cannot set a column TO null — use ``merge_into`` with an
        explicit assignment for that. Composes onto ``merge_into``, so
        the membership probe is a Bloom-pruned point lookup and the LWW
        precombine still gates every action."""
        sch = self.schema()
        if sch is None:
            self.merge(
                source.withColumn(OP_COL, F.lit("upsert")),
                batch_id=batch_id,
                mode=mode,
            )
            return
        target_cols = {f.name for f in sch.fields}
        src_payload = [
            c
            for c in source.columns
            if c not in self.RESERVED_COLS and c != DELETED_COL
        ]
        extra = sorted(c for c in src_payload if c not in target_cols)
        if extra:
            raise ValueError(
                f"merge_partial source has columns not in the table "
                f"schema: {extra}; a partial update cannot evolve the "
                "schema — add columns with a full merge first"
            )
        if not src_payload:
            raise ValueError("merge_partial source has no payload columns")
        self.merge_into(
            source,
            {
                c: F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}"))
                for c in src_payload
            },
            "insert",
            batch_id,
            mode,
        )

    def merge(
        self,
        batch: DataFrame,
        batch_id: str | None = None,
        parallelism: int | None = None,
        mode: str = "cow",
    ) -> None:
        """One-pass LWW upsert+delete merge (H1/H2/Q5).

        ``batch``: payload columns + ``_key`` + ``_ts`` + ``_op``; at most
        one row per key (run LWW dedup first, operators.cdc.lww_dedup).
        ``parallelism``: the number of write tasks; given, the merge
        always runs in tasks (see ``_rewrite_units`` for the placement).

        ``mode``: ``"cow"`` (copy-on-write — rewrite affected units,
        snapshot reads stay merge-free) or ``"mor"`` (merge-on-read —
        append ONLY the batch rows as a delta file per affected unit;
        snapshot/incremental/scan resolve latest-per-key at read time,
        and ``compact()`` folds deltas back into base files). MOR writes
        are O(batch) instead of O(affected-unit data): the right trade
        for high-churn CDC where ingest dominates reads. Both modes obey
        the same LWW rule, so they can be mixed on one table.

        Losing the commit publish race recomputes the merge against the
        winner's timeline (bounded retry) — both writers' batches land
        regardless of order, same final state as any serial order that
        respects LWW.
        """
        if mode not in ("cow", "mor"):
            raise ValueError(f"merge mode must be cow|mor, got {mode!r}")
        self._with_commit_retries(
            lambda: self._merge_once(batch, batch_id, parallelism, mode)
        )

    # The one driver-collect row cap of a merge: a batch of at most this
    # many rows is collected (one JVM job) and merged on the driver when
    # its units are small too; the Bloom probe of live bootstrap files
    # collects the batch keys under the same cap.
    MERGE_COLLECT_MAX_ROWS = 200_000

    def _merge_once(
        self,
        batch: DataFrame,
        batch_id: str | None,
        parallelism: int | None,
        mode: str,
    ) -> None:
        """One merge attempt: the batch is conformed to the commit's
        payload fields and stamped (``_deleted``, ``_commit_ver``) in
        Spark, then ``_rewrite_units`` resolves each unit it touches
        against that unit's live files alone. A live metadata-only
        bootstrap file whose key Bloom may hold a batch key is rewritten
        with them, its rows routed to their units (progressive
        conversion); the other bootstrap files are carried."""
        if batch_id is not None and self.log.has_batch(batch_id):
            return  # idempotent re-run (H5)
        prev = self.log.latest()
        live = prev.files if prev else []
        boot = [f for f in live if f.kind == BOOTSTRAP_KIND]
        if boot and mode == "mor":
            # a delta lands in its key's hash bucket, but a stale
            # bootstrap copy sits in a bucket=-1 file — per-unit
            # read-time resolution could never pair them. COW merges
            # consume the stale copy; compact() converts everything.
            raise ValueError(
                f"table at {self.path} still has live bootstrap "
                "files; merge-on-read requires hash-bucketed state — "
                "use mode='cow' or compact() first"
            )
        next_ver = (prev.version + 1) if prev else 1
        b = self._stamped_batch(
            batch, F.col(OP_COL) == DELETE_OP, F.lit(next_ver)
        )
        files = live
        if boot:
            # past the cap every bootstrap file may hold a batch key
            keys = b.select(KEY_COL).limit(
                self.MERGE_COLLECT_MAX_ROWS + 1
            ).toArrow()[KEY_COL]
            if len(keys) <= self.MERGE_COLLECT_MAX_ROWS:
                files = [f for f in live if f.kind != BOOTSTRAP_KIND]
                files += bloom_hits(boot, keys.to_pylist())
        # a first write has no stored state to resolve against, so it
        # always writes base files
        self._rewrite_units(
            prev, files, self._commit_schema_json(b, next_ver), "merge",
            batch=b, batch_id=batch_id, parallelism=parallelism,
            mode=mode if prev is not None else "cow",
        )

    def _stamped_batch(self, batch: DataFrame, deleted, ver) -> DataFrame:
        """A write's batch as the kernel takes it: laid out, its payload
        conformed to the commit's fields (``_widened_fields`` of the
        batch's and the stored ones), and stamped with the ``deleted``
        and ``ver`` columns as ``_deleted`` and ``_commit_ver``."""
        stored = self.schema()
        batch = self._laid_out(batch)
        fields = self._widened_fields(
            [f for f in batch.schema.fields if f.name not in _MERGE_META],
            [f for f in stored or () if f.name not in _MERGE_META],
        )
        return _conform(batch, fields).select(
            *[f.name for f in fields],
            deleted.cast("boolean").alias(DELETED_COL),
            ver.cast("long").alias(COMMIT_VER_COL),
            *self._layout_cols(),
        )

    def _rewrite_units(self, prev, files, schema_json, operation, batch=None,
                       batch_id=None, parallelism=None, mode="cow",
                       carry=None):
        """The one unit rewrite of merge, append and compaction, through
        the per-unit kernel (``merge_kernel.merge_unit``). ``files``
        (live in ``prev``) are grouped into units: (partition, bucket),
        or the bucket across their partitions on a global-index table. A
        metadata-only bootstrap file among them is in no unit: its rows
        are read, routed by key to their units like batch rows (under
        their own ``_ts`` and version) and the file is consumed. With a
        ``batch`` (conformed, stamped, laid out) each unit it touches is
        written in the kernel ``mode``: ``"cow"`` merges it, ``"mor"``
        appends it as delta rows, ``"append"`` as base rows, reading
        nothing; without one every unit of ``files`` is compacted.
        Publishes ``carry`` (a list, or a function of the new entries,
        as ``_publish_written`` takes it; default ``live - consumed``)
        plus the new entries, and returns the new entries.

        Placement: a batch is collected with ONE ``toArrow`` of at most
        ``MERGE_COLLECT_MAX_ROWS + 1`` rows. The kernel runs on the
        driver when the batch fits the cap (a compaction has none unless
        it routes bootstrap rows), the live bytes it may read (its
        units' files; none for a plain MOR append or an append) are at
        most ``advisoryPartitionSizeInBytes`` — what adaptive execution
        would coalesce into one task anyway — and the caller gave no
        ``parallelism``. Otherwise it runs in ONE ``mapInArrow`` job:
        over the batch hash-repartitioned on the unit, or over a frame
        of the compaction's units in ``ceil(bytes / advisory)`` slices
        (at most one per unit), not shuffled, so nothing coalesces it
        into one task. Either way no row of a unit's files is
        shuffled."""
        import pyarrow as pa

        live = prev.files if prev else []
        next_ver = (prev.version + 1) if prev else 1
        if batch is None:
            mode = "compact"
        relocating = (
            mode == "mor" and self.global_index and bool(self.partition_fields)
        )
        unit_cols = (
            self._layout_cols()
            if self.partition_fields and not self.global_index
            else [BUCKET_COL]
        )
        unit_schema = ", ".join(
            f"{c} {'int' if c == BUCKET_COL else 'string'}" for c in unit_cols
        )
        boot = [f for f in files if f.kind == BOOTSTRAP_KIND]
        files_by_unit: dict[tuple, list] = {}
        for f in files:
            if f.kind == BOOTSTRAP_KIND:
                continue
            u = (f.partition, f.bucket) if len(unit_cols) > 1 else (f.bucket,)
            files_by_unit.setdefault(u, []).append(f)
        fields_c = active_fields(schema_json)
        consumed = [f.path for f in boot]
        if boot:
            routed = self._laid_out(
                _conform(
                    self._read_files(boot),
                    [StructField(n, t, True) for n, _, t in fields_c],
                ).select(*[n for n, _, _ in fields_c])
            )
            if batch is None:  # a marker row for each unit of files
                routed = routed.unionByName(
                    self.spark.createDataFrame(
                        sorted(files_by_unit), unit_schema
                    ),
                    allowMissingColumns=True,
                )
            batch = routed if batch is None else batch.unionByName(routed)

        if batch is None:  # one row per unit, no batch rows
            units = set(files_by_unit)
            rows = pa.table({c: [u[i] for u in sorted(units)]
                             for i, c in enumerate(unit_cols)})
        else:
            rows = batch.limit(self.MERGE_COLLECT_MAX_ROWS + 1).toArrow()
            units = None
            if rows.num_rows <= self.MERGE_COLLECT_MAX_ROWS:
                units = set(zip(*(rows[c].to_pylist() for c in unit_cols)))
        reads = 0
        if units is not None and (relocating or mode in ("cow", "compact")):
            reads = sum(
                f.bytes or 0 for u in units for f in files_by_unit.get(u, ())
            )
        advisory = self._advisory_bytes()
        on_driver = (
            units is not None and parallelism is None and reads <= advisory
        )
        rel = os.path.join(self.log.DATA_DIR, uuid.uuid4().hex)
        kind = "delta" if mode == "mor" else "base"
        if on_driver:
            runs = _unit_runs(
                rows.sort_by([(c, "ascending") for c in unit_cols]), unit_cols
            )
            pieces = _merge_pieces(
                runs, self.path, files_by_unit, fields_c, next_ver, mode,
                self.global_index, consumed,
            )
            new_files = [
                FileEntry(kind=kind, **e)
                for e in emit_unit_files(pieces, self.path, rel)
            ]
        else:
            ship = {
                u: [UnitFile(f.path, f.kind, f.bloom, f.partition) for f in fs]
                for u, fs in files_by_unit.items()
                if units is None or u in units
            }
            if batch is None:
                slices = min(len(units), -(-reads // max(advisory, 1)))
                df = self.spark.createDataFrame(
                    self.spark.sparkContext.parallelize(
                        sorted(units), max(1, slices)
                    ),
                    unit_schema,
                )
            else:
                cols = [F.col(c) for c in unit_cols]
                df = (
                    batch.repartition(parallelism, *cols)
                    if parallelism
                    else batch.repartition(*cols)
                ).sortWithinPartitions(*cols)
            out = df.mapInArrow(
                _merge_task(self.path, rel, unit_cols, ship, fields_c,
                            next_ver, mode, self.global_index),
                ", ".join(f"{n} {t}" for n, t in _ENTRY_COLS)
                + ", consumed boolean",
            ).collect()
            consumed += [r["path"] for r in out if r["consumed"]]
            new_files = _row_entries(
                [r for r in out if not r["consumed"]], kind
            )
        if carry is None:
            gone = set(consumed)
            carry = [f for f in live if f.path not in gone]
        return self._publish_written(
            rel, new_files, operation, prev, carry, schema_json, batch_id,
        )

    def _advisory_bytes(self) -> int:
        """``spark.sql.adaptive.advisoryPartitionSizeInBytes`` in bytes."""
        size = self.spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        )
        jvm = self.spark.sparkContext._jvm
        return jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(size)

    def _widened_fields(self, incoming, stored) -> list[StructField]:
        """In-band schema evolution, in one place: ``incoming``'s fields
        followed by the ``stored`` ones it lacks (additive union), each
        at the read-compatible supertype of its two types. Raises
        ``IncompatibleSchemaChange`` on a change with no widening."""
        s_types = {f.name: f.dataType for f in stored}
        out: list[StructField] = []
        for f in incoming:
            t = s_types.pop(f.name, f.dataType)
            a, b = f.dataType.simpleString(), t.simpleString()
            if a != b:
                target = _widened_type(a, b)
                if target is None:
                    raise IncompatibleSchemaChange(
                        f"column {f.name!r} of table at {self.path}: "
                        f"stored type {b} and incoming type {a} have no "
                        "widening; rewrite the table to change types "
                        "incompatibly"
                    )
                t = _SPARK_TYPE_BY_NAME[target]
            out.append(StructField(f.name, t, True))
        return out + [StructField(c, t, True) for c, t in s_types.items()]

    def _commit_schema_json(self, df: DataFrame, next_ver: int) -> str:
        """Committed schema after a write: active stored fields with
        types widened to ``df``'s (the write paths have already cast both
        sides to the read-compatible supertype, or raised), NEW payload
        fields appended with a collision-free physical name, and
        tombstoned fields carried so their physical names stay claimed.
        A new logical name only reuses itself as physical when no field
        (active or dropped) ever wrote that physical column — otherwise
        old files' bytes would resurface under the re-added column."""
        full = self._stored_schema()
        if full is None:
            return self._payload_schema_json(df)
        out_fields = df.schema.fields
        d_types = {f.name: f.dataType.simpleString() for f in out_fields}
        by_name = {f.name: f for f in out_fields}
        used_phys = {self._physical_of(f) for f in full.fields}
        fields: list[StructField] = []
        for f in full.fields:
            if (f.metadata or {}).get("dropped"):
                fields.append(f)
                continue
            t = d_types.get(f.name)
            if t is not None and t != f.dataType.simpleString():
                fields.append(
                    StructField(
                        f.name, _SPARK_TYPE_BY_NAME[t], True, f.metadata
                    )
                )
            else:
                fields.append(f)
        have = {f.name for f in fields}
        skip = {OP_COL, BUCKET_COL, PARTITION_COL}
        for f in out_fields:
            c = f.name
            if c in have or c in skip:
                continue
            md: dict = {}
            phys = c
            if phys in used_phys:
                phys = f"{c}_v{next_ver}"
                md = {"physical": phys}
            used_phys.add(phys)
            fields.append(StructField(c, by_name[c].dataType, True, md))
        return StructType(fields).json()

    def _apply_physical(self, df: DataFrame, schema_json: str) -> DataFrame:
        """Rename logical -> physical columns per the schema about to be
        committed, immediately before the parquet write. Identity (and a
        no-op plan-wise) for tables that never renamed."""
        import json as _json

        sch = StructType.fromJson(_json.loads(schema_json))
        m = {
            f.name: self._physical_of(f)
            for f in sch.fields
            if not (f.metadata or {}).get("dropped")
        }
        if all(m.get(c, c) == c for c in df.columns):
            return df
        return df.select(*[F.col(c).alias(m.get(c, c)) for c in df.columns])

    # Columns with table-format semantics: never renamable/droppable.
    RESERVED_COLS = frozenset(
        {KEY_COL, TS_COL, OP_COL, DELETED_COL, COMMIT_VER_COL, BUCKET_COL,
         PARTITION_COL}
    )

    def rename_column(self, old: str, new: str) -> None:
        """Metadata-only column rename (no data rewrite): the logical
        name changes in the committed schema; the physical parquet name
        — fixed at column birth — stays, so every existing file remains
        readable. The Hudi the reference delegates to rejects renames
        (SURVEY §1.3); this is the Iceberg/Delta-style column-mapping
        extension of that surface."""
        self._with_commit_retries(lambda: self._alter_once("rename", old, new))

    def drop_column(self, name: str) -> None:
        """Metadata-only column drop: the field is TOMBSTONED in the
        schema (keeps claiming its physical name) and stops being
        projected — column-pruned scans never read its bytes again; a
        later compaction rewrite physically sheds them. Re-adding the
        same logical name creates a FRESH physical column, never the old
        bytes."""
        self._with_commit_retries(lambda: self._alter_once("drop", name, None))

    def _alter_once(self, kind: str, a: str, b: str | None) -> None:
        prev = self.log.latest()
        if prev is None:
            raise ValueError(f"lake table at {self.path} has no commits")
        next_ver = prev.version + 1
        full = self._stored_schema()
        active = {
            f.name for f in full.fields if not (f.metadata or {}).get("dropped")
        }
        if a in self.RESERVED_COLS:
            raise ValueError(f"column {a!r} is reserved table metadata")
        if a in partition_source_cols(self.partition_fields):
            raise ValueError(
                f"column {a!r} is a partition field of the table at "
                f"{self.path}; partition fields cannot be renamed/dropped "
                "without a rewrite"
            )
        if a not in active:
            raise ValueError(f"column {a!r} not in table schema")
        if kind == "rename" and (b in active or b in self.RESERVED_COLS):
            raise ValueError(f"target column name {b!r} already in use")
        fields: list[StructField] = []
        for f in full.fields:
            if (f.metadata or {}).get("dropped") or f.name != a:
                fields.append(f)
                continue
            md = dict(f.metadata or {})
            md["physical"] = self._physical_of(f)
            if kind == "rename":
                fields.append(StructField(b, f.dataType, True, md))
            else:
                md["dropped"] = True
                fields.append(
                    StructField(
                        f"__dropped_v{next_ver}__{a}", f.dataType, True, md
                    )
                )
        self._publish("alter", prev.files, prev, StructType(fields).json())

    # scan_for_keys driver-collect cap; past it the lookup degrades to a
    # distributed semi-join (see scan_for_keys)
    SCAN_KEYS_MAX = 200_000

    @staticmethod
    def _payload_schema_json(df: DataFrame) -> str:
        """Stored-file schema: payload + _key/_ts/_deleted meta (never the
        transient _op/_bucket/_part layout columns)."""
        drop = {OP_COL, BUCKET_COL, PARTITION_COL}
        kept = StructType([f for f in df.schema.fields if f.name not in drop])
        return kept.json()

