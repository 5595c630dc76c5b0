"""``df.write.format("lake-table").mode("append").save(path)`` — the
batch WRITE side of the ``lake-table`` Python Data Source (the
reference's second entry point: ``df.write.format("binlog-hudi")
.mode(Append).save(path)``, BinlogHoodieDataSource.scala:19-22), via
PySpark 4's ``DataSourceArrowWriter``.

Operations (``engine.write.operation``): ``insert`` (default),
``bulk_insert`` — the H3 append surface — and ``upsert`` in
MERGE-ON-READ mode (the reference entry point's actual semantics:
``mode(Append)`` on a Hudi table upserts). A MOR upsert is a pure
delta append — each executor writes its slice's rows as delta files
and readers resolve latest-per-key per file group — so it needs no
cross-slice coordination; deletes ride the batch as ``_op='delete'``
tombstone rows, and the batch must be LWW-deduped to one row per key
first (the same ``LakeTable.merge`` contract). COPY-ON-WRITE upserts
are NOT this path: they read and rewrite whole buckets
transactionally while a Data Source writer's executors each see one
arbitrary slice — route those through ``LakeTable.merge`` or the
foreachBatch sink (streaming/sink.py). Global-index tables DO flow
through: each executor replays the engine's bounded relocation read
for its own (disjoint) keys (``_global_relocation``), dropping LWW
losers and writing old-partition tombstones — but a commit race
aborts instead of re-stamping, because the loser's relocation plan
was computed against a timeline the winner moved.
``mode("overwrite")`` raises toward
``LakeTable.insert_overwrite_table`` (a replace commit is a planned
table operation, not a blind re-save).

Execution model (scale posture): executors do ALL data work — each
Spark task assigns buckets with a JVM-exact Python xxhash64
(table/pyhash.py), renders partition paths (the same ``col:transform``
specs as ``keygen._partition_part``), writes final-layout parquet
directly into the commit's data subdir, and computes its own manifest
entries (rows, key min/max, Bloom, footer col-stats) from data it
already holds in memory. ``commit()`` on the driver is METADATA-ONLY:
it assembles the entries into one commit-log publish through the
table's atomic finalizer. No staging rewrite, no driver data scan, no
second pass — the only data rewrite is the rare commit-race re-stamp of
the ``_commit_ver`` column (executors stamp the version planned at
write start; a concurrent writer landing first moves the timeline, and
the loser's files are column-rewritten driver-side before retrying —
bounded by this batch's own size, and only on an actual race).

Schema: the table's persisted config (buckets, partition fields,
global index) wins and conflicting options error, as everywhere else.
Schema EVOLUTION does not flow through this path — new or retyped
columns raise toward the LakeTable API (widening needs the reconcile
rules; a concurrent schema change during the write is detected at
commit and raises rather than committing files under a stale mapping).
Missing payload columns are fine (readers null-backfill). Renamed
tables are honored: files store PHYSICAL names per the committed
column mapping.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql.datasource import DataSourceArrowWriter, WriterCommitMessage

PATH_OPT = "path"
OPERATION_OPT = "engine.write.operation"
MODE_OPT = "engine.write.mode"
BATCH_ID_OPT = "engine.write.batch.id"
BUCKETS_OPT = "engine.write.buckets"
PARTITION_FIELDS_OPT = "engine.write.partition.fields"
GLOBAL_INDEX_OPT = "engine.write.global.index"

_COMMIT_RETRIES = 5


def _strftime_of(java_fmt: str) -> str:
    """Map the day-or-coarser subset of Java date patterns the
    partition specs allow to strftime. STRICT: only the pattern widths
    whose strftime rendering is byte-identical to the JVM's are
    accepted (yyyy→%Y, yy→%y, MM→%m, dd→%d + separators); unpadded
    widths like ``M``/``d``/``y`` render differently ("3" vs "03") and
    would split one logical partition across two differently-named
    directories between the engine and format write paths — refuse
    them here rather than diverge silently."""
    out, i = [], 0
    exact = {("y", 4): "%Y", ("y", 2): "%y", ("M", 2): "%m",
             ("d", 2): "%d"}
    while i < len(java_fmt):
        ch = java_fmt[i]
        j = i
        while j < len(java_fmt) and java_fmt[j] == ch:
            j += 1
        n = j - i
        if ch in "yMd":
            code = exact.get((ch, n))
            if code is None:
                raise ValueError(
                    f"partition format {java_fmt!r}: pattern {ch * n!r} "
                    "has no strftime rendering identical to the JVM's "
                    "— the format-writer path supports yyyy/yy/MM/dd "
                    "only (use the LakeTable API for other widths)"
                )
            out.append(code)
        elif ch in "-/. ":
            out.append(ch * n)
        else:
            raise ValueError(
                f"partition format {java_fmt!r}: unsupported pattern "
                f"char {ch!r} in the format-writer path (day-or-coarser "
                "y/M/d only)"
            )
        i = j
    return "".join(out)


class PartitionRenderer:
    """Worker-side replay of ``keygen.partition_path_expr``: same
    ``col[:transform[:fmt]]`` grammar, same null -> "default", same
    "/"-joined multi-field paths. Sessions pin UTC, so tz-aware
    timestamps render through UTC here too."""

    def __init__(self, specs: list[str]):
        from hudi_spark_plus_spark.table.keygen import (
            _MS_PER_DAY,
            _US_PER_DAY,
            validate_partition_specs,
        )

        validate_partition_specs(specs)
        self.parts = []
        for spec in specs:
            bits = spec.split(":", 2)
            col = bits[0]
            transform = bits[1] if len(bits) > 1 else None
            fmt = _strftime_of(bits[2] if len(bits) > 2 else "yyyy-MM-dd")
            per_day = None
            if transform == "epochmillis":
                per_day = _MS_PER_DAY
            elif transform == "epochmicros":
                per_day = _US_PER_DAY
            self.parts.append((col, transform, fmt, per_day))

    @property
    def source_cols(self) -> list[str]:
        return [c for c, _, _, _ in self.parts]

    @staticmethod
    def _simple(v) -> str:
        import datetime

        if v is None:
            return "default"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, (str, int)):
            return str(v)
        if isinstance(v, datetime.date) and not isinstance(
            v, datetime.datetime
        ):
            return v.isoformat()
        raise ValueError(
            f"unsupported simple partition value type {type(v).__name__} "
            "in the format-writer path"
        )

    def _one(self, v, transform, fmt, per_day) -> str:
        import datetime

        if transform is None:
            return self._simple(v)
        if v is None:
            return "default"
        if per_day is not None:  # epochmillis / epochmicros
            day = int(v) // per_day  # python floor div: exact, all longs
            d = datetime.date(1970, 1, 1) + datetime.timedelta(days=day)
            return d.strftime(fmt)
        # col:timestamp — datetime/date rendered in UTC
        if isinstance(v, datetime.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            return v.strftime(fmt)
        if isinstance(v, datetime.date):
            return v.strftime(fmt)
        raise ValueError(
            f"col:timestamp partition source must be a timestamp/date, "
            f"got {type(v).__name__}"
        )

    def render(self, arrow_table) -> list[str]:
        cols = [
            arrow_table[c].to_pylist() if c in arrow_table.column_names
            else None
            for c in self.source_cols
        ]
        missing = [
            c for c, vals in zip(self.source_cols, cols) if vals is None
        ]
        if missing:
            raise ValueError(
                f"partitioned table write is missing partition "
                f"column(s) {missing}"
            )
        n = arrow_table.num_rows
        out = []
        for i in range(n):
            rendered = [
                self._one(vals[i], t, fmt, per_day)
                for vals, (_c, t, fmt, per_day) in zip(cols, self.parts)
            ]
            out.append("/".join(rendered))
        return out


@dataclass
class LakeWriterMessage(WriterCommitMessage):
    entries: list = field(default_factory=list)
    rows: int = 0
    # the _commit_ver value this task stamped into its files; commit()
    # re-stamps any message whose stamp lost the version race
    stamped: int = 0


class LakeTableBatchWriter(DataSourceArrowWriter):
    def __init__(self, options, schema, overwrite: bool):
        from hudi_spark_plus_spark.table.commit_log import CommitLog
        from hudi_spark_plus_spark.table.keygen import (
            BUCKET_COL,
            KEY_COL,
            OP_COL,
            PARTITION_COL,
            TS_COL,
        )
        from hudi_spark_plus_spark.table.lake_table import (
            COMMIT_VER_COL,
            DEFAULT_BUCKETS,
            DELETED_COL,
        )
        from pyspark.sql.types import LongType, BooleanType, StructField, StructType

        if overwrite:
            raise ValueError(
                "lake-table format writes support mode('append') only; "
                "overwriting is a replace commit — use "
                "LakeTable.insert_overwrite / insert_overwrite_table"
            )
        path = options.get(PATH_OPT)
        if not path:
            raise ValueError(
                "lake-table sink requires .option('path', <table dir>) "
                "or .save(<table dir>)"
            )
        self.table_path = path
        op = options.get(OPERATION_OPT, "insert")
        if op not in ("insert", "bulk_insert", "upsert"):
            raise ValueError(
                f"unsupported {OPERATION_OPT} {op!r} for the lake-table "
                "format writer; supported: insert, bulk_insert, upsert"
            )
        wmode = options.get(MODE_OPT, "mor" if op == "upsert" else "cow")
        if op == "upsert" and wmode != "mor":
            # a COW upsert reads and rewrites whole buckets
            # transactionally; Data Source executors each hold one
            # arbitrary slice of the batch. MERGE-ON-READ upserts are
            # pure delta appends, so THOSE flow through this path;
            # copy-on-write routes to the engine merge.
            raise ValueError(
                "format-level upserts are merge-on-read only "
                f"({MODE_OPT}=mor); copy-on-write upserts go through "
                "LakeTable.merge or the foreachBatch sink"
            )
        self.operation = op
        self.batch_id = options.get(BATCH_ID_OPT)
        from hudi_spark_plus_spark.table.merge_kernel import active_fields

        names = {f.name for f in schema.fields}
        if KEY_COL not in names or TS_COL not in names:
            raise ValueError(
                f"lake-table writes require '{KEY_COL}' and '{TS_COL}' "
                "columns (operators.cdc prepare helpers build them)"
            )
        forbidden = names & {PARTITION_COL}
        if OP_COL in names and op != "upsert":
            forbidden = forbidden | {OP_COL}
        if forbidden:
            raise ValueError(
                f"columns {sorted(forbidden)} are engine layout/op "
                "columns for this operation; deletes ride an upsert's "
                f"'{OP_COL}' column (engine.write.operation=upsert)"
            )
        # JVM-speed bucketing fast path: a batch may carry a
        # precomputed `_bucket` column (keygen.bucket_expr, computed
        # JVM-side before the write) — the executor then skips the
        # per-key Python hash. Values are range-checked in full and
        # hash-verified on a per-file sample; a wrong assignment would
        # break bucket-pruned merges, so trust is spot-checked.
        self.accept_bucket = BUCKET_COL in names
        names = names - {OP_COL, BUCKET_COL}  # transient, never stored
        log = CommitLog(path)
        latest = log.latest()
        self.version_guess = (latest.version + 1) if latest else 1

        def _opt_conflict(kind, persisted, requested):
            raise ValueError(
                f"table at {path} was created with {kind}={persisted}; "
                f"writer options requested {requested}"
            )

        o_buckets = options.get(BUCKETS_OPT)
        o_pf = options.get(PARTITION_FIELDS_OPT)
        o_pf = [s for s in (o_pf or "").split(",") if s] or None
        o_gi = options.get(GLOBAL_INDEX_OPT)
        o_gi = (
            None if o_gi is None else str(o_gi).lower() in ("true", "1")
        )
        if latest is not None:
            self.buckets = latest.buckets
            if self.buckets is None:
                raise ValueError(
                    f"table at {path} has no persisted bucket count; "
                    "write through LakeTable(buckets=...) once first"
                )
            if op == "upsert" and any(
                f.kind == "bootstrap" for f in latest.files
            ):
                # format upserts append hash-bucket deltas, but a stale
                # bootstrap copy sits in a bucket=-1 file — read-time
                # resolution could never pair them (same restriction as
                # LakeTable.merge(mode='mor'); see table/bootstrap.py)
                raise ValueError(
                    f"table at {path} still has live metadata-only "
                    "bootstrap files; format upserts require "
                    "hash-bucketed state — LakeTable.merge(mode='cow') "
                    "or compact() first"
                )
            if o_buckets is not None and int(o_buckets) != self.buckets:
                _opt_conflict("buckets", self.buckets, o_buckets)
            self.partition_fields = latest.partition_fields or []
            if o_pf is not None and o_pf != self.partition_fields:
                _opt_conflict(
                    "partition_fields", self.partition_fields, o_pf
                )
            self.global_index = bool(latest.global_index)
            if o_gi is not None and o_gi != self.global_index:
                _opt_conflict("global_index", self.global_index, o_gi)
        else:
            self.buckets = (
                int(o_buckets) if o_buckets is not None else DEFAULT_BUCKETS
            )
            self.partition_fields = o_pf or []
            self.global_index = bool(o_gi)
        # schema plan: existing stored schema wins; this path refuses
        # evolution (new or retyped columns) — LakeTable applies the
        # widening rules
        if latest is not None and latest.schema_json:
            import json as _json

            stored = StructType.fromJson(_json.loads(latest.schema_json))
            active = {
                f.name: f
                for f in stored.fields
                if not (f.metadata or {}).get("dropped")
            }
            bad_new = [c for c in names if c not in active]
            if bad_new:
                raise ValueError(
                    f"columns {sorted(bad_new)} are not in the table "
                    "schema; schema evolution does not flow through the "
                    "format writer — use LakeTable.insert/merge"
                )
            retyped = [
                f.name
                for f in schema.fields
                if f.name in active
                and f.dataType.simpleString()
                != active[f.name].dataType.simpleString()
            ]
            if retyped:
                raise ValueError(
                    f"columns {sorted(retyped)} change type; widening "
                    "goes through LakeTable.insert/merge"
                )
            self.schema_json = latest.schema_json
            self.physical = {
                f.name: (f.metadata or {}).get("physical", f.name)
                for f in stored.fields
                if not (f.metadata or {}).get("dropped")
            }
        else:
            fields = [
                f for f in schema.fields
                if f.name not in (OP_COL, BUCKET_COL)
            ]
            if DELETED_COL not in names:
                fields.append(StructField(DELETED_COL, BooleanType(), True))
            if COMMIT_VER_COL not in names:
                fields.append(StructField(COMMIT_VER_COL, LongType(), True))
            self.schema_json = StructType(fields).json()
            self.physical = {f.name: f.name for f in fields}
        # Global-index upserts (key-only identity): each executor runs
        # the engine's bounded relocation read for ITS slice — the
        # batch is one-row-per-key, so slices own disjoint keys and the
        # per-bucket reads compose without coordination. The read pins
        # the version planned here; a commit race ABORTS (no restamp):
        # the loser's drop/tombstone decisions were made against a
        # timeline the winner moved, and only the engine merge can
        # recompute them.
        self.plan_version = self.version_guess - 1
        self.active_fields = (
            active_fields(latest.schema_json)
            if latest is not None and latest.schema_json
            else None
        )
        # one data subdir for the whole write (generated driver-side,
        # materialized lazily by the first task that writes into it)
        self.subdir_rel = os.path.join(log.DATA_DIR, uuid.uuid4().hex)

    # -- executor side ------------------------------------------------------

    def write(self, iterator):
        return self._write_core(iterator, self.version_guess, self.subdir_rel)

    def _write_core(self, iterator, version_guess: int, subdir_rel: str):
        import pyarrow as pa

        from hudi_spark_plus_spark.table.commit_log import FileEntry
        from hudi_spark_plus_spark.table.keygen import KEY_COL, OP_COL
        from hudi_spark_plus_spark.table.lake_table import (
            COMMIT_VER_COL,
            DELETED_COL,
            emit_unit_files,
        )
        from hudi_spark_plus_spark.table.pyhash import bucket_of

        batches = list(iterator)
        if not batches:
            return LakeWriterMessage([], 0, version_guess)
        from hudi_spark_plus_spark.table.keygen import BUCKET_COL

        t = pa.Table.from_batches(batches)
        keys = t[KEY_COL].to_pylist()
        if any(k is None for k in keys):
            raise ValueError(f"{KEY_COL} must be non-null")
        if BUCKET_COL in t.column_names:
            # precomputed JVM-side bucketing (see __init__ note):
            # full range check, per-slice sample hash verification
            bucket_ids = t[BUCKET_COL].to_pylist()
            if any(
                b is None or not (0 <= b < self.buckets)
                for b in bucket_ids
            ):
                raise ValueError(
                    f"precomputed {BUCKET_COL} values must be in "
                    f"[0, {self.buckets})"
                )
            for k, b in list(zip(keys, bucket_ids))[:64]:
                if bucket_of(k, self.buckets) != b:
                    raise ValueError(
                        f"precomputed {BUCKET_COL} disagrees with "
                        f"pmod(xxhash64({KEY_COL}), {self.buckets}) at "
                        f"key {k!r} — compute it with keygen.bucket_expr"
                    )
            t = t.drop_columns([BUCKET_COL])
        else:
            bucket_ids = [bucket_of(k, self.buckets) for k in keys]
        parts = (
            PartitionRenderer(self.partition_fields).render(t)
            if self.partition_fields
            else None
        )
        if self.operation == "upsert" and OP_COL in t.column_names:
            # deletes ride the batch as _op='delete' -> tombstone rows
            # (the merge envelope contract); _op itself is transient
            import pyarrow.compute as pc

            dead = pc.equal(
                pc.fill_null(t[OP_COL], "upsert"), pa.scalar("delete")
            )
            t = t.drop_columns([OP_COL])
            if DELETED_COL in t.column_names:
                t = t.drop_columns([DELETED_COL])
            t = t.append_column(DELETED_COL, dead)
        if DELETED_COL not in t.column_names:
            t = t.append_column(
                DELETED_COL, pa.array([False] * t.num_rows, pa.bool_())
            )
        if COMMIT_VER_COL not in t.column_names:
            t = t.append_column(
                COMMIT_VER_COL,
                pa.array([version_guess] * t.num_rows, pa.int64()),
            )
        tombs: dict = {}
        if (
            self.operation == "upsert"
            and self.global_index
            and self.partition_fields
            and self.active_fields
        ):
            keep, tombs = self._global_relocation(
                t, bucket_ids, parts, version_guess
            )
            if not all(keep):
                t = t.filter(pa.array(keep, pa.bool_()))
                keys = [k for k, m in zip(keys, keep) if m]
                bucket_ids = [b for b, m in zip(bucket_ids, keep) if m]
                parts = [p for p, m in zip(parts, keep) if m]
        t = t.rename_columns(
            [self.physical.get(c, c) for c in t.column_names]
        )
        groups: dict = {}
        for i, b in enumerate(bucket_ids):
            groups.setdefault(
                (parts[i] if parts is not None else None, b), []
            ).append(i)
        kind = "delta" if self.operation == "upsert" else "base"

        def by_unit(kv):
            return str(kv[0][0]), kv[0][1]

        pieces = [
            (part, b, t.take(idxs))
            for (part, b), idxs in sorted(groups.items(), key=by_unit)
        ] + [
            (
                part,
                b,
                sub.rename_columns(
                    [self.physical.get(c, c) for c in sub.column_names]
                ),
            )
            for (part, b), sub in sorted(tombs.items(), key=by_unit)
        ]
        # merge-on-read upserts append DELTA files: readers resolve
        # latest-per-key per file group, exactly as after
        # LakeTable.merge(mode="mor")
        entries = [
            FileEntry(kind=kind, **e)
            for e in emit_unit_files(pieces, self.table_path, subdir_rel)
        ]
        return LakeWriterMessage(entries, t.num_rows, version_guess)

    def _global_relocation(self, t, bucket_ids, parts, version_guess):
        """The engine's global-index (key-only identity) merge-on-read
        rule (``merge_kernel.relocate``, which ``LakeTable.merge`` runs
        too), per executor slice: read the slice's buckets' live files at
        the PLANNED version that may hold one of its keys (Bloom-pruned),
        drop the batch rows that lose last-write-wins, and tombstone
        each moved winner's old-partition copy. Slices own disjoint keys
        (one-row-per-key batch contract), so per-slice decisions
        compose. Returns (keep mask, {(old partition, bucket) ->
        tombstone table})."""
        import pyarrow as pa

        from hudi_spark_plus_spark.table.commit_log import CommitLog
        from hudi_spark_plus_spark.table.keygen import KEY_COL, PARTITION_COL
        from hudi_spark_plus_spark.table.merge_kernel import (
            bloom_hits,
            read_unit_files,
            relocate,
        )
        from hudi_spark_plus_spark.table.pyhash import bucket_of

        keys = t[KEY_COL].to_pylist()
        sbuckets = set(bucket_ids)
        cand = [
            f
            for f in CommitLog(self.table_path).live_files(self.plan_version)
            if f.bucket in sbuckets
        ]
        stored = read_unit_files(
            self.table_path, bloom_hits(cand, keys), self.active_fields, True
        )
        if stored is None:
            return [True] * len(keys), {}
        keep, tombs = relocate(
            stored,
            t.append_column(PARTITION_COL, pa.array(parts, pa.string())),
            version_guess,
        )
        groups: dict = {}
        for i, (k, p) in enumerate(
            zip(tombs[KEY_COL].to_pylist(), tombs[PARTITION_COL].to_pylist())
        ):
            groups.setdefault((p, bucket_of(k, self.buckets)), []).append(i)
        tombs = tombs.drop_columns([PARTITION_COL])
        return keep.to_pylist(), {
            grp: tombs.take(idxs) for grp, idxs in groups.items()
        }

    # -- driver side (metadata only) ----------------------------------------

    def _restamp(self, entries, version: int) -> None:
        """Commit-race loser: rewrite the staged files' _commit_ver
        column to the new version (bounded by this batch's own
        output; only runs on an actual race)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from hudi_spark_plus_spark.table.lake_table import COMMIT_VER_COL

        phys = self.physical.get(COMMIT_VER_COL, COMMIT_VER_COL)
        for e in entries:
            absf = os.path.join(self.table_path, e.path)
            t = pq.read_table(absf)
            i = t.column_names.index(phys)
            t = t.set_column(
                i, phys, pa.array([version] * t.num_rows, pa.int64())
            )
            pq.write_table(t, absf)
            e.bytes = os.path.getsize(absf)

    def _discard_entries(self, msgs) -> None:
        """Unlink the files of the commit messages ``msgs`` (a failed
        task leaves None)."""
        for m in msgs:
            if m is None:
                continue
            for e in m.entries:
                try:
                    os.unlink(os.path.join(self.table_path, e.path))
                except FileNotFoundError:
                    pass

    def commit(self, messages):
        self._commit_core(
            messages,
            self.batch_id,
            discard=lambda: shutil.rmtree(
                os.path.join(self.table_path, self.subdir_rel),
                ignore_errors=True,
            ),
        )

    def _commit_core(self, messages, batch_id, discard):
        from hudi_spark_plus_spark.table.commit_log import (
            CommitConflict,
            CommitLog,
        )

        log = CommitLog(self.table_path)
        msgs = [m for m in messages if m is not None and m.entries]
        for attempt in range(_COMMIT_RETRIES + 1):
            # re-checked on EVERY retry, not just up front: a
            # concurrent replay of the same batch id that wins the
            # version race must turn the loser's retry into the H5
            # no-op, never a second commit of the same batch id
            if batch_id is not None and log.has_batch(batch_id):
                discard()
                return  # idempotent re-run (H5)
            latest = log.latest()
            next_ver = (latest.version + 1) if latest else 1
            if latest is not None and self._schema_conflicts(latest):
                raise ValueError(
                    f"table at {self.table_path} changed schema or was "
                    "created concurrently with this write; the staged "
                    "files follow a stale column mapping — re-run the "
                    "write"
                )
            stale = [m for m in msgs if m.stamped != next_ver]
            if stale and (
                self.operation == "upsert"
                and self.global_index
                and self.partition_fields
            ):
                # the loser's per-slice drop/tombstone decisions were
                # computed against a timeline the winner moved; only
                # the engine merge can recompute them — abort loudly
                self._discard_entries(msgs)
                raise ValueError(
                    f"global-index upsert on {self.table_path} lost a "
                    "commit race; its relocation plan is stale — re-run "
                    "the write (or route concurrent global upserts "
                    "through LakeTable.merge)"
                )
            for m in stale:
                self._restamp(m.entries, next_ver)
                m.stamped = next_ver
            entries = [e for m in msgs for e in m.entries]
            carry = latest.files if latest else []
            try:
                log.commit(
                    # "merge" is the timeline name for upsert+delete
                    # commits (matches LakeTable.merge history rows)
                    "merge" if self.operation == "upsert"
                    else self.operation,
                    carry + entries,
                    batch_id=batch_id,
                    schema_json=self.schema_json,
                    buckets=self.buckets,
                    expected_version=next_ver,
                    partition_fields=self.partition_fields or None,
                    global_index=self.global_index or None,
                )
                return
            except CommitConflict:
                if attempt == _COMMIT_RETRIES:
                    raise
                log.invalidate()

    def _schema_conflicts(self, latest) -> bool:
        """A concurrent commit may legitimately carry our exact planned
        schema (another writer of the same shape); only a DIFFERENT
        schema means our files' column mapping went stale."""
        return latest.schema_json != self.schema_json

    def abort(self, messages):
        shutil.rmtree(
            os.path.join(self.table_path, self.subdir_rel),
            ignore_errors=True,
        )


STREAM_ID_OPT = "engine.write.stream.id"

try:  # PySpark >= 4.1
    from pyspark.sql.datasource import DataSourceStreamArrowWriter
except ImportError:  # pragma: no cover - older API surface
    DataSourceStreamArrowWriter = None


if DataSourceStreamArrowWriter is not None:

    class LakeTableStreamWriter(
        LakeTableBatchWriter, DataSourceStreamArrowWriter
    ):
        """``df.writeStream.format("lake-table")`` — micro-batch
        appends (insert / bulk_insert / MOR upsert, same operation
        rules as the batch writer) with exactly-once semantics: every
        micro-batch commits under batch id
        ``<engine.write.stream.id>-<batchId>`` (default stream id
        "stream"; two concurrent streaming queries into one table must
        set distinct ids), so a crash-replayed micro-batch is the H5
        idempotent no-op. COW upsert streams go through the
        foreachBatch sink (streaming/sink.py) — same reasoning as the
        batch writer's guard. Unlike the batch writer, each task
        re-reads the commit log for its version stamp AND re-pins the
        relocation plan (version + field mapping), and writes into its
        own data subdir, because one writer instance serves every
        micro-batch of the query."""

        def __init__(self, options, schema, overwrite: bool = False):
            super().__init__(options, schema, overwrite)
            self.stream_id = options.get(STREAM_ID_OPT, "stream")

        def write(self, iterator):
            from hudi_spark_plus_spark.table.merge_kernel import (
                active_fields,
            )
            from hudi_spark_plus_spark.table.commit_log import CommitLog

            log = CommitLog(self.table_path)
            latest = log.latest()
            guess = (latest.version + 1) if latest else 1
            # ONE writer instance serves every micro-batch: the
            # relocation plan (version + active field mapping) frozen
            # at query start would go stale from batch 1 on — re-pin
            # both to the timeline this batch is actually written
            # against (global-index upserts abort on a commit race, so
            # a plan raced stale between here and commit still cannot
            # land)
            self.plan_version = guess - 1
            if latest is not None and latest.schema_json:
                self.active_fields = active_fields(latest.schema_json)
            subdir = os.path.join(log.DATA_DIR, uuid.uuid4().hex)
            return self._write_core(iterator, guess, subdir)

        def commit(self, messages, batchId: int):
            self._commit_core(
                messages,
                f"{self.stream_id}-{batchId}",
                discard=lambda: self._discard_entries(messages),
            )

        def abort(self, messages, batchId: int):
            self._discard_entries(messages)
