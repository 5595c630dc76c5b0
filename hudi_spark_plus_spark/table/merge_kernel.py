"""The per-unit merge kernel: Hudi's ``HoodieMergeHandle`` for this
engine's (partition, bucket) units.

Every copy of a record lives in one resolution unit by construction:
its (partition, bucket) on a partitioned table, its bucket otherwise,
and its bucket across ALL partitions on a global-index table. So a
merge never has to move stored rows between machines: it resolves each
unit the batch touches against that unit's live files alone, in one
pass, wherever the unit's batch rows are (the driver for a small batch,
a ``mapInArrow`` task otherwise — ``LakeTable._rewrite_units`` picks).

``merge_unit`` is the kernel. For one unit it

* reads the unit's live files with pyarrow (a multi-file, delta-free
  copy-on-write unit skips each file whose key Bloom misses every
  batch key of the unit),
* projects them by physical name onto the commit's logical fields and
  conforms the batch rows to the same fields,
* resolves them with the one LWW rule (``resolve_latest_arrow``),
* and returns the rows to write plus the paths it consumed.

Merge-on-read appends the conformed batch rows as delta rows and reads
nothing, except on a global-index table, where ``relocate`` drops batch
losers and tombstones each moved record's old-partition copy. The
``lake-table`` format writer runs the same ``relocate``. Compaction is
the merge of a unit with no batch rows: every file of the unit is read,
resolved and consumed, tombstones kept, each row under its own commit
version.

The module also owns the two Arrow helpers every worker-side reader
shares: ``project_logical`` (physical file -> logical columns, with the
one Spark -> Arrow type map) and ``resolve_latest_arrow``.
"""

from __future__ import annotations

import os
from collections import namedtuple

from hudi_spark_plus_spark.table.keygen import KEY_COL, PARTITION_COL, TS_COL

DELETED_COL = "_deleted"
COMMIT_VER_COL = "_commit_ver"

# The manifest-entry fields the kernel reads: what a merge ships to its
# write tasks per live file.
UnitFile = namedtuple("UnitFile", "path kind bloom partition")


def active_fields(schema_json: str) -> list[tuple]:
    """[(logical name, physical name, DataType)] of a committed schema's
    active (non-dropped) fields — the column mapping of
    ``LakeTable.schema`` / ``_physical_of``, parsed without a session
    (workers and the driver both use this)."""
    import json

    from pyspark.sql.types import StructType

    out = []
    for f in StructType.fromJson(json.loads(schema_json)).fields:
        meta = f.metadata or {}
        if not meta.get("dropped"):
            out.append((f.name, meta.get("physical", f.name), f.dataType))
    return out


def project_logical(t, fields):
    """Physical pyarrow table -> logical columns in schema order:
    ``fields`` is ``[(logical, physical, DataType)]``; renames applied,
    columns the file predates back-filled with typed nulls, every column
    cast to its field's Arrow type (``to_arrow_type``, the complete
    Spark -> Arrow map: widened ints, decimals, timestamps, nested)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    cols, names = [], []
    for logical, physical, dtype in fields:
        at = to_arrow_type(dtype)
        if physical in t.column_names:
            col = t[physical]
            if col.type != at:
                col = col.cast(at)
        else:
            col = pa.nulls(t.num_rows, at)
        cols.append(col)
        names.append(logical)
    return pa.table(cols, names=names)


def resolve_latest_arrow(t):
    """The one LWW rule, in pyarrow, over ONE resolution unit: keep each
    key's winning row by ``_ts`` desc (nulls last), then ``_commit_ver``
    desc, then live before tombstone — ``LakeTable._resolve_latest``'s
    order. The caller guarantees the table holds every copy of each key
    it contains, so this is exact, and its size is bounded by the unit,
    never the table."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if t.num_rows <= 1:
        return t
    ver = (
        pc.fill_null(t[COMMIT_VER_COL], 0)
        if COMMIT_VER_COL in t.column_names
        else pa.array([0] * t.num_rows, pa.int64())
    )
    dead = (
        pc.fill_null(t[DELETED_COL], False)
        if DELETED_COL in t.column_names
        else pa.array([False] * t.num_rows, pa.bool_())
    )
    work = t.append_column("__ver", ver).append_column("__dead", dead)
    order = pc.sort_indices(
        work,
        sort_keys=[
            (KEY_COL, "ascending"),
            (TS_COL, "descending"),
            ("__ver", "descending"),
            ("__dead", "ascending"),
        ],
    )
    work = work.take(order).append_column(
        "__row", pa.array(range(t.num_rows), pa.int64())
    )
    first = work.group_by(KEY_COL).aggregate([("__row", "min")])
    return work.take(first["__row_min"]).drop_columns(
        ["__ver", "__dead", "__row"]
    )


def bloom_hits(files, keys):
    """The files of ``files`` (manifest entries or ``UnitFile`` s) whose
    key Bloom may hold one of ``keys``; a file without a Bloom always
    may."""
    from hudi_spark_plus_spark.table.bloom import KeyBloom, hash_pairs

    pairs = None
    out = []
    for f in files:
        if f.bloom:
            if pairs is None:
                pairs = hash_pairs(keys)
            bloom = KeyBloom.from_b64(f.bloom)
            if not len(pairs) or not bloom.might_contain_any(pairs):
                continue
        out.append(f)
    return out


def _filled(t, col, value):
    import pyarrow.compute as pc

    return t.set_column(
        t.column_names.index(col), col, pc.fill_null(t[col], value)
    )


def read_unit_files(table_path, files, fields, partitioned):
    """The stored rows of ``files`` on the logical ``fields``, tagged
    with their file's partition (``PARTITION_COL``) on a partitioned
    table. A commit version the file lacks (it predates versioning)
    reads as 0. None when ``files`` is empty."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    parts = []
    for f in files:
        raw = pq.read_table(os.path.join(table_path, f.path))
        t = project_logical(raw, fields)
        if COMMIT_VER_COL in t.column_names:
            t = _filled(t, COMMIT_VER_COL, 0)
        if partitioned:
            t = t.append_column(
                PARTITION_COL,
                pa.array([f.partition] * t.num_rows, pa.string()),
            )
        parts.append(t)
    if not parts:
        return None
    return parts[0] if len(parts) == 1 else pa.concat_tables(parts)


def relocate(stored, batch, next_ver):
    """The global-index merge-on-read rule (key-only identity over a
    partitioned table), for batch rows whose every stored copy is in
    ``stored`` (both tagged with ``PARTITION_COL``). Returns
    ``(keep, tombs)``: ``keep`` masks the batch rows that win LWW
    against the key's latest stored copy (an appended loser would win a
    partition-pruned read of its own partition), and ``tombs`` holds a
    relocation tombstone for each winner whose latest stored copy is
    live in ANOTHER partition — that copy's own payload with
    ``_deleted = true`` and ``_commit_ver = next_ver``, written into its
    old partition so pruned reads there stay right without consulting
    any other partition."""
    import pyarrow as pa
    import pyarrow.compute as pc

    stored = stored.filter(
        pc.is_in(stored[KEY_COL], value_set=batch[KEY_COL])
    )
    cur = resolve_latest_arrow(stored)
    src = "__batch"
    order = [KEY_COL, TS_COL, COMMIT_VER_COL, DELETED_COL]
    both = pa.concat_tables(
        [
            cur.select(order).append_column(
                src, pa.array([False] * cur.num_rows, pa.bool_())
            ),
            pa.table(
                [batch[c].cast(cur.schema.field(c).type) for c in order]
                + [pa.array([True] * batch.num_rows, pa.bool_())],
                names=order + [src],
            ),
        ]
    )
    won = resolve_latest_arrow(both)
    won = won.filter(won[src])[KEY_COL]
    keep = pc.is_in(batch[KEY_COL], value_set=won)
    moved = cur.filter(
        pc.and_(
            pc.invert(cur[DELETED_COL]),
            pc.is_in(cur[KEY_COL], value_set=won),
        )
    )
    new_part = dict(
        zip(batch[KEY_COL].to_pylist(), batch[PARTITION_COL].to_pylist())
    )
    old_part = zip(
        moved[KEY_COL].to_pylist(), moved[PARTITION_COL].to_pylist()
    )
    moved = moved.filter(
        pa.array([new_part[k] != p for k, p in old_part], pa.bool_())
    )
    n = moved.num_rows
    tombs = moved.set_column(
        moved.column_names.index(DELETED_COL),
        DELETED_COL,
        pa.array([True] * n, pa.bool_()),
    ).set_column(
        moved.column_names.index(COMMIT_VER_COL),
        COMMIT_VER_COL,
        pa.array([next_ver] * n, pa.int64()),
    )
    return keep, tombs


def merge_unit(table_path, files, batch, fields, next_ver, mor, global_index):
    """Resolve one unit: ``files`` are its live entries (anything with
    ``path``, ``kind``, ``bloom`` and ``partition``), ``batch`` its batch
    rows on the commit's logical ``fields`` (plus ``PARTITION_COL`` on a
    partitioned table), already stamped with ``_deleted`` and
    ``_commit_ver = next_ver``. Returns ``(rows, consumed paths)``;
    ``rows`` carries ``PARTITION_COL`` on a partitioned table, each row
    in its own partition. Batch rows carry the newest commit version, so
    a batch row beats its stored copy iff its ``_ts`` is not older (a
    null ``_ts`` is older than any other).

    ``batch`` None compacts the unit: every file is read and consumed
    (no Bloom skip), tombstones are kept and each row keeps its own
    commit version."""
    import pyarrow as pa

    if batch is None:
        partitioned = files[0].partition is not None
        stored = read_unit_files(table_path, files, fields, partitioned)
        return resolve_latest_arrow(stored), [f.path for f in files]
    partitioned = PARTITION_COL in batch.column_names
    if mor:
        # delta rows in key order, as a resolved unit's are: the file a
        # unit's rows make does not depend on their arrival order
        stored = None
        if global_index and partitioned:
            hit = bloom_hits(files, batch[KEY_COL].to_pylist())
            stored = read_unit_files(table_path, hit, fields, partitioned)
        if stored is not None:
            keep, tombs = relocate(stored, batch, next_ver)
            batch = pa.concat_tables([batch.filter(keep), tombs])
        return batch.sort_by(KEY_COL), []
    read = files
    if len(files) > 1 and not any(f.kind == "delta" for f in files):
        # a delta-free unit's files hold disjoint keys, so a file no
        # batch key can be in is carried live untouched; a delta
        # supersedes rows of its unit's base files, so a unit holding
        # one is consumed whole
        read = bloom_hits(files, batch[KEY_COL].to_pylist())
    stored = read_unit_files(table_path, read, fields, partitioned)
    if stored is None:
        return resolve_latest_arrow(batch), []
    # a carried row without a tombstone flag stays live, as the
    # copy-on-write rewrite has always carried it
    if DELETED_COL in stored.column_names:
        stored = _filled(stored, DELETED_COL, False)
    rows = pa.concat_tables([stored, batch])
    return resolve_latest_arrow(rows), [f.path for f in read]

