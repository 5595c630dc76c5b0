"""The per-unit merge kernel: Hudi's ``HoodieMergeHandle`` for this
engine's (partition, bucket) units.

Every copy of a record lives in one resolution unit (``unit_of``) by
construction: its (partition, bucket) on a partitioned table, its bucket
otherwise, and its bucket across ALL partitions on a global-index table.
So a merge never has to move stored rows between machines: it resolves
each unit the batch touches against that unit's live files alone, in
one pass, wherever the unit's batch rows are (the driver for a small batch,
a ``mapInArrow`` task otherwise — ``LakeTable._rewrite_units`` picks).
The one exception is a metadata-only bootstrap file (bucket -1), whose
rows no unit owns: a rewrite that reads one routes its rows by key to
their units like batch rows, each keeping its own ``_ts`` and version.

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
``lake-table`` format writer runs the same ``relocate``. An append
(``insert``, ``bulk_insert``, the two overwrites, ``rewrite_column_type``)
is merge-on-read without relocation that writes base files: its batch
rows are the unit's new rows, unresolved, and no file is read. Compaction is
the merge of a unit with no batch rows (only routed bootstrap rows, if
any): every file of the unit is read, resolved and consumed, tombstones
kept, each row under its own commit version.

The module also owns the read plan every reader shares — ``LakeTable``
(which executes it in Spark), the ``lake-table`` batch reader and the
stream reader (which execute it with pyarrow in their workers):

* ``unit_of``, the one resolution-unit rule;
* ``incremental_plan`` and ``cdc_plan``, the file plans of an
  incremental and a CDC read of a version range;
* the worker-side file read: ``load_logical`` (parquet -> bootstrap
  synthesis -> ``project_logical``, the physical file on the logical
  columns with the one Spark -> Arrow type map), ``in_version_range``
  and ``resolve_latest_arrow``;
* ``open_latest_manifest``, the opener of the newest ``_index/``
  sidecar manifest.
"""

from __future__ import annotations

import os
from collections import namedtuple

from hudi_spark_plus_spark.table.bootstrap import BOOTSTRAP_KIND
from hudi_spark_plus_spark.table.keygen import KEY_COL, PARTITION_COL, TS_COL

DELETED_COL = "_deleted"
COMMIT_VER_COL = "_commit_ver"
INDEX_DIR = "_index"
# manifest kinds sharing the _index/ namespace that are not secondary
# indexes (different entry formats)
NON_SECONDARY_KINDS = ("functional", "ndv")

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


def unit_of(entry, global_index):
    """The one resolution-unit rule: the unit of a manifest entry holds
    every copy of each record it holds. It is (partition, bucket), as
    record identity is (partition, key) and the bucket is hash(key)-
    derived; on a global-index table, whose identity is the key alone
    across partitions, it is the bucket. A bootstrap file's rows are not
    bucket-routed (bucket -1), so no unit is known to hold all of them."""
    return (entry.bucket,) if global_index else (entry.partition, entry.bucket)


def unit_groups(files, global_index, units=None):
    """``{unit: its files}`` over ``files`` (in their order), restricted
    to ``units`` when given."""
    out: dict = {}
    for f in files:
        u = unit_of(f, global_index)
        if units is None or u in units:
            out.setdefault(u, []).append(f)
    return out


def _changed_live(log, begin, end):
    live = log.live_files(end)
    changed = {f.path for f in log.changed_files(begin, end)}
    return live, [f for f in live if f.path in changed]


def incremental_plan(log, begin, end, global_index):
    """The file plan of an incremental read of versions (begin, end]:
    ``(files, groups)``. ``files`` are the files changed in the range
    and live at ``end``; a record's latest copy is carried through every
    rewrite, so it is in exactly one of them. On copy-on-write they are
    the plan and ``groups`` is None. With a delta live at ``end`` an
    in-range row may have lost last-write-wins to a row of another file,
    in or out of the range, so ``groups`` maps each unit holding one of
    ``files`` to all its live files: resolve each, then range-filter. A
    caller that prunes ``files`` reads the groups of the units left."""
    live, files = _changed_live(log, begin, end)
    if not any(f.kind == "delta" for f in live):
        return files, None
    units = {unit_of(f, global_index) for f in files}
    return files, unit_groups(live, global_index, units)


def cdc_plan(log, begin, end, global_index):
    """The file plan of a CDC read of versions (begin, end]:
    ``(files, units, consumed)``. ``files`` are ``incremental_plan``'s;
    ``units`` maps each unit holding one of them to ``(after, before)``,
    its files live at ``end`` and at ``begin`` (none when ``begin`` <= 0:
    every change is an insert). ``consumed`` are the bootstrap files
    live at ``begin`` that the range rewrote away: a changed record's
    before image may be in one, while a bootstrap file still live at
    ``end`` holds only unchanged records."""
    live, files = _changed_live(log, begin, end)
    units = {unit_of(f, global_index) for f in files}
    before, consumed = {}, []
    if begin > 0:
        start = log.live_files(begin)
        before = unit_groups(start, global_index, units)
        end_paths = {f.path for f in live}
        consumed = [
            f
            for f in start
            if f.kind == BOOTSTRAP_KIND
            and f.path not in end_paths
            and unit_of(f, global_index) not in units
        ]
    after = unit_groups(live, global_index, units)
    return (
        files,
        {u: (grp, before.get(u, [])) for u, grp in after.items()},
        consumed,
    )


def load_logical(table_path, path, fields, bootstrap_spec):
    """One stored file on the logical ``fields``: the parquet read, the
    engine meta columns synthesized when ``bootstrap_spec`` is given (a
    metadata-only bootstrap file, table/bootstrap.py), then
    ``project_logical``. A bootstrap file's absolute ``path`` is kept
    as is by the join."""
    import pyarrow.parquet as pq

    raw = pq.read_table(os.path.join(table_path, path))
    if bootstrap_spec is not None:
        from hudi_spark_plus_spark.table.bootstrap import synthesize_arrow

        raw = synthesize_arrow(raw, bootstrap_spec)
    return project_logical(raw, fields)


def in_version_range(t, begin, end):
    """Mask of the rows of ``t`` whose commit version is in (begin, end]
    (``end`` None: no upper bound). A null or missing version reads as
    0: the row was written before record versioning."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ver = (
        pc.fill_null(t[COMMIT_VER_COL], 0)
        if COMMIT_VER_COL in t.column_names
        else pa.array([0] * t.num_rows, pa.int64())
    )
    mask = pc.greater(ver, begin)
    return mask if end is None else pc.and_(mask, pc.less_equal(ver, end))


def index_dir(table_path, dirname):
    """The ``_index/<dirname>`` sidecar directory of a table."""
    if not dirname.replace("_", "").isalnum():
        raise ValueError(
            f"column name {dirname!r} is not filesystem-safe for an index "
            "directory"
        )
    return os.path.join(table_path, INDEX_DIR, dirname)


def latest_index_n(table_path, dirname):
    """The number of the newest ``index-<n>.json`` manifest of the
    sidecar, 0 when it has none."""
    d = index_dir(table_path, dirname)
    if not os.path.isdir(d):
        return 0
    ns = [
        int(fn[6:-5])
        for fn in os.listdir(d)
        if fn.startswith("index-") and fn.endswith(".json")
    ]
    return max(ns, default=0)


def open_latest_manifest(table_path, dirname):
    """Resolve-then-open of the newest sidecar manifest (None when there
    is none), tolerant of the retention race: list-then-open is
    non-atomic against ``LakeTable._retire_index_manifests``, so two
    publishes landing between the listing and the ``open`` can unlink
    the resolved file. On FileNotFoundError re-resolve once — whatever
    replaced it is at least as fresh (stale-is-correct); a second
    consecutive miss is a real error and raises."""
    import json

    for attempt in range(2):
        n = latest_index_n(table_path, dirname)
        if n == 0:
            return None
        try:
            with open(
                os.path.join(
                    index_dir(table_path, dirname), f"index-{n:06d}.json"
                )
            ) as fh:
                return json.load(fh)
        except FileNotFoundError:
            if attempt:
                raise
    return None


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

    parts = []
    for f in files:
        t = load_logical(table_path, f.path, fields, None)
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


def merge_unit(table_path, files, batch, fields, next_ver, mode, global_index):
    """Resolve one unit: ``files`` are its live entries (anything with
    ``path``, ``kind``, ``bloom`` and ``partition``), ``batch`` its
    routed rows on the commit's logical ``fields`` (plus
    ``PARTITION_COL`` on a partitioned table), each with its own
    ``_ts``, ``_deleted`` and ``_commit_ver``: a merge's batch rows are
    stamped ``_commit_ver = next_ver``, a bootstrap file's rows keep the
    bootstrap version. Returns ``(rows, consumed paths)``; ``rows``
    carries ``PARTITION_COL`` on a partitioned table, each row in its
    own partition. The one LWW rule decides every key, so a batch row
    beats a stored or bootstrap copy iff its ``_ts`` is not older (a
    null ``_ts`` is older than any other).

    ``mode``: ``"cow"`` reads the unit's files (Bloom-skipping files of
    a multi-file delta-free unit) and rewrites them; ``"mor"`` returns
    the batch as delta rows; ``"append"`` returns the batch as it is,
    unresolved, as the unit's new base rows (insert, overwrite, retype);
    ``"compact"`` reads and consumes every file (no Bloom skip) with the
    routed rows, if any (``batch`` may be None), keeping tombstones and
    each row's own commit version."""
    import pyarrow as pa

    partitioned = (
        files[0].partition is not None
        if batch is None
        else PARTITION_COL in batch.column_names
    )
    if mode in ("mor", "append"):
        # rows in key order, as a resolved unit's are: the file a unit's
        # rows make does not depend on their arrival order
        stored = None
        if mode == "mor" and global_index and partitioned:
            hit = bloom_hits(files, batch[KEY_COL].to_pylist())
            stored = read_unit_files(table_path, hit, fields, partitioned)
        if stored is not None:
            keep, tombs = relocate(stored, batch, next_ver)
            batch = pa.concat_tables([batch.filter(keep), tombs])
        return batch.sort_by(KEY_COL), []
    read = files
    if (
        mode == "cow"
        and len(files) > 1
        and not any(f.kind == "delta" for f in files)
    ):
        # a delta-free unit's files hold disjoint keys, so a file no
        # batch key can be in is carried live untouched; a delta
        # supersedes rows of its unit's base files, so a unit holding
        # one is consumed whole
        read = bloom_hits(files, batch[KEY_COL].to_pylist())
    stored = read_unit_files(table_path, read, fields, partitioned)
    cow = mode == "cow" and stored is not None
    if cow and DELETED_COL in stored.column_names:
        # a carried row without a tombstone flag stays live, as the
        # copy-on-write rewrite has always carried it
        stored = _filled(stored, DELETED_COL, False)
    rows = [t for t in (stored, batch) if t is not None]
    rows = rows[0] if len(rows) == 1 else pa.concat_tables(rows)
    return resolve_latest_arrow(rows), [f.path for f in read]
