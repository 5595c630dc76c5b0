"""Metadata-only bootstrap — onboard EXISTING parquet files as a lake
table without rewriting a byte of data (the Hudi METADATA_ONLY
bootstrap analogue; the reference's tables are Hudi tables, pom.xml,
and Hudi exposes `hoodie.bootstrap.mode.selector` for exactly this
migration path).

The 100 TB rationale: rewriting a 100 TB parquet lake into the keyed
layout costs a full read+write of the lake before the first query can
run. Bootstrap instead runs ONE cheap metadata pass — a distributed
Spark job that reads ONLY the key (+ts) columns, column-pruned at the
parquet scan — and registers the files in the commit log as-is, with
per-file row counts, synthesized-key min/max, a key Bloom filter, and
payload col_stats from the footers. Queries (snapshot, time travel,
incremental, point lookup, the ``lake-table`` format, streaming read)
work immediately; upserts CONVERT files progressively — a merge
reads only the bootstrap files whose Bloom says they may hold a batch
key and routes their rows by key into their (bucket) units, where the
per-unit merge kernel resolves them beside the batch rows and writes
proper hash-bucketed base files — and ``compact()`` is the
finish-the-migration lever that converts everything left in the same
commit that compacts every unit.

Mechanics:

* Source files are REFERENCED at their absolute paths (never copied,
  linked, or deleted — vacuum only ever walks the table's own data
  dir). Their manifest entries carry ``kind="bootstrap"`` and
  ``bucket=-1``: the rows were not written by bucket-hash routing, so
  every key-addressed operation treats a bootstrap file as a candidate
  for ANY key and lets the per-file Bloom/min-max prune instead. Once
  read for a rewrite, a row is routed like a batch row: ``bootstrap()``
  refuses partitioned tables, so its unit is the bucket of its
  synthesized key.
* The engine meta columns (``_key``/``_ts``/``_deleted``/
  ``_commit_ver``) don't exist in the files; every reader SYNTHESIZES
  them from the spec persisted in the commit log:
  ``_key`` = null-safe string rendering of the key fields (joined with
  ``:``; nulls render as ``"null"`` — keygen's documented reference
  recipe, string interpolation of a Java null), ``_ts`` = the ts field
  cast to long (or 0), ``_deleted`` = false, ``_commit_ver`` = the
  bootstrap commit's version (a later batch row therefore wins a
  ``_ts`` tie). Key/ts fields are restricted to
  string/integer types so the Spark, pyarrow, and ANSI-SQL renderings
  of the synthesized key are bit-identical.
* Merge-on-read deltas are refused while bootstrap files are live: a
  delta lands in its key's hash bucket but the stale copy sits in a
  ``bucket=-1`` file, so per-unit read-time resolution could not pair
  them. COW merges (which consume the stale copy) and ``compact()``
  lift the restriction naturally.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

BOOTSTRAP_KIND = "bootstrap"

# Types whose string rendering is identical in Spark SQL, pyarrow, and
# ANSI SQL (DuckDB): the synthesized key must hash/compare the same
# everywhere. Floats/timestamps/decimals render differently per engine.
_KEYABLE = {"string", "int", "bigint", "smallint", "tinyint"}
_TSABLE = {"int", "bigint", "smallint", "tinyint"}

_NULL_RENDER = "null"


def key_expr(key_fields: list[str]):
    """Spark expression for the synthesized record key (physical column
    names): null-safe string casts joined with ``:`` (the same
    rendering as keygen._null_safe_str — nulls as ``"null"``)."""
    from hudi_spark_plus_spark.table.keygen import _null_safe_str

    parts = [_null_safe_str(c) for c in key_fields]
    return parts[0] if len(parts) == 1 else F.concat_ws(":", *parts)


def ts_expr(ts_field: str | None):
    return (
        F.coalesce(F.col(ts_field).cast("long"), F.lit(0))
        if ts_field
        else F.lit(0).cast("long")
    )


def synthesize_arrow(t, spec: dict):
    """pyarrow twin of the Spark-side synthesis (format + stream
    readers): append physical ``_key``/``_ts``/``_deleted``/
    ``_commit_ver`` columns to a raw bootstrap-file table."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = []
    for c in spec["key_fields"]:
        col = t[c]
        if col.type != pa.string():
            col = pc.cast(col, pa.string())
        cols.append(pc.fill_null(col, _NULL_RENDER))
    key = (
        cols[0]
        if len(cols) == 1
        else pc.binary_join_element_wise(*cols, ":")
    )
    tsf = spec.get("ts_field")
    if tsf:
        ts = pc.fill_null(pc.cast(t[tsf], pa.int64()), 0)
    else:
        ts = pa.array([0] * t.num_rows, pa.int64())
    ver = pa.array([int(spec["commit_ver"])] * t.num_rows, pa.int64())
    dead = pa.array([False] * t.num_rows, pa.bool_())
    out = t
    for name, col in (
        ("_key", key),
        ("_ts", ts),
        ("_deleted", dead),
        ("_commit_ver", ver),
    ):
        if name in out.column_names:
            out = out.drop_columns([name])
        out = out.append_column(name, col)
    return out


def resolve_source_files(source) -> list[str]:
    """Absolute parquet paths from a directory (recursive) or an
    explicit list. Deterministic order."""
    import glob

    if isinstance(source, (list, tuple)):
        files = [os.path.abspath(p) for p in source]
    else:
        files = glob.glob(
            os.path.join(os.path.abspath(source), "**", "*.parquet"),
            recursive=True,
        )
    files = sorted(files)
    if not files:
        raise ValueError(f"bootstrap source {source!r} has no parquet files")
    return files


def validate_source_schemas(
    files: list[str], key_fields: list[str], ts_field: str | None
) -> None:
    """Every file must carry the key (+ts) fields at cross-engine-safe
    types, and no reserved engine column names (footer-only pass)."""
    import pyarrow.parquet as pq

    reserved = {"_key", "_ts", "_op", "_deleted", "_commit_ver",
                "_bucket", "_part"}
    for f in files:
        sch = pq.ParquetFile(f).schema_arrow
        names = set(sch.names)
        clash = names & reserved
        if clash:
            raise ValueError(
                f"bootstrap source file {f} carries reserved engine "
                f"column(s) {sorted(clash)}; rename them first"
            )
        for c in key_fields:
            if c not in names:
                raise ValueError(
                    f"bootstrap key field {c!r} missing from {f}"
                )
            simple = _spark_simple(sch.field(c).type)
            if simple not in _KEYABLE:
                raise ValueError(
                    f"bootstrap key field {c!r} has type {simple!r} in "
                    f"{f}; key fields must be string/integer so the "
                    "synthesized key renders identically across engines"
                )
        if ts_field is not None:
            if ts_field not in names:
                raise ValueError(
                    f"bootstrap ts field {ts_field!r} missing from {f}"
                )
            simple = _spark_simple(sch.field(ts_field).type)
            if simple not in _TSABLE:
                raise ValueError(
                    f"bootstrap ts field {ts_field!r} has type "
                    f"{simple!r} in {f}; must be an integer type"
                )


def _spark_simple(at) -> str:
    import pyarrow as pa

    if pa.types.is_string(at) or pa.types.is_large_string(at):
        return "string"
    if pa.types.is_int64(at):
        return "bigint"
    if pa.types.is_int32(at):
        return "int"
    if pa.types.is_int16(at):
        return "smallint"
    if pa.types.is_int8(at):
        return "tinyint"
    return str(at)


def _footer_col_stats(f: str) -> tuple[int, dict]:
    """(rows, payload col_stats) from one parquet footer — same
    JSON-stable min/max extraction as the write path's footer scan
    (lake_table._footer_stats), minus the key handling bootstrap
    sources don't have."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(f).metadata
    names = {md.schema.column(i).name: i for i in range(len(md.schema))}
    col_stats: dict = {}
    for cname, ci in names.items():
        if cname.startswith("_"):
            continue
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
        if isinstance(lo, (int, float, str)) and not isinstance(lo, bool):
            col_stats[cname] = [lo, hi]
    return md.num_rows, col_stats


def collect_bootstrap_entries(spark, files: list[str], spec: dict) -> list:
    """The metadata pass: ONE distributed job reads only the key (+ts)
    columns of the source files (column-pruned parquet scan), groups by
    source file, and builds each file's synthesized-key min/max + Bloom
    executor-side — memory bounded by one file's keys, exactly the
    write path's bound (lake_table.emit_unit_files). Footer row
    counts and payload col_stats come from a footer-only pass (no data
    I/O)."""
    import pandas as pd  # noqa: F401 (applyInPandas contract)
    from urllib.parse import unquote, urlparse

    from hudi_spark_plus_spark.table.bloom import KeyBloom
    from hudi_spark_plus_spark.table.commit_log import FileEntry

    read_cols = list(spec["key_fields"])
    if spec.get("ts_field") and spec["ts_field"] not in read_cols:
        read_cols.append(spec["ts_field"])

    def build(pdf):
        import pandas as _pd

        ks = [k for k in pdf["_bk"] if k is not None]
        return _pd.DataFrame(
            {
                "_f": [pdf["_f"].iloc[0]],
                "n": [len(pdf)],
                "lo": [min(ks) if ks else None],
                "hi": [max(ks) if ks else None],
                "bloom": [KeyBloom.from_keys(ks).to_b64()],
            }
        )

    rows = (
        spark.read.parquet(*files)
        .select(
            F.input_file_name().alias("_f"),
            *[F.col(c) for c in read_cols],
        )
        .withColumn("_bk", key_expr(spec["key_fields"]))
        .select("_f", "_bk")
        .groupBy("_f")
        .applyInPandas(build, "_f string, n long, lo string, hi string, "
                              "bloom string")
        .collect()
    )
    by_path: dict[str, tuple] = {}
    for r in rows:
        p = r["_f"]
        if p.startswith("file:"):
            p = unquote(urlparse(p).path)
        by_path[p] = (r["n"], r["lo"], r["hi"], r["bloom"])
    entries = []
    for f in files:
        if f not in by_path:
            # an empty parquet file produces no groupBy row
            n_rows, col_stats = _footer_col_stats(f)
            entries.append(
                FileEntry(path=f, bucket=-1, rows=n_rows, kind=BOOTSTRAP_KIND,
                          col_stats=col_stats or None, live_rows=n_rows,
                          bytes=os.path.getsize(f))
            )
            continue
        n, lo, hi, bloom = by_path[f]
        f_rows, col_stats = _footer_col_stats(f)
        entries.append(
            FileEntry(
                path=f,
                bucket=-1,
                rows=f_rows,
                min_key=lo,
                max_key=hi,
                bloom=bloom,
                kind=BOOTSTRAP_KIND,
                col_stats=col_stats or None,
                # bootstrapped parquet predates the engine: no
                # _deleted column can exist, every row is live
                live_rows=f_rows,
                bytes=os.path.getsize(f),
            )
        )
    return entries
