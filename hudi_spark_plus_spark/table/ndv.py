"""Approximate distinct counts from per-file HLL sketches.

The fourth metadata aggregate, completing stats_count/stats_minmax
(exact COUNT/MIN/MAX): ``approx_ndv`` answers COUNT(DISTINCT col)
approximately by UNIONING per-file Datasketches HLL sketches stored in
a finalizer-atomic sidecar (``_index/ndv_<col>/``, the secondary-index
lifecycle: stale is safe, retention keeps two manifests, reads
re-resolve once on the retention race). HLL's error bound (~1.6%% at
the default lg_k=12) is the ONLY source of error by construction:

- a file's stored sketch is trusted only under the same exactness
  doctrine as stats_minmax — the file must be clean under
  ``_meta_agg_split`` (no delta resolution can supersede its rows) AND
  hold no tombstones (``live_rows == rows``), because HLL cannot
  subtract a deleted value;
- every untrusted or unsketched file is scanned (snapshot semantics —
  resolve + drop tombstones) into ONE fresh sketch and unioned in.

So stale sketches, MOR churn, and tombstones degrade to bounded extra
scan, never to an estimate over rows the snapshot does not contain.

Sketch residence (VERDICT r10 directive 4): sketch BYTES live in
parquet "part" files under the sidecar and never aggregate on the
driver — the build writes the per-file sketch DataFrame straight to a
part, the estimate joins parts against the trusted path set and unions
JVM-side (``hll_union_agg`` ignores the zero-row NULL sentinels), and
a refresh compacts parts executor-side once dead entries outnumber
live ones (ADVICE r10 #3: the manifest previously carried forward
sketch entries for files no longer live, growing without bound). The
driver holds only PATH STRINGS — the same O(live files) metadata the
commit log itself carries — so approx_ndv stays metadata-cheap at
100-TB file counts. The JSON manifest lists the part directories;
publishing is the usual atomic finalizer, and part dirs unreferenced
by the retained (newest two) manifests are best-effort reclaimed on
the next publish.

Supported column types follow hll_sketch_agg: integral and string.
Nulls are ignored on both the sketch and scan paths, matching SQL
COUNT(DISTINCT).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructField, StructType

from hudi_spark_plus_spark.localdf import local_frame
from hudi_spark_plus_spark.table.lake_table import LakeTable

NDV_PREFIX = "ndv_"
DEFAULT_LG_K = 12
PARTS_DIR = "parts"
# refresh compacts the sidecar once dead entries exceed live ones —
# bounds sidecar storage at ~2x the live-file count under any churn
COMPACT_DEAD_RATIO = 1.0
# ... and once the PART COUNT exceeds this, regardless of dead ratio:
# insert-only churn (dead == 0 forever) would otherwise accumulate one
# part dir per refresh without bound — bytes stayed bounded but object
# count did not, and every read opens every part
COMPACT_MAX_PARTS = 16

_SKETCHABLE = ("string", "tinyint", "smallint", "int", "bigint")


def _ndv_field(lake: LakeTable, col: str):
    sch = lake.schema()
    if sch is None:
        raise ValueError(f"lake table at {lake.path} has no commits")
    for fld in sch.fields:
        if fld.name == col:
            t = fld.dataType.simpleString()
            if t not in _SKETCHABLE:
                raise ValueError(
                    f"NDV sketch supports {_SKETCHABLE} columns; "
                    f"{col!r} is {t!r}"
                )
            return fld
    raise ValueError(f"column {col!r} not in table schema")


def _parts_root(lake: LakeTable, col: str) -> str:
    return os.path.join(lake._index_dir(NDV_PREFIX + col), PARTS_DIR)


def _read_parts(lake: LakeTable, col: str, m: dict) -> DataFrame | None:
    """Sketch entries (``path string, s binary``) of every manifest
    part as ONE DataFrame — sketch bytes stay executor-side."""
    root = _parts_root(lake, col)
    dirs = [os.path.join(root, p) for p in m.get("parts", [])]
    dirs = [d for d in dirs if os.path.isdir(d)]
    if not dirs:
        return None
    return lake.spark.read.schema(
        "path string, s binary"
    ).parquet(*dirs)


def _write_part(
    lake: LakeTable, files: list, col: str, extra: DataFrame | None = None
) -> str | None:
    """One JVM-only job: per-file HLL sketch of ``col`` grouped by
    source file (column-pruned scan), written DIRECTLY to a new part —
    the driver never materializes a sketch. Zero-row files get a NULL
    sentinel row (``hll_union_agg`` skips it; its presence marks the
    file as sketched). ``extra`` (an entries DataFrame) is unioned in —
    the compaction path. Returns the part's dir name, or None if there
    was nothing to write."""
    spark = lake.spark
    part_df = None
    if files:
        fld = _ndv_field(lake, col)
        phys = lake._physical_of(fld)
        # abs->rel via broadcast join: paths only, never sketch bytes
        mapping = local_frame(
            spark,
            [(os.path.normpath(lake.log.abs_path(f.path)), f.path) for f in files],
            "abs string, path string",
        )
        sketched = (
            spark.read.schema(
                StructType([StructField(phys, fld.dataType, True)])
            )
            .parquet(*[lake.log.abs_path(f.path) for f in files])
            .groupBy(F.input_file_name().alias("_f"))
            .agg(
                F.hll_sketch_agg(
                    F.col(phys).cast("string"), F.lit(DEFAULT_LG_K)
                ).alias("s")
            )
            # input_file_name is a file: URI; normalize to a plain path.
            # Arrow-serialized scalar UDF (guide §4.3): the node becomes
            # ArrowEvalPython instead of pickled-row BatchEvalPython —
            # metadata-cardinality (one row per file) either way, but
            # the pickled path cost a per-row boundary in the middle of
            # the sketch job's only stage.
            .withColumn(
                "abs",
                F.udf(
                    lambda p: os.path.normpath(
                        unquote(urlparse(p).path)
                        if p.startswith("file:")
                        else p
                    ),
                    useArrow=True,
                )("_f"),
            )
        )
        # plain (non-broadcast) join on purpose: both sides are one row
        # per file, but `sketched` carries sketch BYTES — broadcasting
        # it at large file counts would ship GBs to every task. The
        # tiny path-only `mapping` side can't anchor a left-outer BHJ
        # (only the right side of LEFT OUTER broadcasts), so let AQE
        # pick; unmatched mapping rows = zero-row sentinels.
        part_df = mapping.join(sketched, "abs", "left").select("path", "s")
    if extra is not None:
        ex = extra.select("path", "s")
        part_df = ex if part_df is None else part_df.unionByName(ex)
    if part_df is None:
        return None
    name = uuid.uuid4().hex
    part_df.coalesce(max(1, min(32, (len(files) + 4096) // 4096))).write.parquet(
        os.path.join(_parts_root(lake, col), name)
    )
    return name


def _publish(
    lake: LakeTable, col: str, parts: list[str], version: int
) -> str:
    target = lake._publish_sidecar(
        NDV_PREFIX + col,
        {
            "col": col,
            "kind": "ndv",
            "version": version,
            "lg_k": DEFAULT_LG_K,
            "parts": parts,
        },
    )
    _reclaim_parts(lake, col)
    return target


def _reclaim_parts(lake: LakeTable, col: str) -> None:
    """Best-effort GC of part dirs no RETAINED manifest references
    (retention keeps the newest two; a reader resolving through either
    still finds its parts)."""
    d = lake._index_dir(NDV_PREFIX + col)
    root = _parts_root(lake, col)
    if not os.path.isdir(root):
        return
    referenced: set[str] = set()
    for fn in os.listdir(d):
        if fn.startswith("index-") and fn.endswith(".json"):
            try:
                with open(os.path.join(d, fn)) as fh:
                    referenced.update(json.load(fh).get("parts", []))
            except (OSError, ValueError):
                continue
    for p in os.listdir(root):
        if p not in referenced:
            shutil.rmtree(os.path.join(root, p), ignore_errors=True)


def ndv_manifest(lake: LakeTable, col: str) -> dict | None:
    m = lake._open_latest_manifest(NDV_PREFIX + col)
    if m is None or m.get("kind") != "ndv":
        return None
    return m


def _sketched_paths(lake: LakeTable, col: str, m: dict) -> set[str]:
    """Paths the sidecar holds a sketch (or sentinel) for. Path strings
    only — the one per-file datum the driver is allowed to hold."""
    parts = _read_parts(lake, col, m)
    if parts is None:
        return set()
    return {r["path"] for r in parts.select("path").distinct().collect()}


def create_ndv_sketch(lake: LakeTable, col: str) -> dict:
    """Build (or fully rebuild) per-file sketches for every live file
    of the current snapshot."""
    latest = lake.log.latest()
    version = latest.version if latest else 0
    files = lake.log.live_files()
    part = _write_part(lake, files, col)
    _publish(lake, col, [part] if part else [], version)
    return {"col": col, "files": len(files)}


def refresh_ndv_sketch(lake: LakeTable, col: str) -> dict:
    """Async-indexer catch-up: sketch ONLY live files missing from the
    published sidecar (cost bounded by churn since the last build).
    When dead entries outnumber live ones the parts are COMPACTED in
    the same pass — an executor-side filter-and-rewrite, so sidecar
    storage is bounded at ~2x the live-file count under any churn
    (ADVICE r10 #3)."""
    m = ndv_manifest(lake, col)
    if m is None:
        return create_ndv_sketch(lake, col)
    live = lake.log.live_files()
    live_paths = {f.path for f in live}
    have = _sketched_paths(lake, col, m)
    missing = [f for f in live if f.path not in have]
    dead = len(have - live_paths)
    if not missing and dead == 0:
        return {"col": col, "files": 0}
    latest = lake.log.latest()
    version = latest.version if latest else 0
    if dead > COMPACT_DEAD_RATIO * max(1, len(have & live_paths)) or (
        len(m.get("parts", [])) + 1 > COMPACT_MAX_PARTS
    ):
        # compact: old parts filtered to live, new files sketched, one part
        old = _read_parts(lake, col, m)
        live_df = local_frame(
            lake.spark, [(p,) for p in sorted(live_paths)], "path string"
        )
        kept = old.join(F.broadcast(live_df), "path") if old is not None else None
        part = _write_part(lake, missing, col, extra=kept)
        _publish(lake, col, [part] if part else [], version)
        return {"col": col, "files": len(missing), "compacted": True}
    part = _write_part(lake, missing, col)
    _publish(
        lake, col, list(m.get("parts", [])) + ([part] if part else []), version
    )
    return {"col": col, "files": len(missing)}


def approx_ndv(lake: LakeTable, col: str) -> dict:
    """Approximate COUNT(DISTINCT col) over the CURRENT snapshot.
    Returns {"estimate", "files_sketched", "files_scanned"} — HLL error
    is the only approximation; see module docstring for the trust
    rule. The union runs entirely JVM-side over the sidecar parts; the
    driver holds path strings and the final numbers, never sketches.

    Retention-race tolerant like ``_open_latest_manifest`` (ADVICE r11
    #4): the parts are read LAZILY and evaluated at estimate time, so a
    concurrent refresh's ``_reclaim_parts`` can delete a part dir
    between the manifest resolve and the Spark action. On a
    FileNotFound-shaped failure the whole estimate re-resolves the
    (newer, at-least-as-fresh) manifest and retries once; a second
    consecutive miss is a real error and raises."""
    for attempt in range(2):
        try:
            return _approx_ndv_once(lake, col)
        except Exception as e:  # noqa: BLE001 — re-raised unless retryable
            retryable = isinstance(e, FileNotFoundError) or (
                "FileNotFound" in str(e) or "PATH_NOT_FOUND" in str(e)
            )
            if attempt or not retryable:
                raise
    raise AssertionError("unreachable")


def _approx_ndv_once(lake: LakeTable, col: str) -> dict:
    fld = _ndv_field(lake, col)
    m = ndv_manifest(lake, col) or {"parts": []}
    files = lake.log.live_files()
    meta, scan = lake._meta_agg_split(files)
    scan = list(scan)
    have = _sketched_paths(lake, col, m)
    trusted: list[str] = []
    for f in meta:
        if f.path not in have or f.live_rows != f.rows:
            if f.live_rows != 0:  # all-tombstone files hold no live rows
                scan.append(f)
            continue
        trusted.append(f.path)
    parts_union: list[DataFrame] = []
    if trusted:
        trusted_df = local_frame(
            lake.spark, [(p,) for p in trusted], "path string"
        )
        parts_union.append(
            _read_parts(lake, col, m)
            .join(F.broadcast(trusted_df), "path")
            .select("s")
        )
    if scan:
        df = lake._read_resolved(scan)
        parts_union.append(
            df.agg(
                F.hll_sketch_agg(
                    F.col(col).cast("string"), F.lit(DEFAULT_LG_K)
                ).alias("s")
            ).where(F.col("s").isNotNull())
        )
    if not parts_union:
        return {
            "estimate": 0,
            "files_sketched": len(trusted),
            "files_scanned": len(scan),
        }
    allsk = parts_union[0]
    for p in parts_union[1:]:
        allsk = allsk.unionByName(p)
    est = allsk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("s")).alias("e")
    ).first()["e"]
    return {
        "estimate": int(est or 0),
        "files_sketched": len(trusted),
        "files_scanned": len(scan),
    }
