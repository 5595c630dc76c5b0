"""Central query/oracle registry consumed by __spark_entry__.py.

Every implemented operator from SURVEY.md §2 contributes one entry to
``all_queries()`` and (when SQL-expressible) a DuckDB oracle to
``all_oracles()``. Keys must match; column names must match between the
Spark DataFrame and the oracle SQL (driver hashes columns sorted by name).
Modules without an oracle entry get the driver's weaker rows-only check
(documented per query).
"""

from __future__ import annotations

import importlib
import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# (module, queries-dict attr, oracles-dict attr)
_SOURCES = [
    ("hudi_spark_plus_spark.operators.relational", "RELATIONAL_QUERIES", "RELATIONAL_ORACLES"),
    ("hudi_spark_plus_spark.operators.relational_ext", "EXT_QUERIES", "EXT_ORACLES"),
    ("hudi_spark_plus_spark.operators.cdc_queries", "CDC_QUERIES", "CDC_ORACLES"),
    ("hudi_spark_plus_spark.operators.window_queries", "WINDOW_QUERIES", "WINDOW_ORACLES"),
    ("hudi_spark_plus_spark.operators.stream_queries", "STREAM_QUERIES", "STREAM_ORACLES"),
    ("hudi_spark_plus_spark.operators.udf_queries", "UDF_QUERIES", "UDF_ORACLES"),
    ("hudi_spark_plus_spark.operators.llm_queries", "LLM_QUERIES", "LLM_ORACLES"),
    ("hudi_spark_plus_spark.operators.lake_queries", "LAKE_QUERIES", "LAKE_ORACLES"),
]

# Registry (= dict insertion) order is the order a bounded driver pass
# visits queries; the registry is larger than the driver's 50-row cap, so
# the order decides which queries get re-verified on each round's freshly
# generated testdata. The rotation is SELF-MAINTAINING: it reads the
# CORRECTNESS_r*.json files the driver leaves in the repo root and sorts
# by the most recent round each query was verified green (hash-green, or
# a rows-only pass for declared no-oracle queries). Never-verified and
# red-row queries sort first; the most-recently-green sort last. Over
# successive rounds this round-robins the full surface through the
# bounded pass with no manual pinning.


def _last_green_round() -> dict[str, int]:
    root = Path(__file__).resolve().parent.parent
    last: dict[str, int] = {}
    for p in root.glob("CORRECTNESS_r*.json"):
        m = re.search(r"r(\d+)", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            green = row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            )
            if green:
                last[name] = max(last.get(name, 0), rnd)
    return last


# Front-of-line pins: queries whose ENGINE or ORACLE side changed after
# their last green driver pass (the rotation ranks them by that stale
# green, which can push them behind the cap). Listed queries sort before
# everything else; remove a pin once a CORRECTNESS row proves the new
# code, and regenerate tests/query_source_hashes.json (the pin-lint
# baseline, hudi_spark_plus_spark/pinlint.py) in the same commit.
_PINNED = [
    # r14: ALL 30 r13 pins re-greened in CORRECTNESS_r13.json (50/50
    # hash-green) and are dropped.
    # VERDICT r13 directive 2 — the IVF ANN family must be driver-
    # re-hashed on the r13 numpy-quantizer code (the r13 sample greened
    # the index trio but missed the one-shot trio; all six are pinned so
    # CORRECTNESS_r14 closes the family in one pass):
    "q-emb-ann-ivf",
    "q-emb-ann-ivfpq",
    "q-emb-ann-pq",
    "q-emb-ann-index",
    "q-emb-ann-index-pq",
    "q-stream-ann-index",
    # r14 optimization session — the COW merge path changed (lake_table
    # _merge_once): merged projection built as one selectExpr (same
    # expression trees), empty-batch fast path (zero-row merges publish
    # their commit without the join/write), units collect via
    # collect_set, parallel footer stats, committer v2 (session.py).
    # Every lake/cdc query funnels through merge; these pin the distinct
    # surfaces (bloom point-lookup, partitioned units, global index,
    # merge_into composition, MOR, DML delete_where incl. the empty-GC
    # fast path, schema evolution through the new projection, plus the
    # multi-file-bucket ingest shape):
    "q-doc-neardup-store",
    # r14: SignatureStore.ingest materializes its bounded signature
    # frame once before the merge (values identical; the per-batch
    # execution path of the streaming fixture changed):
    "q-stream-neardup",
    "q-lake-point-lookup",
    "q-lake-partitioned",
    "q-lake-global-index",
    "q-lake-merge-into",
    "q-lake-mor",
    "q-lake-dml",
    "q-lake-evolve",
    "q-lake-matview",
    # One write-and-publish path for every data-writing commit
    # (LakeTable._write_commit: observed row count checked against the
    # globbed files before publishing), clustering under the commit
    # retry loop, the Parquet-native key bloom removed (files shrink;
    # manifests unchanged apart from paths, timestamps and bytes),
    # SignatureStore.ingest replay short-circuit. Every query whose
    # closure folds in table/ moved:
    "q-cdc-1",
    "q-cdc-2",
    "q-cdc-3",
    "q-cdc-4",
    "q-cdc-partitioned",
    "q-cdc-retention",
    "q-cdc-transformer",
    "q-lake-batch-source",
    "q-lake-bootstrap",
    "q-lake-cdc-feed",
    "q-lake-cdc-source",
    "q-lake-clone",
    "q-lake-colstats",
    "q-lake-compact",
    "q-lake-concurrent",
    "q-lake-derived",
    "q-lake-format-write",
    "q-lake-functional-index",
    "q-lake-history",
    "q-lake-incremental",
    "q-lake-incremental-mor",
    "q-lake-matview-avg",
    "q-lake-matview-join",
    "q-lake-matview-join-minmax",
    "q-lake-matview-minmax",
    "q-lake-matview-ndv",
    "q-lake-matview-pctl",
    "q-lake-matview-pruned",
    "q-lake-meta-agg",
    "q-lake-mor-ro",
    "q-lake-ndv",
    "q-lake-overwrite",
    "q-lake-partial-update",
    "q-lake-record-history",
    "q-lake-record-history-batch",
    "q-lake-retype",
    "q-lake-rollback",
    "q-lake-roundtrip",
    "q-lake-savepoint",
    "q-lake-secondary-index",
    "q-lake-stream-sink",
    "q-lake-time-travel",
    "q-lake-timepart",
    "q-lake-zorder",
    "q-stream-lake-source",
    # Write tasks write their own files and return the manifest entries
    # (lake_table.emit_unit_files, shared with the format writer): the
    # Spark parquet write, the driver footer/bloom re-read and the
    # observe count are gone. The queries above moved again. Every
    # other query's hash moved only through session.configure_session,
    # which no longer sets the FileOutputCommitter version (no query
    # result depends on it), so those are not pinned.
    # Every merge runs the per-unit kernel (table/merge_kernel.py) on
    # the driver or in write tasks instead of the full-outer join; the
    # Arrow type map and the relocation rule moved into that module; a
    # null _ts now loses to any other _ts in COW merges as it already
    # did in MOR reads. 58 hashes moved, every one already pinned above;
    # no other query's hash moved.
    # Every compaction of a live set without bootstrap files runs the
    # per-unit kernel (LakeTable._rewrite_units); the join view's
    # watermark and the ANN-index migrate commit publish optimistically;
    # fsck compares footer row counts. The same 58 hashes moved, every
    # one already pinned above.
    # Bootstrap rows ride the per-unit kernel: the full-outer-join merge
    # and the Spark compaction of bootstrap tables are gone. The same 58
    # hashes moved, every one already pinned above.
    # A sync batch collects its envelope rows once as Arrow and runs one
    # local plan per table (operators/sync.py, operators/cdc.py): the
    # metadata groupBy and the cross-table dedup shuffle are gone.
    # Moved: q-cdc-3, q-cdc-4, q-cdc-partitioned, q-cdc-retention and
    # q-cdc-transformer, every one already pinned above.
    # Appends, overwrites and rewrite_column_type write through the
    # per-unit kernel's "append" mode (LakeTable._rewrite_units);
    # LakeTable._write_commit serves z-order clustering alone. The same
    # 58 hashes moved (among them q-lake-overwrite, q-lake-retype,
    # q-lake-functional-index, q-lake-partitioned and q-lake-zorder),
    # every one already pinned above.
]



def _query_cost() -> dict[str, float]:
    """Last recorded per-query seconds (BENCH.out.json full record) —
    the cheap/expensive split (VERDICT r12 stretch 9). Committed with
    the repo, so the ordering is deterministic per round. Queries with
    no record (new this round) cost 0.0: they sort first within their
    staleness tier, which is where a never-benched query belongs."""
    root = Path(__file__).resolve().parent.parent
    try:
        rec = json.loads((root / "BENCH.out.json").read_text())
        q = rec.get("queries") or {}
        return {k: float(v) for k, v in q.items()}
    except (OSError, ValueError, TypeError):
        return {}


def _gather(attr_idx: int) -> dict:
    out: dict = {}
    for mod_name, qattr, oattr in _SOURCES:
        try:
            mod = importlib.import_module(mod_name)
        except ImportError:
            continue
        attr = (qattr, oattr)[attr_idx]
        out.update(getattr(mod, attr, {}))
    last = _last_green_round()
    cost = _query_cost()
    # stable sort: pinned first, then unverified/red (rank -1), then
    # oldest green round. WITHIN a staleness tier, CHEAP queries first
    # (VERDICT r12 stretch 9): when the driver's ~50-row cap lands
    # mid-tier, it retires many cheap stale greens instead of a few
    # expensive ones, so the staleness floor advances faster as the
    # registry grows. Registration order breaks remaining ties.
    ordered = sorted(
        out,
        key=lambda k: (
            (-2, 0, 0.0)
            if k in _PINNED
            else (last.get(k, -1), 1, cost.get(k, 0.0))
        ),
    )
    return {k: out[k] for k in ordered}


def all_queries() -> dict[str, QueryFn]:
    return _gather(0)


def all_oracles() -> dict[str, str]:
    return _gather(1)
