"""Per-micro-batch CDC sync command (SURVEY §3 "PySpark-native redesign").

The Spark-first rebuild of BinlogSyncHoodieCommand.run
(BinlogSyncHoodieCommand.scala:220-283). A micro-batch reads its input
once:

    [persist (N5) -> retention (N6/Q4-fixed)]
    -> parse+explode (N7) -> ONE Arrow collect of every table's rows
    -> per-table names, schemas, max _ts on the driver (N10)
    -> per table, one local plan: key (N8) -> LWW dedup (N9)
       -> decode (N16-N18) -> optional SQL transformer (N19)
       -> one-pass LWW merge (H1+H2), whose batch collect runs the plan

A batch of more than ``LakeTable.MERGE_COLLECT_MAX_ROWS`` rows falls
back to a distributed source for the same per-table plan: the input
repartitioned (N4) and persisted (N5), with the metadata from one
grouped collect.

Deliberate fixes of reference quirks (SURVEY §2.1):
  Q1/Q2 — a misconfigured or empty table logs-and-continues; other tables
          in the batch are unaffected (the reference's non-local return
          aborts the remaining tables).
  Q4    — binlog retention actually persists (the reference's relation
          write is a no-op).
  Q5    — same-key insert+delete in one batch nets to the larger
          timestamp; cross-batch, merge honors stored ``_ts``.
"""

from __future__ import annotations

import logging
import os
import threading
import uuid

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_spark_plus_spark.operators import cdc
from hudi_spark_plus_spark.plans import config as cfg
from hudi_spark_plus_spark.plans.config import TableConfig, TableConfigError
from hudi_spark_plus_spark.table.keygen import KEY_COL, OP_COL, TS_COL
from hudi_spark_plus_spark.table.lake_table import LakeTable

log = logging.getLogger(__name__)

TRANSFORMER_SRC_PATTERN = "<SRC>"
TRANSFORMER_TMP_TABLE = "HOODIE_SRC_TMP_TABLE_"

# Per-process LakeTable cache: a streaming sync constructs the same table
# every micro-batch; reusing the instance keeps the commit-log timeline
# cache warm (otherwise each batch re-lists the timeline and re-reads
# every manifest for the has_batch idempotence check). Single-writer per
# table is the documented commit-log assumption, so the cache cannot go
# stale from another writer; a deleted/recreated table dir is detected by
# re-checking the cached latest manifest file.
_LAKE_CACHE: dict[tuple[int, str], LakeTable] = {}
_LAKE_LOCK = threading.Lock()


def _cached_lake(
    spark: SparkSession,
    path: str,
    buckets: int | None,
    partition_fields: list[str] | None = None,
    global_index: bool | None = None,
    finalizer_spec: str | None = None,
) -> LakeTable:
    # the finalizer spec is part of the cache identity: a cached table
    # publishing through POSIX links must not satisfy a sync configured
    # for the object-store binding (and vice versa)
    key = (id(spark), path, finalizer_spec)
    with _LAKE_LOCK:
        t = _LAKE_CACHE.get(key)
        if (
            t is not None
            and (buckets is None or t.buckets == buckets)
            and (partition_fields is None
                 or t.partition_fields == list(partition_fields))
            and (global_index is None or t.global_index == global_index)
        ):
            vs = t.log._versions
            if not vs or os.path.exists(t.log._commit_file(vs[-1])):
                return t
        fin = None
        if finalizer_spec:
            from hudi_spark_plus_spark.plans.plugins import load_object

            fin = load_object(finalizer_spec)(path)
        t = LakeTable(
            spark, path, buckets=buckets, partition_fields=partition_fields,
            global_index=global_index, finalizer=fin,
        )
        _LAKE_CACHE[key] = t
        return t


def apply_transformer(
    spark: SparkSession, df: DataFrame, sql: str
) -> DataFrame:
    """N19: register batch as a temp view, substitute <SRC>, run the
    user's SQL (scala:104-111) — the full relational surface hook."""
    tmp = TRANSFORMER_TMP_TABLE + uuid.uuid4().hex
    df.createOrReplaceTempView(tmp)
    return spark.sql(sql.replace(TRANSFORMER_SRC_PATTERN, tmp))


def write_retention(df: DataFrame, path: str, batch_id: int | str) -> None:
    """N6/Q4: real raw-envelope retention — append as text under a
    batch-scoped subdir (the reference's version materializes the plan
    but persists nothing; SURVEY documents this as a bug we fix)."""
    df.write.mode("append").text(os.path.join(path, f"batch_id={batch_id}"))


def sync_batch(
    spark: SparkSession,
    df: DataFrame,
    options: dict[str, str],
    batch_id: int | str = 0,
) -> dict[str, str]:
    """Process one micro-batch of envelope strings into N lake tables.

    Returns per-table status: "ok" | "skipped: <reason>" — error isolation
    per table (Q1/Q2 fix). Idempotent per (table, batch_id) via the
    commit log (H5).
    """
    # Candidate tables are enumerable from the option namespace BEFORE
    # touching data.
    candidates: dict[tuple[str, str], TableConfig] = {}
    config_errors: dict[tuple[str, str], str] = {}
    for db, table in _candidate_tables(options):
        try:
            candidates[(db, table)] = cfg.resolve_table_config(options, db, table)
        except TableConfigError as ex:
            config_errors[(db, table)] = str(ex)

    cached: list[DataFrame] = []
    try:
        if cfg.keep_binlog(options):
            path = options.get(cfg.BINLOG_PATH)
            if path:
                df = df.persist()  # N5: retention and the collect read it
                cached.append(df)
                write_retention(df, path, batch_id)
            else:
                log.error("keepbinlog enabled but %s unset", cfg.BINLOG_PATH)

        records = cdc.parse_envelopes(df)
        row_cols = [OP_COL, TS_COL, cdc.POS_COL, cdc.VALUE_COL]
        cap = LakeTable.MERGE_COLLECT_MAX_ROWS
        # ONE driver collect of every table's rows (N7); the metadata
        # and each table's slice come from it with no further job
        rows = records.limit(cap + 1).toArrow()
        if rows.num_rows <= cap:
            meta = rows.group_by(
                [cdc.DB_COL, cdc.TABLE_COL, cdc.SCHEMA_COL]
            ).aggregate([(TS_COL, "max")])
            meta_rows = list(zip(*(
                meta[c].to_pylist()
                for c in (cdc.DB_COL, cdc.TABLE_COL, cdc.SCHEMA_COL,
                          f"{TS_COL}_max")
            )))
            # the parsed frame's types and nullability, so both sources
            # commit the same schema
            row_schema = records.select(*row_cols).schema

            def table_rows(tc: TableConfig) -> DataFrame:
                mine = pc.and_(
                    pc.equal(rows[cdc.DB_COL], tc.db),
                    pc.equal(rows[cdc.TABLE_COL], tc.table),
                )
                local = rows.filter(mine).select(row_cols)
                # one partition: the dedup window needs no exchange
                return spark.createDataFrame(local, row_schema).coalesce(1)
        else:
            # N4/N5: past the cap the same per-table plan reads a
            # repartitioned, persisted input
            src = df.repartition(cfg.source_parallelism(options)).persist()
            cached.append(src)
            records = cdc.parse_envelopes(src)
            meta_rows = records.groupBy(
                cdc.DB_COL, cdc.TABLE_COL, cdc.SCHEMA_COL
            ).agg(F.max(TS_COL)).collect()

            def table_rows(tc: TableConfig) -> DataFrame:
                return records.where(
                    (F.col(cdc.DB_COL) == tc.db)
                    & (F.col(cdc.TABLE_COL) == tc.table)
                ).select(*row_cols)
        if not meta_rows:
            return {}

        # N10: latest declared in-band schema wins per table (mid-batch
        # schema change), ranked over every row of the table; a
        # deterministic tie-break on the schema string
        best_schema: dict[tuple[str, str], tuple] = {}
        for r in meta_rows:
            key = (r[0], r[1])
            rank = (r[3] if r[3] is not None else -1, r[2] or "")
            if key not in best_schema or rank > best_schema[key]:
                best_schema[key] = rank
        schema_by_table = {k: v[1] for k, v in best_schema.items()}

        status: dict[str, str] = {}
        work: dict[tuple[str, str], TableConfig] = {}
        for key in schema_by_table:
            name = f"{key[0]}.{key[1]}"
            if key in candidates:
                work[key] = candidates[key]
            elif key in config_errors:
                status[name] = f"skipped: {config_errors[key]}"
                log.error("table %s skipped: %s", name, config_errors[key])
            else:
                status[name] = "skipped: no options configured for table"
                log.error("table %s skipped: unconfigured", name)
        if not work:
            return status

        # per-table fan-out: independent Catalyst plans, submitted from
        # driver threads so table jobs overlap (Spark schedules them
        # concurrently); error isolation preserved per future (Q1 fix)
        from concurrent.futures import ThreadPoolExecutor

        def run_one(item):
            (db, table), tc = item
            name = f"{db}.{table}"
            try:
                _sync_one_table(
                    spark, table_rows(tc), tc, schema_by_table[(db, table)],
                    batch_id,
                )
                return name, "ok"
            except Exception as ex:  # Q1 fix: isolate per table
                log.exception("table %s failed in batch %s", name, batch_id)
                return name, f"skipped: {ex}"

        with ThreadPoolExecutor(max_workers=min(4, len(work))) as ex:
            for name, st in ex.map(run_one, work.items()):
                status[name] = st
        return status
    finally:
        for d in cached:
            d.unpersist()


def _candidate_tables(options: dict[str, str]) -> set[tuple[str, str]]:
    """(db, table) pairs declared in the option namespace
    ("{db}.{table}.hoodie..." keys, N12)."""
    out = set()
    for k in options:
        parts = k.split(".hoodie.", 1)
        if len(parts) == 2 and parts[0].count(".") == 1:
            db, table = parts[0].split(".", 1)
            out.add((db, table))
    return out


def _sync_one_table(
    spark: SparkSession,
    rows: DataFrame,
    tc: TableConfig,
    schema_json: str,
    batch_id: int | str,
) -> None:
    """N8-N21 for one (db, table) over its envelope rows (``_op``,
    ``_ts``, ``_pos``, ``value``): key, dedup, decode, transform, merge."""
    keyed = cdc.with_record_key(
        rows, tc.db, tc.table, tc.record_key_fields, tc.keygenerator
    )
    survivors = cdc.lww_dedup(keyed, tc.dedup_order_fields)  # N9
    schema = cdc.decode_schema(schema_json)  # N17
    decoded = cdc.decode_rows(survivors, schema, tc.json_options)  # N18

    if tc.transformer_sql:  # N19 — meta cols hidden from user SQL
        user_cols = [c for c in decoded.columns if not c.startswith("_")]
        transformed = apply_transformer(
            spark, decoded.select(*user_cols), tc.transformer_sql
        )
        # re-attach meta on the record-key columns — the transformer must
        # preserve them (documented requirement); meta sits beside them in
        # `decoded` already, no intermediate self-join needed
        meta = decoded.select(KEY_COL, TS_COL, OP_COL, *tc.record_key_fields)
        decoded = transformed.join(meta, on=tc.record_key_fields, how="inner")

    batch = decoded.drop(cdc.POS_COL)
    lake = _cached_lake(
        spark, tc.path, tc.buckets, tc.partition_fields or None,
        global_index=tc.global_index or None,
        finalizer_spec=tc.commit_finalizer,
    )
    lake.merge(batch, batch_id=f"{batch_id}", mode=tc.write_mode)
    if tc.write_mode == "mor" and tc.compact_max_deltas > 0:
        # inline compaction: bounds read amplification to at most
        # compact_max_deltas delta files per bucket, cost scoped to the
        # buckets actually due (no-op on most batches)
        from hudi_spark_plus_spark.table.maintenance import maybe_compact

        maybe_compact(lake, max_deltas_per_bucket=tc.compact_max_deltas)
