"""Per-micro-batch CDC sync command (SURVEY §3 "PySpark-native redesign").

The Spark-first rebuild of BinlogSyncHoodieCommand.run
(BinlogSyncHoodieCommand.scala:220-283): one all-DataFrame pipeline per
micro-batch —

    repartition (N4) -> persist (N5) -> [retention (N6/Q4-fixed)]
    -> parse+explode (N7) -> key (N8) -> LWW dedup (N9)
    -> distinct tables (N10) -> per-table decode (N16-N18)
    -> optional SQL transformer (N19) -> one-pass LWW merge (H1+H2)

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
    # N4: unconditional round-robin repartition — probing the current
    # partition count via df.rdd would force an RDD conversion of the
    # batch plan on every micro-batch just to sometimes skip one shuffle
    n_src = cfg.source_parallelism(options)
    df = df.repartition(n_src)

    # Candidate tables are enumerable from the option namespace BEFORE
    # touching data, so keying/bucketing fold into the one metadata job.
    candidates: dict[tuple[str, str], TableConfig] = {}
    config_errors: dict[tuple[str, str], str] = {}
    for db, table in _candidate_tables(options):
        try:
            candidates[(db, table)] = cfg.resolve_table_config(options, db, table)
        except TableConfigError as ex:
            config_errors[(db, table)] = str(ex)

    df = df.persist()  # N5: plan fans out into retention + N tables
    try:
        if cfg.keep_binlog(options):
            path = options.get(cfg.BINLOG_PATH)
            if path:
                write_retention(df, path, batch_id)
            else:
                log.error("keepbinlog enabled but %s unset", cfg.BINLOG_PATH)
        # (no separate count(): the metadata collect below is the first
        # consumer and fills the cache)

        records = cdc.parse_envelopes(df)
        if candidates:
            keyed = cdc.with_record_key(
                records,
                {k: c.record_key_fields for k, c in candidates.items()},
                {k: c.keygenerator for k, c in candidates.items()},
            )  # unconfigured tables -> null _key (when-chain falls through)
        else:
            keyed = records.withColumn(KEY_COL, F.lit(None).cast("string"))

        # ONE driver collect (N10 + latest schema per table): grouped
        # (db, table, schema) with max event ts. Each merge finds the
        # units it touches in its own batch collect.
        meta_rows = (
            keyed.groupBy(
                F.col(cdc.DB_COL), F.col(cdc.TABLE_COL), F.col(cdc.SCHEMA_COL)
            )
            .agg(F.max(TS_COL).alias("mx"))
            .collect()
        )
        if not meta_rows:
            return {}

        # latest declared in-band schema wins per table (mid-batch schema
        # change); deterministic tie-break on the schema string
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

        # per-table tie-break fields: when every table agrees (the common
        # case) one plain expression per position suffices; otherwise a
        # CASE over (db, table) applies each table's own fields within
        # the single dedup pass
        field_lists = [tuple(tc.dedup_order_fields) for tc in work.values()]
        order_exprs = []
        if len(set(field_lists)) == 1:
            order_exprs = [cdc.tie_break_expr(f) for f in field_lists[0]]
        else:
            max_order = max(len(fl) for fl in field_lists)
            for i in range(max_order):
                e = F.lit(None).cast("decimal(38,9)")
                for (db, table), tc in work.items():
                    if i < len(tc.dedup_order_fields):
                        cond = (F.col(cdc.DB_COL) == db) & (
                            F.col(cdc.TABLE_COL) == table
                        )
                        e = F.when(
                            cond, cdc.tie_break_expr(tc.dedup_order_fields[i])
                        ).otherwise(e)
                order_exprs.append(e)
        survivors = cdc.lww_dedup(
            keyed.where(F.col(KEY_COL).isNotNull()), order_exprs=order_exprs
        ).persist()

        try:
            # per-table fan-out: independent Catalyst plans, submitted from
            # driver threads so table jobs overlap (Spark schedules them
            # concurrently); error isolation preserved per future (Q1 fix)
            from concurrent.futures import ThreadPoolExecutor

            def run_one(item):
                (db, table), tc = item
                name = f"{db}.{table}"
                try:
                    _sync_one_table(
                        spark, survivors, tc, schema_by_table[(db, table)],
                        batch_id
                    )
                    return name, "ok"
                except Exception as ex:  # Q1 fix: isolate per table
                    log.exception("table %s failed in batch %s", name, batch_id)
                    return name, f"skipped: {ex}"

            with ThreadPoolExecutor(max_workers=min(4, len(work))) as ex:
                for name, st in ex.map(run_one, work.items()):
                    status[name] = st
        finally:
            survivors.unpersist()
        return status
    finally:
        df.unpersist()


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
    survivors: DataFrame,
    tc: TableConfig,
    schema_json: str,
    batch_id: int | str,
) -> None:
    """N16-N21 for one (db, table): route, decode, transform, merge."""
    part = survivors.where(
        (F.col(cdc.DB_COL) == tc.db) & (F.col(cdc.TABLE_COL) == tc.table)
    )
    schema = cdc.decode_schema(schema_json)  # N17
    decoded = cdc.decode_rows(part, schema, tc.json_options)  # N18

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

    batch = decoded.select(
        *[c for c in decoded.columns if c not in (cdc.DB_COL, cdc.TABLE_COL, cdc.SCHEMA_COL, "_pos")]
    )
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
