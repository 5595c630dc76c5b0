"""Config / option layer — reference API parity (SURVEY N12-N15, H9).

Reproduces the reference's documented option surface exactly
(README.md:47-67, BinlogSyncHoodieCommand.scala:29-63):

* global knobs: ``option.source.shuffle.parallelism`` (default 8),
  ``option.sink.shuffle.parallelism`` (default 2),
  ``option.keepbinlog.enable`` (default false), ``option.binlog.path``,
  ``option.hoodie.path`` (with ``{db}``/``{table}`` placeholders)
* per-table namespaced keys ``"{db}.{table}.<key>"``:
  ``hoodie.datasource.write.recordkey.field`` (required),
  ``hoodie.datasource.write.precombine.field`` (required),
  ``hoodie.table.name`` (required), ``hoodie.base.path``,
  ``hoodie.datasource.write.keygenerator.class``,
  ``hoodie.transformer.sql`` (``<SRC>`` placeholder SQL hook)
* the reference's quirky default ``timestampFormat``
  (BinlogSyncHoodieCommand.scala:59-60) injected into JSON decode options
  unless the table config overrides it.

All of this is driver-side dict manipulation — no Spark jobs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Global option keys (BinlogSyncHoodieCommand.scala:29-42)
SOURCE_SHUFFLE_PARALLELISM = "option.source.shuffle.parallelism"
SOURCE_SHUFFLE_PARALLELISM_DEFAULT = 8
# accepted for the reference's option surface; each merge sizes its own
# write (LakeTable._rewrite_units), so no engine path reads it
SINK_SHUFFLE_PARALLELISM = "option.sink.shuffle.parallelism"
KEEP_BINLOG_ENABLE = "option.keepbinlog.enable"
BINLOG_PATH = "option.binlog.path"
HOODIE_PATH = "option.hoodie.path"

# Per-table option keys (README.md:55-64; Hudi key constants the
# reference pulls from KeyGeneratorOptions / HoodieWriteConfig)
RECORDKEY_FIELD = "hoodie.datasource.write.recordkey.field"
PRECOMBINE_FIELD = "hoodie.datasource.write.precombine.field"
# Partition-path half of the keygen pair (H4; KeyGeneratorOptions'
# PARTITIONPATH_FIELD_NAME — the option Hudi's Simple/ComplexKeyGenerator
# read, README.md:59,65): comma-separated payload columns whose rendered
# values become the table's partition path. Ignored (forced empty) under
# NonpartitionedKeyGenerator, matching that class's contract.
PARTITIONPATH_FIELD = "hoodie.datasource.write.partitionpath.field"
TABLE_NAME = "hoodie.table.name"
BASE_PATH = "hoodie.base.path"
KEYGENERATOR_CLASS = "hoodie.datasource.write.keygenerator.class"

# Hudi index type (HoodieIndexConfig.INDEX_TYPE): the GLOBAL_* values
# switch record identity from (partition, key) to key alone — an upsert
# whose partition value changed relocates the record. Non-global values
# (BLOOM, SIMPLE, BUCKET, ...) keep the default per-partition identity.
INDEX_TYPE = "hoodie.index.type"
TRANSFORMER_SQL = "hoodie.transformer.sql"

# Engine extensions (documented defaults, not in the reference)
BUCKETS = "engine.table.buckets"
BUCKETS_DEFAULT = 16
DEDUP_ORDER_FIELDS = "engine.dedup.order.fields"  # payload tie-break cols
# "cow" (rewrite affected buckets; merge-free reads) or "mor" (append
# delta files; latest-per-key resolved at read time, compact() folds)
WRITE_MODE = "engine.table.write.mode"
WRITE_MODE_DEFAULT = "cow"
# MOR inline-compaction trigger: compact a bucket once it accumulates
# this many delta files (bounds snapshot-read amplification); 0 disables
COMPACT_MAX_DELTAS = "engine.table.compact.max-deltas-per-bucket"
COMPACT_MAX_DELTAS_DEFAULT = 10
# Commit-publish finalizer plugin (K9 reflective pattern, same
# "module:function" spec grammar as keygen plugins): the loaded object
# is called with the table path and returns a commit_log finalizer —
# how a sync deployment routes every commit publish through an object
# store's conditional-write API (e.g. the S3 binding,
# table/s3_finalizer.py + table/s3_facade.py's env-bound factory).
# Default: unset — POSIX hard-link publish.
COMMIT_FINALIZER = "engine.table.commit.finalizer"

# Reference's default JSON decode timestampFormat — reproduced verbatim
# (BinlogSyncHoodieCommand.scala:60); the per-table config map doubles as
# Spark JSON-source options (ibid.:192-195).
TIMESTAMP_FORMAT_KEY = "timestampFormat"
TIMESTAMP_FORMAT_DEFAULT = "yyyy-MM-dd'T'HH:mm:ss'['.SSS']['XXX']'"

PLACEHOLDER_DB = "{db}"
PLACEHOLDER_TABLE = "{table}"


class TableConfigError(ValueError):
    """Missing/invalid per-table configuration (reference aborts the whole
    sink pass here — quirk Q1; we raise per table and let the caller
    isolate, SURVEY §2.1)."""


@dataclass
class TableConfig:
    db: str
    table: str
    record_key_fields: list[str]
    precombine_field: str
    table_name: str
    path: str
    keygenerator: str = "composite"
    partition_fields: list[str] = field(default_factory=list)
    transformer_sql: str | None = None
    dedup_order_fields: list[str] = field(default_factory=list)
    json_options: dict[str, str] = field(default_factory=dict)
    buckets: int = BUCKETS_DEFAULT
    write_mode: str = WRITE_MODE_DEFAULT
    compact_max_deltas: int = COMPACT_MAX_DELTAS_DEFAULT
    global_index: bool = False
    commit_finalizer: str | None = None


def table_options(options: dict[str, str], db: str, table: str) -> dict[str, str]:
    """Select ``"{db}.{table}."``-prefixed options, prefix stripped (N12)."""
    prefix = f"{db}.{table}."
    return {
        k[len(prefix):]: v for k, v in options.items() if k.startswith(prefix)
    }


def resolve_table_path(
    options: dict[str, str], tbl_opts: dict[str, str], db: str, table: str
) -> str:
    """Per-table base path else templated global path (N14,
    BinlogSyncHoodieCommand.scala:159-169)."""
    if BASE_PATH in tbl_opts:
        return tbl_opts[BASE_PATH]
    base = options.get(HOODIE_PATH)
    if not base:
        raise TableConfigError(
            f"{db}.{table}: neither {BASE_PATH} nor {HOODIE_PATH} configured"
        )
    return base.replace(PLACEHOLDER_DB, db).replace(PLACEHOLDER_TABLE, table)


def resolve_table_config(
    options: dict[str, str], db: str, table: str
) -> TableConfig:
    """Validate + materialize one table's config (N13/N14; fail-fast with
    a per-table error instead of the reference's silent pass abort)."""
    t = table_options(options, db, table)
    if not t:
        raise TableConfigError(f"no options configured for table {db}.{table}")
    missing = [k for k in (RECORDKEY_FIELD, PRECOMBINE_FIELD, TABLE_NAME) if k not in t]
    if missing:
        raise TableConfigError(f"{db}.{table}: missing required config {missing}")
    json_opts = {
        k: v
        for k, v in t.items()
        if not k.startswith("hoodie.") and not k.startswith("engine.")
    }
    json_opts.setdefault(TIMESTAMP_FORMAT_KEY, TIMESTAMP_FORMAT_DEFAULT)
    keygen = t.get(KEYGENERATOR_CLASS, "composite")
    partition_fields = [
        s.strip() for s in t.get(PARTITIONPATH_FIELD, "").split(",") if s.strip()
    ]
    if keygen.endswith("NonpartitionedKeyGenerator"):
        partition_fields = []  # that keygen's contract: no partition path
    return TableConfig(
        db=db,
        table=table,
        record_key_fields=[s.strip() for s in t[RECORDKEY_FIELD].split(",") if s.strip()],
        precombine_field=t[PRECOMBINE_FIELD],
        table_name=t[TABLE_NAME],
        path=resolve_table_path(options, t, db, table),
        keygenerator=keygen,
        partition_fields=partition_fields,
        transformer_sql=t.get(TRANSFORMER_SQL) or options.get(TRANSFORMER_SQL),
        dedup_order_fields=[
            s.strip()
            for s in t.get(DEDUP_ORDER_FIELDS, options.get(DEDUP_ORDER_FIELDS, "")).split(",")
            if s.strip()
        ],
        json_options=json_opts,
        buckets=int(t.get(BUCKETS, options.get(BUCKETS, BUCKETS_DEFAULT))),
        write_mode=_validated_write_mode(t, options, db, table),
        compact_max_deltas=int(
            t.get(
                COMPACT_MAX_DELTAS,
                options.get(COMPACT_MAX_DELTAS, COMPACT_MAX_DELTAS_DEFAULT),
            )
        ),
        global_index=t.get(INDEX_TYPE, options.get(INDEX_TYPE, ""))
        .upper()
        .startswith("GLOBAL_"),
        commit_finalizer=t.get(
            COMMIT_FINALIZER, options.get(COMMIT_FINALIZER)
        )
        or None,
    )


def _validated_write_mode(
    t: dict[str, str], options: dict[str, str], db: str, table: str
) -> str:
    mode = t.get(WRITE_MODE, options.get(WRITE_MODE, WRITE_MODE_DEFAULT))
    if mode not in ("cow", "mor"):
        raise TableConfigError(
            f"{db}.{table}: {WRITE_MODE} must be cow|mor, got {mode!r}"
        )
    return mode


def source_parallelism(options: dict[str, str]) -> int:
    return int(options.get(SOURCE_SHUFFLE_PARALLELISM, SOURCE_SHUFFLE_PARALLELISM_DEFAULT))


def keep_binlog(options: dict[str, str]) -> bool:
    return str(options.get(KEEP_BINLOG_ENABLE, "false")).lower() == "true"
