"""CDC dataflow operators — all-DataFrame (SURVEY §2.1 N7-N11, N16-N18).

The reference implements these as hand-written RDD code invisible to
Catalyst (BinlogSyncHoodieCommand.scala:241-277); here each step is a
declarative DataFrame transform so Catalyst plans the whole pipeline:

    envelope from_json -> posexplode(rows)            (all tables at once)
    -> md5 key -> LWW dedup -> from_json decode        (one table at a time)

The LWW order is defined once (``lww_order``) and applied two ways. A
table's slice of at most ``localdf.LOCAL_COLLECT_MAX_ROWS`` rows
(``operators/sync.py``) is deduplicated on the driver
(``lww_dedup_arrow``) over the key and tie-break values of a projection
that Spark evaluates while planning, so it runs no job. A larger slice
goes through the Spark window (``lww_dedup``): single-partition, with no
exchange, under the batch collect cap; over the cap the window is the
table's one hash exchange. The reference pays two shuffles (groupBy +
the per-key list materialization it implies).
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from hudi_spark_plus_spark.table.keygen import KEY_COL, OP_COL, TS_COL

# Envelope keys (BinlogSyncHoodieCommand.scala:44-52). ``rows`` elements
# are JSON objects surfaced as raw strings (StringType target keeps the
# original text) for the per-table second-stage decode (N18).
ENVELOPE_SCHEMA = StructType(
    [
        StructField("databaseName", StringType()),
        StructField("tableName", StringType()),
        StructField("schema", StringType()),
        StructField("type", StringType()),
        StructField("timestamp", LongType()),
        StructField("rows", ArrayType(StringType())),
    ]
)

DB_COL = "_db"
TABLE_COL = "_table"
SCHEMA_COL = "_schema"
POS_COL = "_pos"
VALUE_COL = "value"
DELETE_OP = "delete"
UPSERT_OP = "upsert"


def parse_envelopes(df: DataFrame, value_col: str = VALUE_COL) -> DataFrame:
    """N7: envelope parse + rows explode.

    One record per row image, envelope metadata carried as flat ``_``
    columns (the reference's ``__meta__`` attachment, scala:246-247).
    ``_pos`` is the row's position within its envelope — the stable
    within-envelope arrival order used for dedup tie-breaks (the
    reference relies on stable sortBy, scala:264-265).
    """
    e = df.select(F.from_json(F.col(value_col), ENVELOPE_SCHEMA).alias("e"))
    x = e.select(
        F.col("e.databaseName").alias(DB_COL),
        F.col("e.tableName").alias(TABLE_COL),
        F.col("e.schema").alias(SCHEMA_COL),
        # anything != "delete" is an upsert (scala:51-52, 272, 276)
        F.when(F.col("e.type") == DELETE_OP, DELETE_OP)
        .otherwise(UPSERT_OP)
        .alias(OP_COL),
        F.col("e.timestamp").alias(TS_COL),
        F.posexplode("e.rows").alias(POS_COL, VALUE_COL),
    )
    return x


def record_key(
    db: str, table: str, fields: list[str], keygen: str = "composite"
) -> Column:
    """N8: record key of one table's rows from its configured key columns.

    Key column values are extracted from the still-encoded row JSON with
    ``get_json_object`` — cheap, avoids decoding full payloads before
    dedup (the reference also keys on the raw JSON record, scala:251-259).

    Keygen: "composite" (default — the reference's md5 recipe, applied
    regardless of keygen class in the reference itself) or "simple" (raw
    single key column as string). Other/unknown generators fall back to
    composite on this pre-decode path — arbitrary plugin keygens need
    decoded columns and apply on the LakeTable-direct path
    (table/keygen.py:record_key_expr).
    """
    vals = [
        F.coalesce(F.get_json_object(F.col(VALUE_COL), f"$.{f}"), F.lit("null"))
        for f in fields
    ]
    if keygen == "simple" and len(vals) == 1:
        return vals[0]
    return F.md5(F.concat_ws("_", F.lit(db), F.lit(table), *vals))


def lww_order(order_fields: list[str] | None = None) -> list[tuple[str, Column]]:
    """The batch last-write-wins order, most significant key first, as
    ``(name, value)`` pairs: envelope timestamp, then the configured
    payload tie-break fields (``tie_break_expr``, named ``_tb<i>``),
    then within-envelope position. Every key sorts descending with nulls
    last, and the first row of a key wins."""
    return (
        [(TS_COL, F.col(TS_COL))]
        + [(f"_tb{i}", tie_break_expr(f)) for i, f in enumerate(order_fields or [])]
        + [(POS_COL, F.col(POS_COL))]
    )


def lww_dedup(df: DataFrame, order_fields: list[str] | None = None) -> DataFrame:
    """N9: last-write-wins dedup — keep the latest operation per key, in
    ``lww_order``.

    Single window (vs the reference's groupBy + per-key list sort,
    scala:260-266).

    ``df`` holds ONE table's rows: the window partitions by ``_key``
    alone, so two tables whose "simple" keys overlap never meet in it.
    """
    order = [v.desc_nulls_last() for _, v in lww_order(order_fields)]
    w = Window.partitionBy(KEY_COL).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def lww_dedup_arrow(rows, order: list[str]):
    """``lww_dedup`` on the driver: ``rows`` is an Arrow table with
    ``_key`` and each ``lww_order`` value under its name; ``order`` is
    those names, in ``lww_order``'s order. Returns the winning row of
    each key, in key order. The sort is stable: of rows that tie on
    every key, the first in input order wins."""
    import pyarrow as pa
    import pyarrow.compute as pc

    idx = pc.sort_indices(
        rows,
        sort_keys=[(KEY_COL, "ascending")] + [(n, "descending") for n in order],
        null_placement="at_end",
    )
    keys = rows[KEY_COL].take(idx)
    if len(keys) == 0:
        return rows
    first = pa.concat_arrays([
        pa.array([True]),
        pc.not_equal(keys[1:], keys[:-1]).combine_chunks(),
    ])
    return rows.take(idx.filter(first))


def tie_break_expr(field: str) -> Column:
    """Numeric tie-break value from the encoded row JSON (null for
    absent or non-numeric values — they fall through to the position
    tie-break). ``decimal(38,9)`` keeps full int64 precision: a double
    would collide values above 2^53."""
    return F.get_json_object(F.col(VALUE_COL), f"$.{field}").try_cast(
        "decimal(38,9)"
    )


def decode_schema(schema_json: str) -> StructType:
    """N17: in-band Spark DataType JSON -> StructType; fail fast if the
    declared type is not a struct (scala:152-157)."""
    dt = StructType.fromJson(json.loads(schema_json))
    if not isinstance(dt, StructType):
        raise ValueError(f"in-band schema is not a struct: {schema_json}")
    return dt


def decode_rows(
    df: DataFrame, schema: StructType, options: dict[str, str] | None = None
) -> DataFrame:
    """N18: second-stage JSON->struct decode with the in-band schema; the
    table config map doubles as Spark JSON options (timestampFormat et al,
    scala:192-206). Keeps engine meta columns alongside ``data.*``."""
    keep = [c for c in df.columns if c != VALUE_COL]
    return df.select(
        *keep,
        F.from_json(F.col(VALUE_COL), schema, options or {}).alias("data"),
    ).select(*keep, "data.*")
