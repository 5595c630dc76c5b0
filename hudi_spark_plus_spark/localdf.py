"""Arrow-path construction of SMALL driver-local DataFrames.

``spark.createDataFrame(<python rows>)`` takes the pickled-RDD path: the
rows are split across ``defaultParallelism`` slices and EVERY evaluation
of the frame spins that many Python workers to unpickle a handful of
rows — measured 4.7 s for a 16-row ``coalesce(1).write.parquet`` on
local[32] (one task deserializing 32 python partitions serially),
vs 0.14 s through Arrow (guide §4: the boundary cost is HOW data
crosses, not how much). The engine builds many such frames: metadata
sidecars (ANN centroids/codebooks, NDV sketch-part path mappings),
bounded key lists, and the fixture-query "collect + rebuild so the tmp
dir can be deleted" pattern.

``local_frame`` builds the same frame through ONE Arrow record batch:
single partition, no Python workers on evaluation, exact schema. Any
input Arrow cannot represent (rare nested shapes) falls back to the
classic path, and a frame whose resulting schema differs from the
requested one is rebuilt classically too — callers are guaranteed
bit-identical schema + values either way.

``collect_arrow`` is the way back: ``df.limit(n).toArrow()`` with no
Spark job when the frame is such local data, which is how a small sync
batch reaches its merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructType


def _as_struct(schema) -> StructType:
    if isinstance(schema, StructType):
        return schema
    return StructType.fromDDL(schema)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)``, via one Arrow batch.

    ``rows``: an iterable of ``Row``/tuple/dict (driver-local, SMALL —
    this materializes the list). ``schema``: StructType or DDL string.
    Falls back to the classic builder whenever the Arrow round trip
    cannot reproduce the exact requested schema, so the result is
    always indistinguishable from ``spark.createDataFrame``."""
    struct = _as_struct(schema)
    rows = list(rows)
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        names = struct.fieldNames()
        data = [
            r.asDict(recursive=True)
            if isinstance(r, Row)
            else (r if isinstance(r, dict) else dict(zip(names, r)))
            for r in rows
        ]
        tbl = pa.Table.from_pylist(data, schema=to_arrow_schema(struct))
        df = spark.createDataFrame(tbl, schema=struct)
        if df.schema == struct:
            return df
    except Exception:
        pass
    return spark.createDataFrame(rows, struct)


# The most rows of local data collected with no Spark job, and the most
# rows of a sync slice deduplicated on the driver. Past it the driver's
# per-row Python work costs more than a job: a warm COW ``sync_batch``
# of 4 concurrent tables (4-core host, 7-9 interleaved reps per size)
# ran faster with the driver path at 250-1 000 rows per table (at 1 000,
# 944 against 980 ms) and slower from 1 500 rows (+11%; +35% at 10 000).
LOCAL_COLLECT_MAX_ROWS = 1_000


def collect_arrow(df: DataFrame, limit: int):
    """``df.limit(limit).toArrow()``, with no Spark job for local data.

    While planning, Spark's ``ConvertToLocalRelation`` evaluates
    projections, filters and limits over local data (a frame built with
    ``createDataFrame``). When the optimized plan is one
    ``LocalRelation`` of at most ``LOCAL_COLLECT_MAX_ROWS`` rows,
    ``collect()`` returns its rows without a job and they are converted
    to Arrow here, under the schema ``toArrow`` gives; only a map's
    entries may come in another order, as ``collect()`` returns a map as
    a hash map (Spark maps are unordered). Any other plan is collected
    with ``toArrow()``."""
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    df = df.limit(limit)
    spark = df.sparkSession
    plan = df._jdf.queryExecution().optimizedPlan()
    if (
        plan.getClass().getSimpleName() != "LocalRelation"
        or plan.data().size() > LOCAL_COLLECT_MAX_ROWS
    ):
        return df.toArrow()
    large = spark._jconf.arrowUseLargeVarTypes()
    schema = to_arrow_schema(
        df.schema, error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=large,
    )
    rows = df.collect()
    if not rows:
        return schema.empty_table()
    return LocalDataToArrowConversion.convert(rows, df.schema, large).cast(schema)
