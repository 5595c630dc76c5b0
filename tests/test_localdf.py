"""local_frame (localdf.py) — Arrow-path local frames must be
indistinguishable from spark.createDataFrame for every shape the
engine builds, and actually take the Arrow path for the common ones
(single partition = no per-evaluation Python-worker fan-out).
collect_arrow — the job-free way back — must equal ``toArrow()``."""

import datetime
import decimal

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from hudi_spark_plus_spark.localdf import collect_arrow, local_frame


def test_matches_classic_for_arrays(spark):
    sch = "cell int, c array<double>"
    rows = [(i, [float(i), i + 0.5]) for i in range(4)]
    df = local_frame(spark, rows, sch)
    ref = spark.createDataFrame(rows, sch)
    assert df.schema == ref.schema
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, ref.collect()))
    # never more partitions than rows (the classic pickled path fans
    # out to defaultParallelism slices regardless of row count)
    assert df.rdd.getNumPartitions() <= len(rows)


def test_roundtrips_collected_rows_exactly(spark, sf_dir):
    src = spark.read.parquet(f"{sf_dir}/events.parquet").limit(20)
    rows = src.collect()
    df = local_frame(spark, rows, src.schema)
    assert df.schema == src.schema  # incl. timestamp_ntz
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, rows))


def test_decimal_binary_null_and_empty(spark):
    sch = StructType(
        [
            StructField("a", DecimalType(12, 2), True),
            StructField("b", BinaryType(), True),
            StructField("n", StringType(), True),
        ]
    )
    df = local_frame(
        spark, [(decimal.Decimal("1.25"), b"xy", None)], sch
    )
    assert df.schema == sch
    assert df.collect() == [Row(a=decimal.Decimal("1.25"), b=b"xy", n=None)]
    empty = local_frame(spark, [], sch)
    assert empty.schema == sch and empty.count() == 0


def test_row_objects_and_dicts(spark):
    sch = StructType(
        [
            StructField("id", LongType(), True),
            StructField("v", ArrayType(IntegerType(), True), True),
        ]
    )
    df1 = local_frame(spark, [Row(id=1, v=[1, 2])], sch)
    df2 = local_frame(spark, [{"id": 1, "v": [1, 2]}], sch)
    assert df1.collect() == df2.collect() == [Row(id=1, v=[1, 2])]


def test_fallback_preserves_semantics(spark):
    # map keys are a shape from_pylist handles through dicts ambiguously
    # in older arrow versions; whatever path is taken, the result must
    # equal the classic builder's
    sch = "id int, m map<string,int>"
    rows = [(1, {"a": 1})]
    df = local_frame(spark, rows, sch)
    ref = spark.createDataFrame(rows, sch)
    assert df.schema == ref.schema
    assert df.collect() == ref.collect()


def test_double_values_bit_exact(spark):
    vals = [0.1 + 0.2, 1e-300, -0.0, float(2**53 - 1)]
    sch = StructType([StructField("x", DoubleType(), True)])
    df = local_frame(spark, [(v,) for v in vals], sch)
    got = sorted(r["x"] for r in df.collect())
    assert got == sorted(vals)


def _jobs_run(spark, fn):
    sc = spark.sparkContext._jsc.sc()
    before = sc.dagScheduler().nextJobId()
    out = fn()
    return out, sc.dagScheduler().nextJobId() - before


_MATRIX = StructType([
    StructField("s", StringType()),
    StructField("i", IntegerType()),
    StructField("l", LongType()),
    StructField("d", DoubleType()),
    StructField("dec", DecimalType(20, 4)),
    StructField("b", BooleanType()),
    StructField("dt", DateType()),
    StructField("ts", TimestampType()),
    StructField("a", ArrayType(IntegerType())),
    StructField("m", MapType(StringType(), IntegerType())),
    StructField("st", StructType([
        StructField("x", IntegerType()), StructField("y", StringType()),
    ])),
    StructField("bin", BinaryType()),
])


def _matrix_frame(spark):
    """Every column type the engine's batches carry, one all-null row
    among them, as a local frame built from Arrow."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    utc = datetime.timezone.utc
    rows = [
        dict(s="a", i=1, l=2**40, d=1.5, dec=decimal.Decimal("12.3456"),
             b=True, dt=datetime.date(2024, 2, 29),
             ts=datetime.datetime(2024, 3, 10, 6, 59, 59, 123456, utc),
             a=[1, None, 3], m={"k": 1, "n": None}, st={"x": 7, "y": "z"},
             bin=b"\x00\xff"),
        {f.name: None for f in _MATRIX.fields},
        dict(s="", i=-1, l=-(2**62), d=float("-inf"),
             dec=decimal.Decimal("-0.0001"), b=False,
             dt=datetime.date(1969, 12, 31),
             ts=datetime.datetime(1969, 12, 31, 23, 59, 59, 999999, utc),
             a=[], m={}, st={"x": None, "y": None}, bin=b""),
    ]
    tbl = pa.Table.from_pylist(rows, schema=to_arrow_schema(_MATRIX))
    return spark.createDataFrame(tbl, _MATRIX)


def test_collect_arrow_matches_to_arrow_without_a_job(spark):
    """``collect_arrow`` over local data equals ``limit(n).toArrow()``
    (values and schema; map entries in any order) for every type in the
    matrix, for a frame the
    optimizer folds (projection, filter, limit) and for an empty one,
    and runs no Spark job."""
    df = _matrix_frame(spark)
    shapes = [
        df,
        df.where(F.col("i").isNull() | (F.col("i") > 0)).withColumn(
            "k", F.md5(F.coalesce(F.col("s"), F.lit("null")))),
        df.where(F.lit(False)),
    ]
    for frame in shapes:
        got, jobs = _jobs_run(spark, lambda: collect_arrow(frame, 2))
        assert jobs == 0
        want = frame.limit(2).toArrow()
        assert got.schema == want.schema
        # a map's entries are unordered in Spark, and collect() returns
        # them as a hash map: compare them as sets
        assert got.drop(["m"]).equals(want.drop(["m"]))
        assert _entries(got) == _entries(want)
    assert collect_arrow(df.where(F.lit(False)), 5).num_rows == 0


def _entries(tbl):
    return [None if m is None else sorted(m, key=repr)
            for m in tbl.column("m").to_pylist()]


def test_collect_arrow_falls_back_to_to_arrow(spark, monkeypatch):
    """A plan that is not local data, or local data over the bound,
    is collected with ``toArrow()``: the same table, through a job."""
    from hudi_spark_plus_spark import localdf

    plan = spark.range(5).selectExpr("id", "id * 2 AS twice")
    got, jobs = _jobs_run(spark, lambda: collect_arrow(plan, 10))
    assert jobs >= 1 and got.equals(plan.toArrow())
    df = _matrix_frame(spark)
    monkeypatch.setattr(localdf, "LOCAL_COLLECT_MAX_ROWS", 2)
    got, jobs = _jobs_run(spark, lambda: collect_arrow(df, 10))
    assert jobs >= 1 and got.equals(df.limit(10).toArrow())


def test_collect_arrow_keeps_instants_in_a_repeated_local_hour(
    spark, monkeypatch
):
    """Under a non-UTC process and session time zone, the two instants
    that share the local wall time 2024-11-03 01:30 in New York (EDT,
    then EST) stay two instants."""
    import time

    import pyarrow as pa

    utc = datetime.timezone.utc
    first = datetime.datetime(2024, 11, 3, 5, 30, tzinfo=utc)  # 01:30 EDT
    second = datetime.datetime(2024, 11, 3, 6, 30, tzinfo=utc)  # 01:30 EST
    tz_conf = "spark.sql.session.timeZone"
    old_tz = spark.conf.get(tz_conf)
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        spark.conf.set(tz_conf, "America/New_York")
        tbl = pa.table({
            "ts": pa.array([first, second, None], pa.timestamp("us", "UTC")),
            "s": ["edt", "est", "none"],
        })
        df = spark.createDataFrame(tbl, "ts timestamp, s string")
        local = df.where(F.col("s").isin("edt", "est"))
        got, jobs = _jobs_run(spark, lambda: collect_arrow(local, 10))
        assert jobs == 0
        assert got.equals(local.toArrow())
        assert got.column("ts").to_pylist() == [first, second]
    finally:
        spark.conf.set(tz_conf, old_tz)
        monkeypatch.undo()
        time.tzset()
