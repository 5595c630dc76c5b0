"""Z-order clustering tests (SURVEY M5 / reference BitUtil K3)."""

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hudi_spark_plus_spark.table.lake_table import LakeTable
from hudi_spark_plus_spark.table.zorder import (
    deinterleave_bits,
    interleave_bits,
    with_zvalue,
    zorder_cluster_table,
    zorder_write,
)


def test_interleave_roundtrip(spark):
    """Morton interleave/deinterleave are exact inverses (K3 parity:
    BitUtil.interleave/deinterleave)."""
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (5, 9), (12345, 67890), (2**20 - 1, 2**20 - 1)],
        "x int, y int",
    )
    z = df.withColumn("z", interleave_bits("x", "y", bits=20))
    e, o = deinterleave_bits("z", bits=20)
    back = z.select("x", "y", e.alias("x2"), o.alias("y2")).collect()
    for r in back:
        assert (r["x"], r["y"]) == (r["x2"], r["y2"])
    # known value: interleave(1, 0) = 1, interleave(0, 1) = 2
    vals = {(r["x"], r["y"]): None for r in back}
    known = {
        (r["x"], r["y"]): r["z"]
        for r in z.collect()
    }
    assert known[(1, 0)] == 1 and known[(0, 1)] == 2


def test_zorder_write_tightens_file_stats(spark, sf_dir, tmp_path):
    """After Z-order clustering on (l_partkey, l_suppkey), per-file
    min/max ranges on BOTH columns shrink vs the unclustered layout —
    the file-skipping property."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    plain, zed = str(tmp_path / "plain"), str(tmp_path / "zed")
    li.repartition(8).write.parquet(plain)
    zorder_write(li, zed, "l_partkey", "l_suppkey", n_files=8)

    def avg_span(path, col):
        spans = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(len(md.schema))}[col]
            mn = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
            mx = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
            spans.append(mx - mn)
        return sum(spans) / len(spans)

    for col in ("l_partkey", "l_suppkey"):
        assert avg_span(zed, col) < avg_span(plain, col) * 0.7, col


def test_zorder_cluster_table_preserves_data(spark, tmp_path):
    lake = LakeTable(spark, str(tmp_path / "t"), buckets=4)
    rows = [(f"k{i}", 1, "upsert", f"v{i}", i % 50, (i * 7) % 50) for i in range(200)]
    df = spark.createDataFrame(
        rows, "_key string, _ts long, _op string, val string, a int, b int"
    )
    lake.merge(df, "b0")
    before = {r["_key"]: (r["a"], r["b"]) for r in lake.snapshot().collect()}
    zorder_cluster_table(lake, "a", "b")
    after = {r["_key"]: (r["a"], r["b"]) for r in lake.snapshot().collect()}
    assert before == after
    assert lake.log.latest().operation == "cluster"
    # merge still works post-clustering
    lake.merge(
        spark.createDataFrame(
            [("k5", 2, "upsert", "v5x", 1, 1)],
            "_key string, _ts long, _op string, val string, a int, b int",
        ),
        "b1",
    )
    assert {r["val"] for r in lake.snapshot().where(F.col("_key") == "k5").collect()} == {"v5x"}


def test_zvalue_plan_has_no_global_window(spark, sf_dir):
    """The r1 implementation rank-normalized through a no-partition
    percent_rank window — a single-task global sort of the whole table.
    The quantile-bin rewrite must plan as map-side expressions only: no
    Window operator, no SinglePartition exchange anywhere."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey", "l_suppkey"
    )
    plan = (
        with_zvalue(li, "l_partkey", "l_suppkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "SinglePartition" not in plan


def test_string_surrogate_preserves_order_across_lengths(spark):
    """The 6-byte prefix surrogate must be order-preserving for
    VARIABLE-length strings: without zero-padding, 'b' (one byte, 0x62)
    would sort below 'aa' (two bytes, 0x6161) numerically while sorting
    above it lexicographically."""
    from hudi_spark_plus_spark.table.zorder import _surrogate_expr

    vals = ["", "a", "aa", "ab", "b", "ba", "zz", "zzz", "zzzzzzz"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    rows = df.select("s", _surrogate_expr("string", "s").alias("g")).collect()
    by_surrogate = [r["s"] for r in sorted(rows, key=lambda r: r["g"])]
    assert by_surrogate == sorted(vals)


def test_zvalue_string_column_surrogate(spark):
    """String cluster columns bin through an order-preserving 6-byte
    prefix surrogate; Z-values group equal/nearby strings together."""
    rows = [(f"key_{chr(97 + i % 5)}", i) for i in range(100)]
    df = spark.createDataFrame(rows, "s string, n int")
    z = with_zvalue(df, "s", "n")
    got = z.select("s", "_z").collect()
    assert len(got) == 100  # no rows lost, no error on string dtype
    # equal strings must land in the same string-dimension bin: deinterleave
    # the even bits back out and check per-string uniqueness
    e, _o = deinterleave_bits("_z", bits=10)
    per_s = (
        z.select("s", e.alias("sbin")).distinct().groupBy("s").count().collect()
    )
    assert all(r["count"] == 1 for r in per_s)


def test_interleave_n_roundtrip_and_locality(spark):
    """3-column interleave: bit i of column j must land at bit 3i+j
    (checked against a Python reference), and the 3-D z-order must
    place near-equal triples at near-equal codes."""
    from hudi_spark_plus_spark.table.zorder import interleave_bits_n
    from pyspark.sql import functions as F

    rows = [(a, b, c) for a in (0, 3, 7) for b in (0, 5) for c in (1, 6)]
    df = spark.createDataFrame(rows, "a long, b long, c long")
    got = {
        (r["a"], r["b"], r["c"]): r["z"]
        for r in df.withColumn(
            "z", interleave_bits_n([F.col("a"), F.col("b"), F.col("c")], bits=3)
        ).collect()
    }

    def ref(a, b, c):
        z = 0
        for i in range(3):
            z |= ((a >> i) & 1) << (3 * i)
            z |= ((b >> i) & 1) << (3 * i + 1)
            z |= ((c >> i) & 1) << (3 * i + 2)
        return z

    for (a, b, c), z in got.items():
        assert z == ref(a, b, c), (a, b, c)


def test_zorder_write_three_columns(spark, sf_dir, tmp_path):
    """N-column path end-to-end: same logical data, and a 3-sided
    predicate touches fewer files than the unsorted layout."""
    from hudi_spark_plus_spark.sources.loaders import load_table
    from hudi_spark_plus_spark.table.zorder import zorder_write
    from pyspark.sql import functions as F

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    zdir, pdir = str(tmp_path / "z3"), str(tmp_path / "p3")
    zorder_write(o, zdir, "o_custkey", "o_totalprice", 16, "o_orderkey")
    o.repartition(16).write.parquet(pdir)
    pred = (
        (F.col("o_custkey") < 100)
        & (F.col("o_totalprice") < 50000)
        & (F.col("o_orderkey") < 30000)
    )

    def hits(p):
        return (
            spark.read.parquet(p).where(pred)
            .select(F.input_file_name()).distinct().count()
        )

    assert spark.read.parquet(zdir).where(pred).count() == o.where(pred).count()
    assert hits(zdir) <= hits(pdir)


def test_partition_scoped_clustering(spark, tmp_path):
    """OPTIMIZE ... WHERE: clustering only the named partition rewrites
    that partition's files, carries every other partition's files BY
    REFERENCE (identical manifest paths), preserves the logical table
    exactly (tombstones and MOR deltas in the scoped partition fold),
    and refuses the one unsafe shape (GLOBAL index + live deltas)."""
    lake = LakeTable(
        spark, str(tmp_path / "p"), buckets=2, partition_fields=["day"]
    )
    rows = [
        (f"k{i}", 1, "upsert", f"v{i}", ["mon", "tue", "wed"][i % 3],
         i % 50, (i * 7) % 50)
        for i in range(120)
    ]
    sch = ("_key string, _ts long, _op string, val string, day string, "
           "a int, b int")
    lake.merge(spark.createDataFrame(rows, sch), "b0")
    # churn INSIDE the target partition: a delete + a MOR delta
    lake.merge(
        spark.createDataFrame(
            [("k0", 2, "delete", "", "mon", 0, 0)], sch), "b1")
    lake.merge(
        spark.createDataFrame(
            [("k3", 2, "upsert", "v3x", "mon", 3, 21)], sch), "b2",
        mode="mor")
    before_state = {
        r["_key"]: (r["val"], r["day"]) for r in lake.snapshot().collect()
    }
    other = {
        f.path for f in lake.log.live_files() if f.partition != "mon"
    }
    zorder_cluster_table(lake, "a", "b", partitions=["mon"])
    assert lake.log.latest().operation == "cluster"
    after_files = lake.log.live_files()
    assert {
        f.path for f in after_files if f.partition != "mon"
    } == other, "untouched partitions were rewritten"
    mon = [f for f in after_files if f.partition == "mon"]
    assert mon and all(f.kind == "base" for f in mon), "deltas must fold"
    assert all(
        (f.col_stats or {}).get("a") for f in mon
    ), "clustered files must carry cluster-column stats"
    assert {
        r["_key"]: (r["val"], r["day"]) for r in lake.snapshot().collect()
    } == before_state
    # unpartitioned tables refuse the parameter
    flat = LakeTable(spark, str(tmp_path / "f"), buckets=2)
    flat.merge(
        spark.createDataFrame(
            [("x", 1, "upsert", "v", "mon", 1, 2)], sch), "b0")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="partitioned"):
        zorder_cluster_table(flat, "a", "b", partitions=["mon"])


def test_partition_scoped_clustering_refuses_global_index_deltas(
    spark, tmp_path
):
    lake = LakeTable(
        spark, str(tmp_path / "g"), buckets=2,
        partition_fields=["day"], global_index=True,
    )
    sch = ("_key string, _ts long, _op string, val string, day string, "
           "a int, b int")
    lake.merge(
        spark.createDataFrame(
            [("k1", 1, "upsert", "v", "mon", 1, 2)], sch), "b0")
    lake.merge(
        spark.createDataFrame(
            [("k1", 2, "upsert", "v2", "tue", 1, 2)], sch), "b1",
        mode="mor")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="GLOBAL-index"):
        zorder_cluster_table(lake, "a", "b", partitions=["tue"])
