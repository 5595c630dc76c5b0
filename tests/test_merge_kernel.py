"""The per-unit merge kernel (``table/merge_kernel.py``) and its two
placements: one LWW rule for both merge modes, null ``_ts`` included;
the driver and task placements write the same files, for merges and
for compactions (a merge with no batch rows); a compaction leaves the
Spark reads unchanged; a small warm merge and a compaction stay within
their Spark-job budgets; the format reader back-fills every column type
a merge can add.
"""

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from hudi_spark_plus_spark.sources import lake_reader
from hudi_spark_plus_spark.table.lake_table import LakeTable

SCHEMA = "_key string, _ts long, _op string, val string"


def frame(spark, rows, schema=SCHEMA):
    return spark.createDataFrame(rows, schema)


def snapshot_rows(t):
    """The snapshot as sorted ``(_key, <other columns by name>...)``
    tuples."""
    snap = t.snapshot()
    cols = ["_key"] + sorted(c for c in snap.columns if c != "_key")
    return sorted(tuple(r) for r in snap.select(*cols).collect())


@pytest.mark.parametrize(
    "stored_ts, batch_ts, winner",
    [(None, 5, "batch"), (5, None, "stored"), (None, None, "batch")],
)
def test_null_ts_follows_the_one_lww_rule(
    spark, tmp_path, stored_ts, batch_ts, winner
):
    """A null ``_ts`` sorts after every other ``_ts``; between two nulls
    the newer commit wins. Copy-on-write and merge-on-read agree."""
    got = {}
    for mode in ("cow", "mor"):
        t = LakeTable(spark, str(tmp_path / mode), buckets=2)
        t.merge(frame(spark, [("k", stored_ts, "upsert", "stored")]), "b0")
        t.merge(frame(spark, [("k", batch_ts, "upsert", "batch")]), "b1",
                mode=mode)
        got[mode] = [r["val"] for r in t.snapshot().collect()]
    assert got == {"cow": [winner], "mor": [winner]}


def test_format_reader_back_fills_every_added_type(spark, tmp_path):
    """A merge that adds timestamp, decimal and array columns rewrites
    only its key's bucket; the other buckets' files predate the columns
    and read them back as nulls through the ``lake-table`` format."""
    p = str(tmp_path / "t")
    t = LakeTable(spark, p, buckets=4)
    t.merge(frame(spark, [(f"k{i}", 1, "upsert", "a") for i in range(20)]),
            "b0")
    wide = SCHEMA + ", ts timestamp, dec decimal(10,2), arr array<int>"
    t.merge(
        frame(spark, [("k0", 2, "upsert", "b", dt.datetime(2024, 1, 2),
                       Decimal("1.25"), [1, 2])], wide),
        "b1",
    )
    assert len({f.path for f in t.log.live_files()}) > 1
    lake_reader.register(spark)
    df = spark.read.format("lake-table").load(p)
    assert df.count() == 20
    rows = {r["_key"]: r for r in df.collect()}
    assert (rows["k0"]["ts"], rows["k0"]["dec"], rows["k0"]["arr"]) == (
        dt.datetime(2024, 1, 2), Decimal("1.25"), [1, 2]
    )
    assert all(
        (r["ts"], r["dec"], r["arr"]) == (None, None, None)
        for k, r in rows.items() if k != "k0"
    )


def test_relocate_without_a_stored_copy_keeps_the_batch():
    """A file read only because its bloom gave a false positive holds
    no copy of the batch keys: every batch row is kept, nothing is
    tombstoned."""
    import pyarrow as pa

    from hudi_spark_plus_spark.table.merge_kernel import relocate

    def table(keys, part):
        n = len(keys)
        return pa.table({
            "_key": pa.array(keys, pa.string()),
            "_ts": pa.array([1] * n, pa.int64()),
            "_deleted": pa.array([False] * n, pa.bool_()),
            "_commit_ver": pa.array([1] * n, pa.int64()),
            "_part": pa.array([part] * n, pa.string()),
        })

    keep, tombs = relocate(table(["other"], "x"), table(["k1", "k2"], "y"), 2)
    assert keep.to_pylist() == [True, True] and tombs.num_rows == 0


PSCHEMA = "_key string, _ts long, _op string, val string, d string"


def _batches(spark):
    """Five batches over one key space: a load, upserts, deletes, a
    partition move for every third key, and a schema-evolving batch."""
    def rows(keys, ts, op="upsert", tag="v", part=lambda i: "a/b c"):
        return [(f"k{i}", ts, op, f"{tag}{i}", part(i)) for i in keys]

    evolved = PSCHEMA + ", extra bigint"
    return [
        frame(spark, rows(range(40), 1,
                          part=lambda i: "a/b c" if i % 2 else "x"), PSCHEMA),
        frame(spark, rows(range(0, 40, 3), 2, tag="m",
                          part=lambda i: "y"), PSCHEMA),
        frame(spark, rows(range(30, 50), 3, tag="u",
                          part=lambda i: "a/b c" if i % 2 else "x")
              + rows(range(5), 3, op="delete", part=lambda i: "y"), PSCHEMA),
        frame(spark, [(f"k{i}", 4, "upsert", f"e{i}", "x", i)
                      for i in range(45, 55)], evolved),
        frame(spark, rows(range(8, 12), 5, tag="z",
                          part=lambda i: "x"), PSCHEMA),
    ]


SHAPES = {
    "unpartitioned-cow": dict(kw={}, mode="cow"),
    "partitioned-cow": dict(kw=dict(partition_fields=["d"]), mode="cow"),
    "global-cow": dict(kw=dict(partition_fields=["d"], global_index=True),
                       mode="cow"),
    "global-mor": dict(kw=dict(partition_fields=["d"], global_index=True),
                       mode="mor"),
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_driver_and_task_placements_write_the_same_files(
    spark, tmp_path, monkeypatch, shape
):
    """With the collect cap at 0 every merge runs in ``mapInArrow``
    tasks; the manifests (paths masked) and snapshots equal the driver
    placement's, commit by commit."""
    spec = SHAPES[shape]
    batches = _batches(spark)

    def run(name):
        t = LakeTable(spark, str(tmp_path / name), buckets=4, **spec["kw"])
        seen = []
        for i, b in enumerate(batches):
            t.merge(b, f"b{i}", mode=spec["mode"])
            seen.append((
                sorted(
                    (f.partition or "", f.bucket, f.kind, f.rows, f.live_rows,
                     f.min_key, f.max_key, f.bloom, f.bytes,
                     sorted((f.col_stats or {}).items()))
                    for f in t.log.live_files()
                ),
                snapshot_rows(t),
                t.log.latest().schema_json,
            ))
        return seen

    on_driver = run("driver")
    monkeypatch.setattr(LakeTable, "MERGE_COLLECT_MAX_ROWS", 0)
    in_tasks = run("tasks")
    assert in_tasks == on_driver
    if shape != "partitioned-cow":
        # key-only identity: the moves and deletes leave one live copy
        # of each of the 50 surviving keys, in its latest partition
        final = {r[0]: r for r in on_driver[-1][1]}
        assert len(final) == len(on_driver[-1][1]) == 50
        assert [final[k][4] for k in ("k6", "k7", "k9")] == ["y", "a/b c", "x"]


def test_warm_small_cow_merge_runs_at_most_two_jobs(spark, tmp_path):
    """A warm 250-row COW merge into a 16-bucket, 2 000-row table: one
    batch collect (a limit's shuffle and its result stage), nothing
    else."""
    t = LakeTable(spark, str(tmp_path / "t"), buckets=16)

    def batch(n, ts):
        return spark.range(n).select(
            F.concat(F.lit("k"), F.col("id").cast("string")).alias("_key"),
            F.lit(ts).cast("long").alias("_ts"),
            F.lit("upsert").alias("_op"),
            F.col("id").cast("string").alias("val"),
        )

    t.merge(batch(2000, 1), "b0")
    t.merge(batch(250, 2), "b1")  # warm-up
    sc = spark.sparkContext
    sc.setJobGroup("warm-merge", "warm 250-row COW merge")
    try:
        t.merge(batch(250, 3), "b2")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("warm-merge")
    assert len(jobs) <= 2, jobs
    assert t.snapshot().where(F.col("_ts") == 3).count() == 250


@pytest.mark.parametrize("global_index", [False, True])
def test_compaction_on_driver_matches_spark_rewrite(
    spark, tmp_path, monkeypatch, global_index
):
    """``maybe_compact`` rewrites small due units on the driver through
    the kernel; with the advisory size forced below every unit the same
    units are rewritten in one ``mapInArrow`` job. Both leave equal
    snapshots (tombstones included) and equal manifests (paths and
    bytes masked)."""
    from hudi_spark_plus_spark.table.maintenance import maybe_compact

    batches = _batches(spark)

    def run(name):
        t = LakeTable(spark, str(tmp_path / name), buckets=4,
                      partition_fields=["d"], global_index=global_index)
        for i, b in enumerate(batches):
            t.merge(b, f"b{i}", mode="cow" if i == 0 else "mor")
        stats = maybe_compact(t, max_deltas_per_bucket=2)
        snap = t.snapshot(include_deleted=True)
        cols = ["_key"] + sorted(c for c in snap.columns if c != "_key")
        files = sorted(
            (f.partition, f.bucket, f.kind, f.rows, f.live_rows, f.min_key,
             f.max_key, f.bloom, sorted((f.col_stats or {}).items()))
            for f in t.log.live_files()
        )
        return stats, sorted(map(tuple, snap.select(*cols).collect())), files

    on_driver = run("driver")
    assert on_driver[0]["buckets_compacted"] > 0
    monkeypatch.setattr(LakeTable, "_advisory_bytes", lambda self: -1)
    assert run("spark") == on_driver


def _reads(t):
    """``snapshot(include_deleted=True)`` and ``incremental(0)`` as
    sorted row tuples, columns by name — the Spark read path."""
    def rows(df):
        cols = ["_key"] + sorted(c for c in df.columns if c != "_key")
        return sorted(map(tuple, df.select(*cols).collect()))

    return rows(t.snapshot(include_deleted=True)), rows(t.incremental(0))


COMPACT_SHAPES = {
    "unpartitioned": {},
    "partitioned": dict(partition_fields=["d"]),
    "global": dict(partition_fields=["d"], global_index=True),
}


@pytest.mark.parametrize("shape", sorted(COMPACT_SHAPES))
def test_compact_leaves_spark_reads_unchanged(
    spark, tmp_path, monkeypatch, shape
):
    """``compact()`` of a merge-on-read table (deletes, partition
    moves, a schema-evolving delta) rewrites every unit through the
    kernel, on the driver and — with the advisory size forced below
    every unit — in tasks. Each leaves the snapshot (tombstones
    included) and ``incremental(0)`` row-for-row equal to the Spark
    reads of the deltas before it, with no delta file live; the two
    placements write equal manifests (paths and bytes masked)."""
    from hudi_spark_plus_spark.table.maintenance import compact

    batches = _batches(spark)

    def run(name):
        t = LakeTable(spark, str(tmp_path / name), buckets=4,
                      **COMPACT_SHAPES[shape])
        for i, b in enumerate(batches):
            t.merge(b, f"b{i}", mode="cow" if i == 0 else "mor")
        before = _reads(t)
        stats = compact(t)
        live = t.log.live_files()
        assert stats["files_after"] == len(live) < stats["files_before"]
        assert not any(f.kind == "delta" for f in live)
        assert _reads(t) == before
        return sorted(
            (f.partition, f.bucket, f.kind, f.rows, f.live_rows, f.min_key,
             f.max_key, f.bloom, sorted((f.col_stats or {}).items()))
            for f in live
        )

    on_driver = run("driver")
    monkeypatch.setattr(LakeTable, "_advisory_bytes", lambda self: -1)
    assert run("tasks") == on_driver


def test_compact_job_counts(spark, tmp_path, monkeypatch):
    """``compact()`` of a small 16-bucket table runs no Spark job; with
    the advisory size below its units it runs exactly one (the
    ``mapInArrow`` rewrite)."""
    from hudi_spark_plus_spark.table.maintenance import compact

    t = LakeTable(spark, str(tmp_path / "t"), buckets=16)

    def batch(n, ts):
        return spark.range(n).select(
            F.concat(F.lit("k"), F.col("id").cast("string")).alias("_key"),
            F.lit(ts).cast("long").alias("_ts"),
            F.lit("upsert").alias("_op"),
            F.col("id").cast("string").alias("val"),
        )

    sc = spark.sparkContext

    def jobs_of_compact(group):
        sc.setJobGroup(group, "compact()")
        try:
            compact(t)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return sc.statusTracker().getJobIdsForGroup(group)

    t.merge(batch(2000, 1), "b0")
    t.merge(batch(500, 2), "b1", mode="mor")
    assert len(jobs_of_compact("compact-driver")) == 0
    t.merge(batch(500, 3), "b2", mode="mor")
    monkeypatch.setattr(LakeTable, "_advisory_bytes", lambda self: -1)
    assert len(jobs_of_compact("compact-tasks")) == 1
    assert len(t.log.live_files()) == 16
    assert t.snapshot().where(F.col("_ts") == 3).count() == 500


def test_noop_compaction_publishes_nothing(spark, tmp_path):
    """A compaction that selects no live file publishes no version:
    ``compact_buckets`` of units that hold no file, and ``compact()`` of
    a table whose live set is empty."""
    from hudi_spark_plus_spark.table.maintenance import (
        compact,
        compact_buckets,
    )

    zero = {"buckets_compacted": 0, "files_before": 0, "files_after": 0}
    t = LakeTable(spark, str(tmp_path / "t"), buckets=4)
    t.merge(frame(spark, [("k1", 1, "upsert", "a")]), "b0")
    v = t.log.latest().version
    assert compact_buckets(t, {1}, units={(None, 99)}) == zero
    assert compact_buckets(t, {99}) == zero
    assert t.log.latest().version == v

    p = LakeTable(spark, str(tmp_path / "p"), buckets=4,
                  partition_fields=["d"])
    p.merge(frame(spark, [("k1", 1, "upsert", "a", "x")], PSCHEMA), "b0")
    p.delete_partitions(["x"])
    v = p.log.latest().version
    assert p.log.live_files() == []
    assert compact(p) == {"files_before": 0, "files_after": 0}
    assert p.log.latest().version == v


def test_compact_carries_units_that_are_already_compact(spark, tmp_path):
    """Straight after one COW merge every unit of a 4-bucket table holds
    one base file: ``compact()`` publishes nothing. After a MOR merge
    into one unit, only that unit is rewritten; the others keep their
    paths."""
    from hudi_spark_plus_spark.table.maintenance import compact

    t = LakeTable(spark, str(tmp_path / "t"), buckets=4)
    t.merge(frame(spark, [(f"k{i}", 1, "upsert", f"v{i}") for i in range(40)]),
            "b0")
    before = t.log.latest()
    assert len({f.bucket for f in before.files}) == len(before.files) == 4
    assert compact(t) == {"files_before": 4, "files_after": 4}
    assert t.log.latest().version == before.version

    t.merge(frame(spark, [("k1", 2, "upsert", "w")]), "b1", mode="mor")
    delta = [f for f in t.log.live_files() if f.kind == "delta"]
    assert len(delta) == 1
    hot = delta[0].bucket
    assert compact(t) == {"files_before": 5, "files_after": 4}
    after = t.log.live_files()
    assert {f.path for f in after if f.bucket != hot} == {
        f.path for f in before.files if f.bucket != hot}
    assert [f.kind for f in after if f.bucket == hot] == ["base"]
    assert t.log.latest().version == before.version + 2
    assert {r["_key"]: r["val"] for r in t.snapshot().collect()}["k1"] == "w"


def test_compact_carries_an_appended_file_with_a_repeated_key(spark, tmp_path):
    """``compact()`` resolves the units it rewrites and carries the
    rest as written: a unit whose one base file an ``insert`` wrote
    with a key twice keeps both rows, as ``snapshot()`` showed them
    before. Once the unit holds two files it is rewritten, and the
    key's latest row wins."""
    from hudi_spark_plus_spark.table.maintenance import compact

    schema = "_key string, _ts long, val string"
    t = LakeTable(spark, str(tmp_path / "t"), buckets=1)
    dup = [("k1", 1, "a"), ("k1", 2, "b"), ("k2", 1, "c")]
    t.insert(frame(spark, dup, schema), "b0")
    v = t.log.latest().version

    def rows():
        return sorted(tuple(r) for r in t.snapshot().select(
            "_key", "_ts", "val").collect())

    assert rows() == dup
    assert compact(t) == {"files_before": 1, "files_after": 1}
    assert t.log.latest().version == v
    assert rows() == dup

    t.insert(frame(spark, [("k3", 1, "d")], schema), "b1")
    assert compact(t) == {"files_before": 2, "files_after": 1}
    assert rows() == [("k1", 2, "b"), ("k2", 1, "c"), ("k3", 1, "d")]
