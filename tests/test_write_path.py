"""The write-and-publish guarantees every data-writing commit keeps —
the per-unit kernel's (``LakeTable._rewrite_units``: merges,
compactions, appends, overwrites and retypes) and z-order clustering's
(``LakeTable._write_commit``): a stray part-file in a commit's data
subdir is refused rather than published, a rewrite that loses the
publish race to a concurrent merge is recomputed rather than publishing
a stale live set, a replayed batch costs no Spark job, a tiny append
costs one, an append writes the same files on the driver as in tasks,
every manifest entry the write builds agrees with its file, and Spark
reads back exactly the rows it wrote.
"""

import datetime as dt
import glob
import os
import shutil
from decimal import Decimal

import pyarrow.parquet as pq
import pytest

import hudi_spark_plus_spark.table.lake_table as lt
from hudi_spark_plus_spark.functions.signature_store import SignatureStore
from hudi_spark_plus_spark.table.bloom import KeyBloom
from hudi_spark_plus_spark.table.lake_table import LakeTable, WriteCountMismatch
from hudi_spark_plus_spark.table.maintenance import (
    compact,
    rewrite_column_type,
)
from hudi_spark_plus_spark.table.zorder import zorder_cluster_table

SCHEMA = "_key string, _ts long, _op string, val string, a int, b int"


def rows(spark, keys, ts=1, tag="v"):
    return spark.createDataFrame(
        [(f"k{i}", ts, "upsert", f"{tag}{i}", i % 7, (i * 3) % 7) for i in keys],
        SCHEMA,
    )


def between_write_and_glob(monkeypatch, hook):
    """Run ``hook(table_path, subdir_rel)`` once, after a commit's write
    job and before its data subdir is globbed and checked against the
    files the write tasks reported."""
    real = lt._check_written
    fired = []

    def wrapped(table_path, subdir_rel, *a, **kw):
        if not fired:
            fired.append(subdir_rel)
            hook(table_path, subdir_rel)
        return real(table_path, subdir_rel, *a, **kw)

    monkeypatch.setattr(lt, "_check_written", wrapped)
    return fired


def plant_copy(table_path, subdir_rel):
    """Copy one freshly written part-file next to itself — the shape a
    partially committed, then retried, task attempt leaves behind."""
    src = sorted(
        glob.glob(os.path.join(table_path, subdir_rel, "**", "*.parquet"),
                  recursive=True)
    )[0]
    dst = os.path.join(os.path.dirname(src), "part-99999-stray.parquet")
    shutil.copy(src, dst)
    return dst


@pytest.mark.parametrize(
    "write",
    ["cow", "mor", "insert", "insert_overwrite_table", "rewrite_column_type"],
)
def test_stray_part_file_is_refused(spark, tmp_path, monkeypatch, write):
    t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
    t.merge(rows(spark, range(20)), "b0")
    before = t.log.latest()
    planted = []
    between_write_and_glob(
        monkeypatch, lambda p, rel: planted.append(plant_copy(p, rel))
    )
    batch = rows(spark, range(5), ts=2, tag="w")
    with pytest.raises(WriteCountMismatch):
        if write in ("cow", "mor"):
            t.merge(batch, "b1", mode=write)
        elif write == "rewrite_column_type":
            rewrite_column_type(t, "a", "bigint")
        else:
            getattr(t, write)(batch, "b1")
    t.log.invalidate()
    assert t.log.latest().version == before.version
    assert not t.log.has_batch("b1")
    rel = os.path.relpath(planted[0], t.path)
    assert rel not in {f.path for f in t.log.latest().files}
    assert t.snapshot().count() == 20


def test_stray_part_file_is_refused_by_maintenance(spark, tmp_path, monkeypatch):
    t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
    t.merge(rows(spark, range(20)), "b0")
    t.merge(rows(spark, range(5), ts=2, tag="w"), "b1", mode="mor")
    before = t.log.latest().version
    between_write_and_glob(monkeypatch, plant_copy)
    with pytest.raises(WriteCountMismatch):
        compact(t)
    assert t.log.latest().version == before


def test_clustering_recomputes_after_concurrent_merge(
    spark, tmp_path, monkeypatch
):
    """A merge that publishes while clustering is rewriting must survive:
    clustering's publish is optimistic against the version it read, so it
    loses the race and recomputes over the merged state."""
    path = str(tmp_path / "t")
    lake = LakeTable(spark, path, buckets=2)
    lake.merge(rows(spark, range(40)), "b0")
    other = LakeTable(spark, path)

    def concurrent_merge(_p, _rel):
        other.merge(rows(spark, range(40, 45), ts=2, tag="new"), "b1")

    fired = between_write_and_glob(monkeypatch, concurrent_merge)
    zorder_cluster_table(lake, "a", "b")
    assert fired
    lake.log.invalidate()
    snap = {r["_key"]: r["val"] for r in lake.snapshot().collect()}
    assert len(snap) == 45
    assert all(snap[f"k{i}"] == f"new{i}" for i in range(40, 45))
    assert lake.log.latest().operation == "cluster"
    assert lake.log.has_batch("b1")


def test_signature_ingest_replay_runs_no_spark_job(spark, tmp_path):
    store = SignatureStore(spark, str(tmp_path / "sig"), buckets=2)
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs")],
        "doc_id long, text string",
    )
    store.ingest(docs, "doc_id", "text", "b1")
    version = store.table.log.latest().version
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    store.ingest(docs, "doc_id", "text", "b1")
    assert sched.nextJobId() == before
    assert store.table.log.latest().version == version


def masked_manifest(t):
    """The live set with paths masked."""
    return sorted(
        (f.partition or "", f.bucket, f.kind, f.rows, f.live_rows,
         f.min_key, f.max_key, f.bloom, f.bytes,
         sorted((f.col_stats or {}).items()))
        for f in t.log.live_files()
    )


@pytest.mark.parametrize(
    "op", ["insert", "insert_overwrite", "insert_overwrite_table"]
)
def test_append_placements_write_the_same_files(spark, tmp_path, op):
    """An append-shaped write runs on the driver by default and in
    tasks with ``parallelism=2``. On a partitioned table whose
    partition value needs escaping, with a batch that widens a stored
    ``int`` to ``bigint``, the two write equal manifests (paths
    masked), snapshots and committed schemas."""

    def run(name, parallelism):
        t = LakeTable(spark, str(tmp_path / name), buckets=2,
                      partition_fields=["d"])
        t.merge(spark.createDataFrame(
            [(f"k{i}", 1, "upsert", i, "a/b c" if i % 2 else "x")
             for i in range(12)],
            "_key string, _ts long, _op string, n int, d string",
        ), "b0")
        getattr(t, op)(spark.createDataFrame(
            [(f"k{i}", 2, "upsert", 2**40 + i, "a/b c" if i % 2 else "y")
             for i in range(8, 20)],
            "_key string, _ts long, _op string, n bigint, d string",
        ), "b1", parallelism=parallelism)
        snap = sorted(map(tuple, t.snapshot().collect()))
        return masked_manifest(t), snap, t.log.latest().schema_json

    on_driver = run("driver", None)
    assert run("tasks", 2) == on_driver
    assert '"name":"n","nullable":true,"type":"long"' in on_driver[2]
    assert {r[0] for r in on_driver[1]} >= {f"k{i}" for i in range(8, 20)}


def test_append_keeps_supplied_stamps_and_inserted_deletes_stay_live(
    spark, tmp_path
):
    """An append is not a merge: a row whose ``_op`` is ``delete`` is
    inserted live, and a frame's own ``_deleted`` and ``_commit_ver``
    are stored as given."""
    t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
    t.insert(spark.createDataFrame(
        [("k0", 1, "delete", "a"), ("k1", 1, "upsert", "b")],
        "_key string, _ts long, _op string, val string",
    ), "b0")
    assert sorted(r["_key"] for r in t.snapshot().collect()) == ["k0", "k1"]
    t.insert(spark.createDataFrame(
        [("k2", 1, "c", True, 7), ("k3", 1, "d", False, 7)],
        "_key string, _ts long, val string, _deleted boolean, "
        "_commit_ver long",
    ), "b1")
    got = {
        r["_key"]: (r["_deleted"], r["_commit_ver"])
        for r in t.snapshot(include_deleted=True).collect()
    }
    assert got == {"k0": (False, 1), "k1": (False, 1), "k2": (True, 7),
                   "k3": (False, 7)}
    assert sorted(r["_key"] for r in t.snapshot().collect()) == [
        "k0", "k1", "k3"
    ]


@pytest.mark.parametrize("op", ["insert", "insert_overwrite_table"])
def test_warm_tiny_append_runs_one_job(spark, tmp_path, op):
    """A warm 10-row append into a 2-bucket, 2 000-row table launches
    one Spark job: its batch collect. The files are written on the
    driver."""
    t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
    t.merge(rows(spark, range(2000)), "b0")
    getattr(t, op)(rows(spark, range(10), ts=2), "b1")  # warm-up
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    getattr(t, op)(rows(spark, range(10, 20), ts=3), "b2")
    assert sched.nextJobId() - before == 1
    assert t.log.latest().operation == op


def test_entries_match_their_files(spark, tmp_path):
    """Each live entry's stats are its file's own footer stats and size,
    and every key in the file probes positive in the entry's bloom —
    under a partition value that needs escaping in its directory name,
    through a COW merge with deletes, a MOR merge and ``compact``."""
    t = LakeTable(spark, str(tmp_path / "t"), buckets=2, partition_fields=["d"])

    def batch(keys, ts, op="upsert"):
        return spark.createDataFrame(
            [(f"k{i}", ts, op, f"v{ts}", i % 7, "a/b c" if i % 2 else "x")
             for i in keys],
            "_key string, _ts long, _op string, val string, a int, d string",
        )

    def check():
        files = t.log.live_files()
        assert {f.partition for f in files} == {"a/b c", "x"}
        for f in files:
            p = t.log.abs_path(f.path)
            rows, mn, mx, col_stats, _, live = lt._footer_stats(p)
            assert (f.rows, f.min_key, f.max_key, f.col_stats, f.live_rows,
                    f.bytes) == (rows, mn, mx, col_stats or None, live,
                                 os.path.getsize(p))
            bloom = KeyBloom.from_b64(f.bloom)
            keys = pq.read_table(p, columns=["_key"]).column(0).to_pylist()
            assert keys and all(bloom.might_contain(k) for k in keys)

    t.merge(batch(range(40), 1), "b0")
    t.merge(batch(range(30, 60), 2).unionByName(batch(range(5), 2, "delete")),
            "b1")
    check()
    assert any(f.live_rows < f.rows for f in t.log.live_files())
    t.merge(batch(range(50, 70), 3), "b2", mode="mor")
    check()
    compact(t)
    check()
    assert t.snapshot().count() == 65


TYPES = (
    "_key string, _ts long, _op string, by tinyint, sh smallint, i int, "
    "l bigint, db double, d1 decimal(10,2), d2 decimal(38,9), s string, "
    "bo boolean, dt date, ts timestamp, tn timestamp_ntz, bi binary, "
    "ar array<int>, mp map<string,int>, st struct<x:int,y:string>"
)


def test_merge_round_trips_every_type(spark, tmp_path):
    """Spark reads back exactly the rows the Arrow write stored, for
    every column type a table can hold, nulls included, across a first
    write, a COW rewrite of those files and a MOR delta."""
    full = (
        1, 2, 3, 4, 1.5, Decimal("12345678.91"),
        Decimal("12345678901234567890123456789.123456789"), "é s", True,
        dt.date(2024, 1, 2), dt.datetime(2024, 1, 2, 3, 4, 5, 678901),
        dt.datetime(1999, 12, 31, 23, 59, 59, 1), b"\x00\xff",
        [1, None, 3], {"a": 1, "b": None}, (7, "y"),
    )
    empty = (None,) * len(full)

    def frame(ts, n):
        return spark.createDataFrame(
            [(f"k{i}", ts, "upsert", *(full if i % 2 else empty))
             for i in range(n)],
            TYPES,
        )

    t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
    cols = [c.split()[0] for c in TYPES.split(", ") if c.split()[0] != "_op"]

    def check(expect):
        got = t.snapshot().select(*cols).orderBy("_key").collect()
        assert got == expect.select(*cols).orderBy("_key").collect()

    t.merge(frame(1, 6), "b0")
    check(frame(1, 6))
    t.merge(frame(2, 4), "b1")
    check(frame(2, 4).unionByName(frame(1, 6).where("_key IN ('k4', 'k5')")))
    t.merge(frame(3, 2), "b2", mode="mor")
    check(frame(3, 2).unionByName(frame(2, 4).where("_key IN ('k2', 'k3')"))
          .unionByName(frame(1, 6).where("_key IN ('k4', 'k5')")))
