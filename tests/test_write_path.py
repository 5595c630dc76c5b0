"""The one write-and-publish path every data-writing commit takes
(``LakeTable._write_commit``) and the guarantees it owns: a stray
part-file in a commit's data subdir is refused rather than published,
a rewrite that loses the publish race to a concurrent merge is
recomputed rather than publishing a stale live set, a replayed batch
costs no Spark job, every manifest entry the write tasks build agrees
with its file, and Spark reads back exactly the rows it wrote.
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
from hudi_spark_plus_spark.table.maintenance import compact
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


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_stray_part_file_is_refused(spark, tmp_path, monkeypatch, mode):
    t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
    t.merge(rows(spark, range(20)), "b0")
    before = t.log.latest()
    planted = []
    between_write_and_glob(
        monkeypatch, lambda p, rel: planted.append(plant_copy(p, rel))
    )
    with pytest.raises(WriteCountMismatch):
        t.merge(rows(spark, range(5), ts=2, tag="w"), "b1", mode=mode)
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
