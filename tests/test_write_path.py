"""The one write-and-publish path every data-writing commit takes
(``LakeTable._write_commit``) and the guarantees it owns: a stray
part-file in a commit's data subdir is refused rather than published,
a rewrite that loses the publish race to a concurrent merge is
recomputed rather than publishing a stale live set, and a replayed
batch costs no Spark job.
"""

import glob
import os
import shutil

import pytest

import hudi_spark_plus_spark.table.lake_table as lt
from hudi_spark_plus_spark.functions.signature_store import SignatureStore
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
    job and before its data subdir is globbed for manifest entries."""
    real = lt._collect_file_entries
    fired = []

    def wrapped(table_path, subdir_rel, *a, **kw):
        if not fired:
            fired.append(subdir_rel)
            hook(table_path, subdir_rel)
        return real(table_path, subdir_rel, *a, **kw)

    monkeypatch.setattr(lt, "_collect_file_entries", wrapped)
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
