"""Metadata-only commits publish optimistically: a commit that re-cites
the live set is published against the version it read, so a concurrent
writer's commit landing between the read and the publish is re-read,
never dropped from the latest version."""

from hudi_spark_plus_spark.table.commit_log import CommitLog, FileEntry
from hudi_spark_plus_spark.table.lake_table import LakeTable

CONCURRENT = "data/concurrent/part-0.parquet"


def commit_after_first_read(monkeypatch, log):
    """Make another writer commit ``CONCURRENT`` (through its own
    ``CommitLog`` of the same table) right after ``log``'s first read of
    its latest version or live set."""
    fired = []

    def other_writer():
        other = CommitLog(log.table_path)
        other.commit(
            "insert",
            other.live_files() + [FileEntry(path=CONCURRENT, bucket=0, rows=1)],
        )

    for name in ("latest", "live_files"):
        def wrapped(*a, _real=getattr(log, name), **kw):
            out = _real(*a, **kw)
            if not fired:
                fired.append(True)
                other_writer()
            return out

        monkeypatch.setattr(log, name, wrapped)


def live_paths(log):
    return {f.path for f in log.live_files()}


def test_join_view_watermark_keeps_a_concurrent_commit(
    spark, tmp_path, monkeypatch
):
    from hudi_spark_plus_spark.table.matview import JoinView

    fact = LakeTable(spark, str(tmp_path / "fact"), buckets=2)
    dim = LakeTable(spark, str(tmp_path / "dim"), buckets=2)
    mv = JoinView(
        spark, str(tmp_path / "mv"), fact, dim,
        "o_custkey", "c_custkey", ["c_segment"], ["o_price"],
    )
    seed = FileEntry(path="data/seed/part-0.parquet", bucket=1, rows=1)
    mv.table.log.commit("merge", [seed])
    commit_after_first_read(monkeypatch, mv.table.log)
    mv._commit_watermark(1, 1, 2)
    assert live_paths(mv.table.log) == {seed.path, CONCURRENT}
    assert mv.table.log.has_batch("mvj-1-1-1-2")
    assert mv.table.log.has_batch("mvjgc-1-1-1-2")


def test_ann_migrate_keeps_a_concurrent_commit(spark, tmp_path, monkeypatch):
    from hudi_spark_plus_spark.functions.ann_index import IvfIndex

    def vecs(ids):
        return spark.createDataFrame(
            [(i, [float(i % 3), 1.0, float(i % 2)]) for i in ids],
            "vec_id long, embedding array<double>",
        )

    idx = IvfIndex.build(spark, str(tmp_path / "old"), vecs(range(12)),
                         n_centroids=2, buckets=2)
    idx.add(vecs(range(12, 16)), "b1")
    real_build = IvfIndex.build

    def build(cls, *a, **kw):
        new = real_build(*a, **kw)
        commit_after_first_read(monkeypatch, new.table.log)
        return new

    monkeypatch.setattr(IvfIndex, "build", classmethod(build))
    new = idx.rebuild(str(tmp_path / "new"), migrate=True)
    assert CONCURRENT in live_paths(new.table.log)
    assert new.table.log.has_batch("b1")
