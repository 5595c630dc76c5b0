"""Bootstrap rows through the per-unit merge kernel: a metadata-only
bootstrap table (table/bootstrap.py) must behave exactly like a table
loaded by a merge of the same rows — every upsert, delete, tie, stale
write, schema change and compaction leaves the same reads — and a merge
writes one row per key in every unit it rewrites, even when the source
repeated the key across files."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from hudi_spark_plus_spark.table.bootstrap import BOOTSTRAP_KIND
from hudi_spark_plus_spark.table.lake_table import LakeTable
from hudi_spark_plus_spark.table.maintenance import compact

BATCH = "_key string, _ts long, _op string, id long, v string, ts long"


def _batch(spark, rows, schema=BATCH):
    """Batch rows ``(id, ts, op, v[, extra])``; ``_key`` is the id's
    string rendering (bootstrap's synthesized key) and ``_ts`` the ts
    payload column (its ``ts_field``)."""
    return spark.createDataFrame(
        [(str(i), ts, op, i, v, ts, *rest) for i, ts, op, v, *rest in rows],
        schema,
    )


def test_upsert_of_a_key_repeated_across_source_files(spark, tmp_path):
    """Key 5 is in both source files. One upsert of it leaves exactly
    one id-5 row with the new value, before and after ``compact()``."""
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"id": [1, 5], "v": ["a", "old1"]}),
                   src / "f1.parquet")
    pq.write_table(pa.table({"id": [5, 9], "v": ["old2", "b"]}),
                   src / "f2.parquet")
    t = LakeTable(spark, str(tmp_path / "t"), buckets=4)
    t.bootstrap(str(src), key_fields=["id"])
    t.merge(
        spark.createDataFrame([("5", 1, "upsert", 5, "NEW")],
                              "_key string, _ts long, _op string, id long, "
                              "v string"),
        "b1",
    )

    def fives():
        return [r["v"] for r in t.snapshot().where(F.col("id") == 5).collect()]

    assert fives() == ["NEW"]
    compact(t)
    assert fives() == ["NEW"]
    assert t.snapshot().count() == 3


def _source(tmp_path):
    """Three files of 20 ids each; ``ts`` = id % 4, so ties are easy to
    aim at."""
    src = tmp_path / "src"
    src.mkdir()
    for n in range(3):
        ids = list(range(n * 20, (n + 1) * 20))
        pq.write_table(
            pa.table({"id": ids, "v": [f"v{i}" for i in ids],
                      "ts": [i % 4 for i in ids]}),
            src / f"f{n}.parquet",
        )
    return src


def _rows(df):
    cols = sorted(df.columns)
    return sorted(map(tuple, df.select(*cols).collect()), key=repr)


def _manifest(t):
    """The live set with paths masked."""
    return sorted(
        (f.partition or "", f.bucket, f.kind, f.rows, f.live_rows,
         f.min_key, f.max_key, f.bloom, f.bytes,
         sorted((f.col_stats or {}).items()))
        for f in t.log.live_files()
    )


def test_bootstrap_table_equals_merged_table(spark, tmp_path, monkeypatch):
    """Table A bootstraps a source, table B merges the same rows; both
    go through the same schedule. After every step their snapshots and
    every ``incremental(v)`` are equal. The schedule runs with the
    default placement and with ``parallelism=2`` (the compaction then
    forced into tasks too); the two runs write equal manifests."""
    src = _source(tmp_path)
    wide = BATCH + ", extra bigint"
    steps = [
        _batch(spark, [(7, 10, "upsert", "u7")]),
        _batch(spark, [(23, 10, "delete", None)]),
        # stored ts of 41 is 1: the batch wins the tie
        _batch(spark, [(41, 1, "upsert", "tie41")]),
        # stored ts of 50 is 2: the stale write loses
        _batch(spark, [(50, 0, "upsert", "stale")]),
        _batch(spark, [(12, 10, "upsert", "x12", 99)], wide),
        None,  # compact()
    ]

    def run(name, parallelism):
        a = LakeTable(spark, str(tmp_path / f"{name}-a"), buckets=4)
        a.bootstrap(str(src), key_fields=["id"], ts_field="ts")
        b = LakeTable(spark, str(tmp_path / f"{name}-b"), buckets=4)
        seed = pq.read_table(src).to_pylist()
        b.merge(_batch(spark, [(r["id"], r["ts"], "upsert", r["v"])
                               for r in seed]), "b0")

        def same_reads():
            ver = a.log.latest().version
            assert b.log.latest().version == ver
            assert _rows(a.snapshot()) == _rows(b.snapshot()), ver
            for v in range(ver):
                assert _rows(a.incremental(v)) == _rows(b.incremental(v)), (
                    ver, v
                )
            return _manifest(a), _manifest(b)

        seen = [same_reads()]
        for i, batch in enumerate(steps):
            if batch is None:
                compact(a)
                compact(b)
            else:
                a.merge(batch, f"b{i + 1}", parallelism=parallelism)
                b.merge(batch, f"b{i + 1}", parallelism=parallelism)
            seen.append(same_reads())
        return a, seen

    a, on_default = run("default", None)
    live = a.log.live_files()
    assert not any(f.kind == BOOTSTRAP_KIND for f in live)
    assert len({f.bucket for f in live}) == len(live) == 4
    snap = {r["id"]: r for r in a.snapshot().collect()}
    assert len(snap) == 59 and 23 not in snap
    assert (snap[7]["v"], snap[41]["v"], snap[50]["v"]) == (
        "u7", "tie41", "v50"
    )
    assert (snap[12]["extra"], snap[13]["extra"]) == (99, None)

    monkeypatch.setattr(LakeTable, "_advisory_bytes", lambda self: -1)
    _, in_tasks = run("tasks", 2)
    assert in_tasks == on_default


def test_converted_rows_merge_into_their_unit(spark, tmp_path):
    """A unit that receives converted bootstrap rows is merged like any
    batch unit: it keeps one base file, not a second one beside it."""
    src = _source(tmp_path)
    t = LakeTable(spark, str(tmp_path / "t"), buckets=4)
    t.bootstrap(str(src), key_fields=["id"], ts_field="ts")
    t.merge(_batch(spark, [(7, 10, "upsert", "u7")]), "b1")
    t.merge(_batch(spark, [(27, 10, "upsert", "u27")]), "b2")
    base = [f for f in t.log.live_files() if f.kind == "base"]
    assert len({f.bucket for f in base}) == len(base)
    assert t.snapshot().count() == 60
