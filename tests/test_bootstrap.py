"""Metadata-only bootstrap (table/bootstrap.py — the Hudi
METADATA_ONLY bootstrap analogue): register existing parquet as a lake
table without rewriting it; readers synthesize the engine meta columns,
upserts convert files progressively under Bloom pruning, ``compact()``
finishes the migration, and the external source files are never
touched by vacuum."""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F
import pytest

from hudi_spark_plus_spark.sources import lake_reader
from hudi_spark_plus_spark.sources.lake_reader import (
    EqualTo,
    LakeBatchReader,
)
from hudi_spark_plus_spark.table.bootstrap import BOOTSTRAP_KIND
from hudi_spark_plus_spark.table.lake_table import LakeTable
from hudi_spark_plus_spark.table.maintenance import compact, vacuum


def _source(spark, tmp_path, n=300, files=3):
    """Three fixed-content files (ids 0-99 / 100-199 / 200-299): the
    Bloom-carry assertions below need deterministic per-file key sets,
    which repartition() does not give across session parallelisms."""
    src = str(tmp_path / "src")
    per = n // files
    for part in range(files):
        df = spark.createDataFrame(
            [
                (i, f"v{i}", i % 3)
                for i in range(part * per, (part + 1) * per)
            ],
            "id long, val string, g int",
        )
        df.coalesce(1).write.mode("append").parquet(src)
    return src


def _boot(spark, tmp_path, **kw):
    src = _source(spark, tmp_path)
    t = LakeTable(spark, str(tmp_path / "t"), buckets=4)
    t.bootstrap(src, key_fields=["id"], **kw)
    return t, src


def _upsert(spark, key, val, ts=5):
    return spark.createDataFrame(
        [(str(key), ts, "upsert", val, int(key) % 3, int(key))],
        "_key string, _ts long, _op string, val string, g int, id long",
    )


class TestBootstrapMetadataOnly:
    def test_no_data_copied_and_snapshot_synthesizes(self, spark, tmp_path):
        t, src = _boot(spark, tmp_path)
        # metadata-only: nothing written under the table's data dir
        assert not glob.glob(
            os.path.join(t.path, "data", "**", "*.parquet"), recursive=True
        )
        snap = t.snapshot()
        assert snap.count() == 300
        r = snap.where(F.col("_key") == "42").collect()
        assert len(r) == 1
        assert (r[0]["val"], r[0]["_ts"], r[0]["_commit_ver"]) == ("v42", 0, 1)
        assert all(f.kind == BOOTSTRAP_KIND and f.bucket == -1
                   for f in t.log.live_files())
        assert all(f.bloom and f.min_key is not None
                   for f in t.log.live_files())

    def test_composite_key_and_ts_field(self, spark, tmp_path):
        src = str(tmp_path / "src")
        spark.createDataFrame(
            [(1, "a", 10, "x"), (1, "b", 20, "y"), (2, None, 30, "z")],
            "k1 long, k2 string, ts long, val string",
        ).coalesce(1).write.parquet(src)
        t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
        t.bootstrap(src, key_fields=["k1", "k2"], ts_field="ts")
        got = {r["_key"]: (r["_ts"], r["val"])
               for r in t.snapshot().collect()}
        # composite rendering with the null->"null" recipe
        assert got == {"1:a": (10, "x"), "1:b": (20, "y"),
                       "2:null": (30, "z")}
        # LWW honors the synthesized _ts: an older upsert loses
        old = spark.createDataFrame(
            [("1:a", 5, "upsert", 1, "a", 5, "STALE")],
            "_key string, _ts long, _op string, k1 long, k2 string, "
            "ts long, val string",
        )
        t.merge(old, "b1")
        assert t.snapshot().where(F.col("_key") == "1:a").first()["val"] == "x"

    def test_validation_errors(self, spark, tmp_path):
        src = _source(spark, tmp_path)
        t = LakeTable(spark, str(tmp_path / "t"), buckets=4)
        with pytest.raises(ValueError, match="key field"):
            t.bootstrap(src, key_fields=["nope"])
        t2 = LakeTable(spark, str(tmp_path / "t2"), buckets=4,
                       partition_fields=["g"])
        with pytest.raises(ValueError, match="partition"):
            t2.bootstrap(src, key_fields=["id"])
        # float keys render differently across engines: refused
        srcf = str(tmp_path / "srcf")
        spark.createDataFrame(
            [(1.5, "a")], "fk double, val string"
        ).write.parquet(srcf)
        t3 = LakeTable(spark, str(tmp_path / "t3"), buckets=4)
        with pytest.raises(ValueError, match="string/integer"):
            t3.bootstrap(srcf, key_fields=["fk"])
        # bootstrap never stacks on an existing table
        t4 = LakeTable(spark, str(tmp_path / "t4"), buckets=4)
        t4.bootstrap(src, key_fields=["id"])
        with pytest.raises(ValueError, match="already has commits"):
            t4.bootstrap(src, key_fields=["id"])

    def test_reserved_columns_refused(self, spark, tmp_path):
        src = str(tmp_path / "src")
        spark.createDataFrame(
            [(1, "x")], "id long, _key string"
        ).write.parquet(src)
        t = LakeTable(spark, str(tmp_path / "t"), buckets=4)
        with pytest.raises(ValueError, match="reserved"):
            t.bootstrap(src, key_fields=["id"])


class TestProgressiveConversion:
    def test_merge_converts_only_bloom_hit_files(self, spark, tmp_path):
        t, src = _boot(spark, tmp_path)
        t.merge(_upsert(spark, 7, "NEW"), "b1")
        snap = t.snapshot()
        assert snap.count() == 300
        assert snap.where(F.col("id") == 7).first()["val"] == "NEW"
        kinds = [f.kind for f in t.log.live_files()]
        # exactly one of three source files held key "7": the other two
        # are Bloom-carried untouched
        assert kinds.count(BOOTSTRAP_KIND) == 2, kinds
        # the converted rows now live in hash buckets; carried rows
        # keep their bootstrap commit version, the winner stamps v2
        inc = t.incremental(1)
        assert [(r["id"], r["val"]) for r in inc.collect()] == [(7, "NEW")]

    def test_delete_by_key(self, spark, tmp_path):
        t, _ = _boot(spark, tmp_path)
        d = spark.createDataFrame(
            [("13", 5, "delete", None, None, 13)],
            "_key string, _ts long, _op string, val string, g int, id long",
        )
        t.merge(d, "b1")
        snap = t.snapshot()
        assert snap.count() == 299
        assert snap.where(F.col("id") == 13).count() == 0
        # tombstone survives for incremental consumers
        inc = t.incremental(1)
        assert inc.count() == 1 and inc.first()["_deleted"] is True

    def test_point_lookup_prunes_to_one_file(self, spark, tmp_path):
        t, _ = _boot(spark, tmp_path)
        keys = spark.createDataFrame([("13",)], "_key string")
        got = t.scan_for_keys(keys)
        # slice = the single Bloom-hit bootstrap file (100 rows)
        assert got.count() == 100
        assert got.where(F.col("_key") == "13").first()["val"] == "v13"

    def test_compact_finishes_migration_and_lifts_mor(self, spark, tmp_path):
        t, src = _boot(spark, tmp_path)
        with pytest.raises(ValueError, match="bootstrap"):
            t.merge(_upsert(spark, 7, "X"), "b0", mode="mor")
        compact(t)
        assert {f.kind for f in t.log.live_files()} == {"base"}
        assert t.snapshot().count() == 300
        t.merge(_upsert(spark, 7, "MOR"), "b1", mode="mor")
        assert t.snapshot().where(F.col("id") == 7).first()["val"] == "MOR"
        # original source files untouched throughout
        assert len(glob.glob(os.path.join(src, "*.parquet"))) == 3

    def test_vacuum_never_deletes_source_files(self, spark, tmp_path):
        t, src = _boot(spark, tmp_path)
        compact(t)  # bootstrap entries now referenced only by history
        vacuum(t, keep_last=1, grace_seconds=0)
        assert len(glob.glob(os.path.join(src, "*.parquet"))) == 3
        assert t.snapshot().count() == 300

    def test_format_upsert_refused_until_converted(self, spark, tmp_path):
        t, _ = _boot(spark, tmp_path)
        lake_reader.register(spark)
        df = spark.createDataFrame(
            [("7", 5, "NEW", 1, 7)],
            "_key string, _ts long, val string, g int, id long",
        )
        with pytest.raises(Exception, match="bootstrap"):
            (df.write.format("lake-table").mode("append")
             .option("engine.write.operation", "upsert").save(t.path))
        compact(t)
        (df.write.format("lake-table").mode("append")
         .option("engine.write.operation", "upsert").save(t.path))
        assert t.snapshot().where(F.col("id") == 7).first()["val"] == "NEW"


class TestBootstrapThroughFormat:
    def test_snapshot_and_key_pushdown(self, spark, tmp_path):
        t, _ = _boot(spark, tmp_path)
        lake_reader.register(spark)
        got = spark.read.format("lake-table").load(t.path)
        assert got.count() == 300
        r = got.where(F.col("_key") == "42").collect()
        assert len(r) == 1 and r[0]["val"] == "v42"
        # _key equality prunes to the one Bloom-hit file structurally
        rd = LakeBatchReader({"path": t.path})
        list(rd.pushFilters([EqualTo(("_key",), "42")]))
        assert len(rd.partitions()) == 1

    def test_incremental_and_cdc_before_images(self, spark, tmp_path):
        t, _ = _boot(spark, tmp_path)
        lake_reader.register(spark)
        t.merge(_upsert(spark, 7, "NEW"), "b1")
        inc = (
            spark.read.format("lake-table")
            .option("engine.read.type", "incremental")
            .option("engine.read.begin", "1")
            .load(t.path)
        )
        assert [(r["id"], r["val"]) for r in inc.collect()] == [(7, "NEW")]
        # the before image lives in a CONSUMED bootstrap file — the
        # worker must Bloom-probe and read it (both the format reader
        # and the Python API)
        for cdc in (
            spark.read.format("lake-table")
            .option("engine.read.type", "cdc")
            .option("engine.read.begin", "1")
            .load(t.path),
            t.incremental_cdc(1),
        ):
            rows = cdc.collect()
            assert len(rows) == 1
            assert (rows[0]["_change_op"], rows[0]["val"],
                    rows[0]["_before_val"]) == ("u", "NEW", "v7")

    def test_stream_read_delivers_bootstrap_then_updates(
        self, spark, tmp_path
    ):
        import time

        from hudi_spark_plus_spark.streaming import stream_source

        t, _ = _boot(spark, tmp_path)
        t.merge(_upsert(spark, 7, "NEW"), "b1")
        stream_source.register(spark)
        batches: list = []

        def take(df, bid):
            rows = [(r["id"], r["val"], r["_commit_ver"])
                    for r in df.collect()]
            if rows:
                batches.append(rows)

        q = (
            spark.readStream.format("lake-table")
            .option("path", t.path)
            .load()
            .writeStream.foreachBatch(take)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 120
            while (
                sum(len(b) for b in batches) < 300
                and time.time() < deadline
            ):
                time.sleep(0.5)
            time.sleep(2)
        finally:
            q.stop()
        rows = [r for b in batches for r in b]
        # both commits may land in one micro-batch (300 records, each
        # once at final state) or two (300 + 1 update replay)
        assert len(rows) in (300, 301), len(rows)
        assert {r[0] for r in rows} == set(range(300))
        last = {}
        for r in rows:
            last[r[0]] = r[1]
        assert last[7] == "NEW"

    def test_time_travel_to_bootstrap_version(self, spark, tmp_path):
        t, _ = _boot(spark, tmp_path)
        lake_reader.register(spark)
        t.merge(_upsert(spark, 7, "NEW"), "b1")

        def tt():
            # one load per query: a filtered action's pruned plan is
            # reused by later unfiltered actions on the SAME loaded
            # DataFrame (Spark 4.1 Python DS planning cache — the
            # SHARP EDGE note in lake_reader.py)
            return (
                spark.read.format("lake-table")
                .option("engine.read.version", "1")
                .load(t.path)
            )

        assert tt().where(F.col("id") == 7).first()["val"] == "v7"
        assert tt().count() == 300
