"""df.write.format('lake-table') — the batch Python Data Source write
path (sources/lake_writer.py; the reference's second entry point,
BinlogHoodieDataSource.scala:19-22 ``df.write.format("binlog-hudi")
.mode(Append).save(path)``). Executors do layout + stats; commit is
metadata-only."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from hudi_spark_plus_spark.sources import lake_reader
from hudi_spark_plus_spark.table.lake_table import LakeTable


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "_key string, _ts long, val string, d string"
    )


def _write(df, path, **opts):
    w = df.write.format("lake-table").mode("append")
    for k, v in opts.items():
        w = w.option(k, v)
    w.save(path)


class TestPyHashParity:
    def test_xxh64_matches_spark_xxhash64(self, spark):
        """bucket_expr is pmod(xxhash64(key), buckets) JVM-side; the
        executor-side Python port must agree bit-for-bit or format
        writes would land keys in foreign buckets."""
        import random
        import string

        from hudi_spark_plus_spark.table.pyhash import bucket_of, xxh64

        random.seed(11)
        vals = ["", "a", "x" * 31, "y" * 32, "z" * 33, "héllo ß漢字"]
        vals += [
            "".join(
                random.choices(string.ascii_letters + string.digits, k=n)
            )
            for n in random.choices(range(1, 90), k=120)
        ]
        df = spark.createDataFrame([(v,) for v in vals], "s string")
        got = {
            r["s"]: (r["h"], r["b"])
            for r in df.select(
                "s",
                F.xxhash64("s").alias("h"),
                F.pmod(F.xxhash64("s"), F.lit(8)).cast("int").alias("b"),
            ).collect()
        }
        for v in vals:
            h, b = got[v]
            assert xxh64(v.encode()) == h, v
            assert bucket_of(v, 8) == b, v


class TestPyHashProperties:
    def test_xxh64_reference_vectors(self):
        """Published xxHash64 reference vectors (seed 0; xxHash
        repository README/spec) — guards the algorithm itself
        independently of Spark."""
        from hudi_spark_plus_spark.table.pyhash import xxh64

        def u(v):  # unsigned view for vector comparison
            return v & ((1 << 64) - 1)

        assert u(xxh64(b"", 0)) == 0xEF46DB3751D8E999
        assert u(xxh64(b"a", 0)) == 0xD24EC4F1A98C6E5B
        assert u(xxh64(b"abc", 0)) == 0x44BC2CF5AD770999

    def test_xxh64_hypothesis_bytes_roundtrip_stability(self):
        """Property: pure function of bytes+seed, covers every length
        class (0, <4, <8, <32, >=32 with tail) via hypothesis."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from hudi_spark_plus_spark.table.pyhash import xxh64

        @settings(max_examples=200, deadline=None)
        @given(st.binary(min_size=0, max_size=100),
               st.integers(min_value=0, max_value=2**31))
        def prop(data, seed):
            h1, h2 = xxh64(data, seed), xxh64(data, seed)
            assert h1 == h2
            assert -(2**63) <= h1 < 2**63
            if data:
                assert xxh64(data[:-1] + bytes([data[-1] ^ 1]), seed) != h1

        prop()


class TestPartitionRendererParity:
    def test_specs_match_keygen_exprs(self, spark):
        """Python rendering must equal partition_path_expr for every
        supported spec family (simple/null, timestamp, epochmillis,
        epochmicros, multi-field)."""
        import datetime

        from hudi_spark_plus_spark.sources.lake_writer import (
            PartitionRenderer,
        )
        from hudi_spark_plus_spark.table.keygen import partition_path_expr

        rows = [
            ("a", None, datetime.datetime(2024, 3, 5, 23, 59, 59),
             1709682000000, 86_400_000_000 * 19_800 - 1),
            (None, 7, datetime.datetime(1969, 12, 31, 12, 0, 0),
             -1, 0),
        ]
        df = spark.createDataFrame(
            rows, "s string, n int, t timestamp, ems long, eus long"
        )
        specs = [
            ["s"], ["n"], ["t:timestamp"], ["t:timestamp:yyyy/MM"],
            ["ems:epochmillis"], ["eus:epochmicros:yyyy-MM"],
            ["s", "n"], ["s", "ems:epochmillis"],
        ]
        import pyarrow as pa

        at = pa.Table.from_pylist(
            [
                {
                    "s": r[0], "n": r[1],
                    "t": r[2].replace(tzinfo=datetime.timezone.utc),
                    "ems": r[3], "eus": r[4],
                }
                for r in rows
            ]
        )
        for sp in specs:
            want = [
                r["p"]
                for r in df.select(
                    partition_path_expr(sp).alias("p")
                ).collect()
            ]
            got = PartitionRenderer(sp).render(at)
            assert got == want, (sp, got, want)

    def test_unsupported_format_chars_raise(self):
        from hudi_spark_plus_spark.sources.lake_writer import _strftime_of

        assert _strftime_of("yyyy-MM-dd") == "%Y-%m-%d"
        assert _strftime_of("yyyy/MM") == "%Y/%m"
        assert _strftime_of("yy-MM") == "%y-%m"
        with pytest.raises(ValueError, match="unsupported pattern"):
            _strftime_of("yyyy-MM-dd HH")
        # unpadded Java widths render differently from strftime ("3"
        # vs "03") and would split one logical partition across two
        # directory names between the write paths — must refuse
        for bad in ("yyyy-M-d", "y-MM", "yyy-MM", "MM-ddd"):
            with pytest.raises(ValueError, match="strftime|unsupported"):
                _strftime_of(bad)


class TestFormatWriteRoundtrip:
    def test_new_table_write_read_and_lake_interop(self, spark, tmp_path):
        lake_reader.register(spark)
        path = str(tmp_path / "t")
        rows = [
            (f"k{i}", 1, f"v{i}", f"2024-01-0{1 + i % 3}") for i in range(40)
        ]
        _write(
            _df(spark, rows), path,
            **{"engine.write.buckets": "4",
               "engine.write.partition.fields": "d"},
        )
        back = spark.read.format("lake-table").option("path", path).load()
        assert back.count() == 40
        assert {r["_commit_ver"] for r in back.collect()} == {1}
        # partition pruning through the format read works on
        # format-written directories
        assert back.where(F.col("d") == "2024-01-02").count() == len(
            [r for r in rows if r[3] == "2024-01-02"]
        )
        # the table is a first-class LakeTable: config persisted,
        # merge on top works, snapshot resolves
        t = LakeTable(spark, path)
        assert t.buckets == 4 and t.partition_fields == ["d"]
        t.merge(
            spark.createDataFrame(
                [("k0", 9, "upsert", "V0", "2024-01-01")],
                "_key string, _ts long, _op string, val string, d string",
            ),
            "m1",
        )
        snap = {r["_key"]: r["val"] for r in t.snapshot().collect()}
        assert snap["k0"] == "V0" and len(snap) == 40
        # manifest entries carry key ranges + blooms (point-lookup path)
        fs = t.log.latest().files
        assert all(f.min_key is not None and f.bloom for f in fs)

    def test_append_and_batch_id_idempotence(self, spark, tmp_path):
        lake_reader.register(spark)
        path = str(tmp_path / "t")
        _write(_df(spark, [("k1", 1, "a", "p")]), path)
        add = _df(spark, [("k2", 2, "b", "p")])
        _write(add, path, **{"engine.write.batch.id": "b2"})
        _write(add, path, **{"engine.write.batch.id": "b2"})  # replay
        back = spark.read.format("lake-table").option("path", path).load()
        assert sorted(r["_key"] for r in back.collect()) == ["k1", "k2"]
        t = LakeTable(spark, path)
        assert [c.version for c in map(t.log.read, t.log.versions())] == [
            1, 2,
        ]

    def test_commit_race_restamps_record_versions(self, spark, tmp_path):
        """A writer that planned version N but lost the race must land
        at N+1 with its files' _commit_ver re-stamped — incremental
        reads key on the record-level stamp."""
        import pyarrow as pa

        from hudi_spark_plus_spark.sources.lake_writer import (
            LakeTableBatchWriter,
        )

        path = str(tmp_path / "t")
        base = _df(spark, [("k1", 1, "a", "p")])
        _write(base, path)
        w = LakeTableBatchWriter(
            {"path": path}, base.schema, overwrite=False
        )
        assert w.version_guess == 2
        msg = w.write(
            iter(
                pa.Table.from_pylist(
                    [{"_key": "k9", "_ts": 5, "val": "late", "d": "p"}]
                ).to_batches()
            )
        )
        # another writer lands version 2 first
        LakeTable(spark, path).merge(
            spark.createDataFrame(
                [("k2", 2, "upsert", "b", "p")],
                "_key string, _ts long, _op string, val string, d string",
            ),
            "interloper",
        )
        w.commit([msg])
        lake_reader.register(spark)
        back = spark.read.format("lake-table").option("path", path).load()
        got = {r["_key"]: r["_commit_ver"] for r in back.collect()}
        assert got == {"k1": 1, "k2": 2, "k9": 3}
        inc = (
            spark.read.format("lake-table").option("path", path)
            .option("engine.read.type", "incremental")
            .option("engine.read.begin", "2")
            .load()
        )
        assert [r["_key"] for r in inc.collect()] == ["k9"]
        # the re-stamped file's manifest size is its new size
        log = LakeTable(spark, path).log
        assert all(
            f.bytes == os.path.getsize(log.abs_path(f.path))
            for f in log.live_files()
        )

    def test_mor_upsert_through_format(self, spark, tmp_path):
        """engine.write.operation=upsert: delta-append upserts +
        _op='delete' tombstones land through the format; snapshot
        resolves LWW; compact() folds the deltas like any MOR table."""
        from hudi_spark_plus_spark.table.maintenance import compact

        lake_reader.register(spark)
        path = str(tmp_path / "t")
        _write(
            _df(spark, [("k1", 1, "a", "p"), ("k2", 1, "b", "p")]),
            path, **{"engine.write.buckets": "2"},
        )
        up = spark.createDataFrame(
            [("k1", 2, "upsert", "a2", "p"),
             ("k2", 2, "delete", "b", "p"),
             ("k3", 2, "upsert", "c", "p")],
            "_key string, _ts long, _op string, val string, d string",
        )
        (
            up.write.format("lake-table")
            .option("engine.write.operation", "upsert")
            .mode("append").save(path)
        )
        t = LakeTable(spark, path)
        assert t.log.latest().operation == "merge"
        assert any(f.kind == "delta" for f in t.log.latest().files)
        snap = {r["_key"]: r["val"] for r in t.snapshot().collect()}
        assert snap == {"k1": "a2", "k3": "c"}
        # format read resolves the same way
        back = spark.read.format("lake-table").option("path", path).load()
        got = {r["_key"]: r["val"] for r in back.collect()}
        assert got == {"k1": "a2", "k3": "c"}
        # and the table compacts like any MOR table
        compact(t)
        assert all(f.kind == "base" for f in t.log.latest().files)
        assert {
            r["_key"]: r["val"] for r in t.snapshot().collect()
        } == {"k1": "a2", "k3": "c"}
        # incremental read sees the merge commit's final states
        inc = t.incremental(1, 2)
        rows = {(r["_key"], bool(r["_deleted"])) for r in inc.collect()}
        assert rows == {("k1", False), ("k2", True), ("k3", False)}

    def test_global_index_upsert_relocates_like_engine(
        self, spark, tmp_path
    ):
        """Format upsert on a global-index partitioned table must match
        LakeTable.merge exactly: key-only identity, LWW loser dropped,
        old-partition relocation tombstone so partition-pruned reads
        stay correct."""

        def mk3(rows):
            return spark.createDataFrame(
                rows,
                "_key string, _ts long, _op string, val string, d string",
            )

        seed = [
            ("move", 5, "upsert", "old-part", "p1"),
            ("stay", 5, "upsert", "same", "p1"),
            ("newer", 9, "upsert", "stored-wins", "p2"),
        ]
        batch = [
            ("move", 6, "upsert", "moved", "p2"),   # relocates p1 -> p2
            ("stay", 6, "upsert", "updated", "p1"),  # in place
            ("newer", 6, "upsert", "LOSER", "p1"),   # older than stored
            ("fresh", 6, "upsert", "new", "p3"),     # plain insert
        ]
        # engine twin
        e = LakeTable(
            spark, str(tmp_path / "e"), buckets=2,
            partition_fields=["d"], global_index=True,
        )
        e.merge(mk3(seed), "b1")
        e.merge(mk3(batch), "b2", mode="mor")
        # format path
        path = str(tmp_path / "t")
        f = LakeTable(
            spark, path, buckets=2, partition_fields=["d"],
            global_index=True,
        )
        f.merge(mk3(seed), "b1")
        lake_reader.register(spark)
        (
            mk3(batch).write.format("lake-table")
            .option("engine.write.operation", "upsert")
            .mode("append").save(path)
        )

        def snap(t, **kw):
            return sorted(
                (r["_key"], r["val"], r["d"])
                for r in t.snapshot(**kw).collect()
            )

        assert snap(f) == snap(e)
        assert snap(f) == [
            ("fresh", "new", "p3"), ("move", "moved", "p2"),
            ("newer", "stored-wins", "p2"), ("stay", "updated", "p1"),
        ]
        # the relocation tombstone keeps the PRUNED read correct: p1
        # no longer shows "move", and the dropped LWW loser never
        # shadows p2's stored copy
        assert snap(f, partitions=["p1"]) == snap(e, partitions=["p1"])
        assert snap(f, partitions=["p1"]) == [("stay", "updated", "p1")]
        assert snap(f, partitions=["p2"]) == [
            ("move", "moved", "p2"), ("newer", "stored-wins", "p2"),
        ]

    def test_streaming_global_upsert_refreshes_relocation_plan(
        self, spark, tmp_path
    ):
        """One stream-writer instance serves every micro-batch: the
        relocation plan must re-pin per batch, or batch 1's move would
        consult batch 0's timeline and leave a stale copy in the old
        partition."""
        import pyarrow as pa

        from hudi_spark_plus_spark.sources.lake_writer import (
            LakeTableStreamWriter,
        )

        def mk3(rows):
            return spark.createDataFrame(
                rows,
                "_key string, _ts long, _op string, val string, d string",
            )

        path = str(tmp_path / "t")
        LakeTable(
            spark, path, buckets=2, partition_fields=["d"],
            global_index=True,
        ).merge(mk3([("seed", 0, "upsert", "s", "p0")]), "b0")
        w = LakeTableStreamWriter(
            {"path": path, "engine.write.operation": "upsert"},
            mk3([]).schema,
        )

        def micro(rows, batch_id):
            msg = w.write(
                iter(pa.Table.from_pylist(rows).to_batches())
            )
            w.commit([msg], batch_id)

        micro([{"_key": "k", "_ts": 1, "_op": "upsert",
                "val": "v1", "d": "p1"}], 0)
        micro([{"_key": "k", "_ts": 2, "_op": "upsert",
                "val": "v2", "d": "p2"}], 1)  # relocates p1 -> p2
        t = LakeTable(spark, path)
        snap = sorted(
            (r["_key"], r["val"], r["d"]) for r in t.snapshot().collect()
        )
        assert snap == [("k", "v2", "p2"), ("seed", "s", "p0")]
        # the stale-plan bug left k visible in a p1-pruned read
        assert [
            r["_key"] for r in t.snapshot(partitions=["p1"]).collect()
        ] == []

    def test_same_batch_id_race_stays_exactly_once(self, spark, tmp_path):
        """A replayed writer with the same batch id that loses the
        version race must become the H5 no-op on retry — the has_batch
        check re-runs inside the retry loop."""
        import pyarrow as pa

        from hudi_spark_plus_spark.sources.lake_writer import (
            LakeTableBatchWriter,
        )

        path = str(tmp_path / "t")
        base = _df(spark, [("k1", 1, "a", "p")])
        _write(base, path)
        # two writers carrying the SAME batch id (orchestrator replay)
        wa = LakeTableBatchWriter(
            {"path": path, "engine.write.batch.id": "dup"},
            base.schema, overwrite=False,
        )
        wb = LakeTableBatchWriter(
            {"path": path, "engine.write.batch.id": "dup"},
            base.schema, overwrite=False,
        )
        row = [{"_key": "k2", "_ts": 2, "val": "b", "d": "p"}]
        ma = wa.write(iter(pa.Table.from_pylist(row).to_batches()))
        mb = wb.write(iter(pa.Table.from_pylist(row).to_batches()))
        # interleave: wa lands AFTER wb passed its first has_batch
        # check but BEFORE wb publishes — wb must detect the duplicate
        # on its conflict retry, not commit 'dup' a second time
        from hudi_spark_plus_spark.table import commit_log as cl

        real_commit = cl.CommitLog.commit
        state = {"fired": False}

        def racing(self_log, operation, files, batch_id=None, **kw):
            if batch_id == "dup" and not state["fired"]:
                state["fired"] = True
                wa.commit([ma])  # the replay twin wins the version
            return real_commit(
                self_log, operation, files, batch_id=batch_id, **kw
            )

        try:
            cl.CommitLog.commit = racing
            wb.commit([mb])
        finally:
            cl.CommitLog.commit = real_commit
        t = LakeTable(spark, path)
        assert t.log.versions() == [1, 2]
        ids = [t.log.read(v).batch_id for v in t.log.versions()]
        assert ids.count("dup") == 1
        rows = [r["_key"] for r in t.snapshot().collect()]
        assert sorted(rows) == ["k1", "k2"]

    def test_global_index_upsert_race_aborts(self, spark, tmp_path):
        """A commit race against a global-index format upsert must
        abort (its relocation plan is stale), never restamp-and-land."""
        import pyarrow as pa

        from hudi_spark_plus_spark.sources.lake_writer import (
            LakeTableBatchWriter,
        )

        def mk3(rows):
            return spark.createDataFrame(
                rows,
                "_key string, _ts long, _op string, val string, d string",
            )

        path = str(tmp_path / "t")
        t = LakeTable(
            spark, path, buckets=2, partition_fields=["d"],
            global_index=True,
        )
        t.merge(mk3([("k1", 1, "upsert", "a", "p1")]), "b1")
        w = LakeTableBatchWriter(
            {"path": path, "engine.write.operation": "upsert"},
            mk3([]).schema, overwrite=False,
        )
        msg = w.write(
            iter(
                pa.Table.from_pylist(
                    [{"_key": "k1", "_ts": 2, "_op": "upsert",
                      "val": "a2", "d": "p2"}]
                ).to_batches()
            )
        )
        t.merge(mk3([("k9", 2, "upsert", "x", "p1")]), "interloper")
        with pytest.raises(ValueError, match="relocation plan is stale"):
            w.commit([msg])
        t.log.invalidate()
        assert t.log.latest().batch_id == "interloper"

    def test_precomputed_bucket_column_fast_path(self, spark, tmp_path):
        """A batch carrying `_bucket` (keygen.bucket_expr, JVM-side)
        skips the Python hash; wrong assignments are caught — sampled
        hash check and full range check."""
        from hudi_spark_plus_spark.table.keygen import bucket_expr

        lake_reader.register(spark)
        path = str(tmp_path / "t")
        df = _df(spark, [(f"k{i}", 1, f"v{i}", "p") for i in range(20)])
        pre = df.withColumn("_bucket", bucket_expr(F.col("_key"), 4))
        _write(pre, path, **{"engine.write.buckets": "4"})
        t = LakeTable(spark, path)
        snap = {r["_key"] for r in t.snapshot().collect()}
        assert len(snap) == 20
        # the table merges correctly on top (buckets agree with engine)
        t.merge(
            spark.createDataFrame(
                [("k0", 9, "upsert", "V0", "p")],
                "_key string, _ts long, _op string, val string, d string",
            ),
            "m1",
        )
        assert {
            r["_key"]: r["val"] for r in t.snapshot().collect()
        }["k0"] == "V0"
        with pytest.raises(Exception, match="disagrees"):
            _write(
                _df(spark, [("kx", 1, "v", "p")]).withColumn(
                    "_bucket", F.lit(0)
                ).withColumn(
                    "_key", F.lit("definitely-not-bucket-0-key-1")
                ),
                path,
            )
        with pytest.raises(Exception, match="range|\\[0"):
            _write(
                _df(spark, [("ky", 1, "v", "p")]).withColumn(
                    "_bucket", F.lit(99)
                ),
                path,
            )

    def test_concurrent_format_writers_race(self, spark, tmp_path):
        """Two format writes racing the same table: the commit-race
        loser re-stamps and both batches land."""
        import threading

        lake_reader.register(spark)
        path = str(tmp_path / "t")
        _write(_df(spark, [("seed", 1, "s", "p")]), path)
        barrier = threading.Barrier(2)
        errs = []

        def go(i):
            try:
                barrier.wait()
                _write(_df(spark, [(f"w{i}", 2, f"v{i}", "p")]), path)
            except Exception as e:  # noqa: BLE001 — surfaced below
                errs.append(e)

        ts = [threading.Thread(target=go, args=(i,)) for i in (0, 1)]
        for th in ts:
            th.start()
        for th in ts:
            th.join()
        assert not errs, errs
        t = LakeTable(spark, path)
        assert t.log.versions() == [1, 2, 3]
        back = spark.read.format("lake-table").option("path", path).load()
        got = {r["_key"]: r["_commit_ver"] for r in back.collect()}
        assert got["seed"] == 1 and {got["w0"], got["w1"]} == {2, 3}

    def test_renamed_table_writes_physical_names(self, spark, tmp_path):
        lake_reader.register(spark)
        path = str(tmp_path / "t")
        _write(_df(spark, [("k1", 1, "a", "p")]), path)
        t = LakeTable(spark, path)
        t.rename_column("val", "value")
        (
            spark.createDataFrame(
                [("k2", 2, "b", "p")],
                "_key string, _ts long, value string, d string",
            )
            .write.format("lake-table").mode("append").save(path)
        )
        back = spark.read.format("lake-table").option("path", path).load()
        got = sorted((r["_key"], r["value"]) for r in back.collect())
        assert got == [("k1", "a"), ("k2", "b")]


class TestStreamingFormatWrite:
    @pytest.mark.slow  # ~25 s: full tier only (see pytest.ini)
    def test_micro_batches_commit_exactly_once(self, spark, tmp_path):
        """writeStream.format('lake-table'): each micro-batch is one
        insert commit keyed by '<stream-id>-<batchId>' — restart from
        the checkpoint replays nothing."""
        import time

        lake_reader.register(spark)
        src = str(tmp_path / "src")
        table = str(tmp_path / "t")
        ck = str(tmp_path / "ck")
        import os

        os.makedirs(src)
        sch = "_key string, _ts long, val string, d string"

        def drop(name, rows):
            import json

            with open(os.path.join(src, name), "w") as fh:
                for k, ts, v, d in rows:
                    fh.write(
                        json.dumps(
                            {"_key": k, "_ts": ts, "val": v, "d": d}
                        )
                        + "\n"
                    )

        drop("a.json", [("k1", 1, "a", "p"), ("k2", 1, "b", "p")])

        def run(seconds):
            q = (
                spark.readStream.schema(sch).json(src)
                .writeStream.format("lake-table")
                .option("path", table)
                .option("engine.write.buckets", "2")
                .option("checkpointLocation", ck)
                .trigger(processingTime="0 seconds")
                .start()
            )
            time.sleep(seconds)
            q.stop()

        run(12)
        drop("b.json", [("k3", 2, "c", "p")])
        run(12)  # restart: replays nothing, picks up the new file
        t = LakeTable(spark, table)
        ids = [t.log.read(v).batch_id for v in t.log.versions()]
        assert all(i and i.startswith("stream-") for i in ids)
        assert len(ids) == len(set(ids))
        back = spark.read.format("lake-table").option("path", table).load()
        assert sorted(r["_key"] for r in back.collect()) == [
            "k1", "k2", "k3",
        ]

    def test_cow_upsert_stream_is_rejected(self, spark, tmp_path):
        from hudi_spark_plus_spark.sources.lake_writer import (
            LakeTableStreamWriter,
        )

        with pytest.raises(ValueError, match="merge-on-read only"):
            LakeTableStreamWriter(
                {
                    "path": str(tmp_path / "t"),
                    "engine.write.operation": "upsert",
                    "engine.write.mode": "cow",
                },
                _df(spark, [("k", 1, "v", "p")]).schema,
            )


class TestFormatWriteGuards:
    def test_overwrite_upsert_evolution_and_missing_key(
        self, spark, tmp_path
    ):
        lake_reader.register(spark)
        path = str(tmp_path / "t")
        df = _df(spark, [("k1", 1, "a", "p")])
        df.write.format("lake-table").mode("append").save(path)
        with pytest.raises(Exception, match="replace commit"):
            df.write.format("lake-table").mode("overwrite").save(path)
        with pytest.raises(Exception, match="merge-on-read only"):
            (
                df.write.format("lake-table")
                .option("engine.write.operation", "upsert")
                .option("engine.write.mode", "cow")
                .mode("append").save(path)
            )
        with pytest.raises(Exception, match="schema evolution"):
            (
                df.withColumn("extra", F.lit(1))
                .write.format("lake-table").mode("append").save(path)
            )
        with pytest.raises(Exception, match="_key"):
            (
                spark.range(1).write.format("lake-table")
                .mode("append").save(str(tmp_path / "t2"))
            )
        with pytest.raises(Exception, match="buckets=16"):
            (
                df.write.format("lake-table")
                .option("engine.write.buckets", "3")
                .mode("append").save(path)
            )
