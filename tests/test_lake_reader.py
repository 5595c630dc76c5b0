"""spark.read.format('lake-table'): the batch Python Data Source over
the lake commit log — snapshot/time-travel/read-optimized/incremental
modes, pushed-filter partition + Bloom-key file pruning, column
mapping. Reference surface: downstream consumers read the reference's
tables through spark.read.format('hudi') (README.md:21-27); this is
that surface for our engine."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    In,
    LessThan,
)

from hudi_spark_plus_spark.sources import lake_reader
from hudi_spark_plus_spark.sources.lake_reader import LakeBatchReader
from hudi_spark_plus_spark.table.lake_table import LakeTable


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "_key string, _ts long, _op string, val string, d string"
    )


def _build(spark, path, mode="cow", partition_fields=("d",), buckets=2):
    t = LakeTable(
        spark, path, buckets=buckets, partition_fields=list(partition_fields)
    )
    t.merge(
        _mk(spark, [
            ("k1", 1, "upsert", "a", "2024-01-01"),
            ("k2", 1, "upsert", "b", "2024-01-02"),
            ("k3", 1, "upsert", "c", "2024-01-02"),
            ("k4", 1, "upsert", "dd", "2024-01-03"),
        ]),
        "b1",
        mode=mode,
    )
    t.merge(
        _mk(spark, [
            ("k1", 2, "upsert", "a2", "2024-01-01"),
            ("k3", 2, "delete", "c", "2024-01-02"),
        ]),
        "b2",
        mode=mode,
    )
    return t


def _read(spark, path, **opts):
    r = spark.read.format("lake-table").option("path", path)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def _vals(df):
    return sorted((r["_key"], r["val"]) for r in df.collect())


class TestBatchSnapshot:
    @pytest.mark.parametrize("mode", ["cow", "mor"])
    def test_matches_snapshot_api(self, spark, tmp_path, mode):
        t = _build(spark, str(tmp_path / mode), mode=mode)
        lake_reader.register(spark)
        df = _read(spark, t.path)
        assert _vals(df) == _vals(t.snapshot())
        assert _vals(df) == [("k1", "a2"), ("k2", "b"), ("k4", "dd")]

    def test_time_travel_and_as_of_ts(self, spark, tmp_path):
        t = _build(spark, str(tmp_path / "t"))
        lake_reader.register(spark)
        v1 = _read(spark, t.path, **{"engine.read.version": "1"})
        assert _vals(v1) == _vals(t.snapshot(version=1))
        ts1 = t.log.read(1).ts_millis
        as_of = _read(spark, t.path, **{"engine.read.as.of.ts.millis": str(ts1)})
        assert _vals(as_of) == _vals(v1)

    def test_savepoint_read(self, spark, tmp_path):
        """VERDICT r8 stretch 8: format-only consumers read a pinned
        version by NAME — engine.read.savepoint resolves through the
        table's _savepoints sidecar (the pin vacuum honors), explicit
        version wins over it, unknown/invalid names are loud."""
        t = _build(spark, str(tmp_path / "t"))
        lake_reader.register(spark)
        t.savepoint("rel-1", version=1)
        sp = _read(spark, t.path, **{"engine.read.savepoint": "rel-1"})
        assert _vals(sp) == _vals(t.snapshot(version=1))
        # explicit version option wins over the savepoint name
        both = _read(spark, t.path, **{
            "engine.read.savepoint": "rel-1",
            "engine.read.version": "2",
        })
        assert _vals(both) == _vals(t.snapshot(version=2))
        with pytest.raises(Exception, match="no savepoint"):
            _read(spark, t.path,
                  **{"engine.read.savepoint": "nope"}).collect()
        with pytest.raises(Exception, match="letters"):
            _read(spark, t.path,
                  **{"engine.read.savepoint": "../evil"}).collect()

    def test_read_optimized_view(self, spark, tmp_path):
        t = _build(spark, str(tmp_path / "t"), mode="mor")
        lake_reader.register(spark)
        ro = _read(spark, t.path, **{"engine.read.type": "read_optimized"})
        assert _vals(ro) == _vals(t.snapshot(read_optimized=True))
        # base-only view is stale: k1 still 'a', delete invisible
        assert ("k1", "a") in _vals(ro)

    def test_include_deleted(self, spark, tmp_path):
        t = _build(spark, str(tmp_path / "t"))
        lake_reader.register(spark)
        df = _read(spark, t.path, **{"engine.read.include.deleted": "true"})
        dead = [r["_key"] for r in df.where("_deleted").collect()]
        assert dead == ["k3"]

    def test_empty_table_errors(self, spark, tmp_path):
        lake_reader.register(spark)
        with pytest.raises(Exception, match="no commits"):
            _read(spark, str(tmp_path / "nope")).collect()


class TestBatchIncremental:
    @pytest.mark.parametrize("mode", ["cow", "mor"])
    def test_matches_incremental_api(self, spark, tmp_path, mode):
        t = _build(spark, str(tmp_path / mode), mode=mode)
        lake_reader.register(spark)
        df = _read(
            spark, t.path,
            **{"engine.read.type": "incremental", "engine.read.begin": "1"},
        )
        got = sorted(
            (r["_key"], r["val"], bool(r["_deleted"])) for r in df.collect()
        )
        want = sorted(
            (r["_key"], r["val"], bool(r["_deleted"]))
            for r in t.incremental(1).collect()
        )
        assert got == want
        assert got == [("k1", "a2", False), ("k3", "c", True)]

    def test_mor_out_of_range_winner_not_leaked(self, spark, tmp_path):
        """A stale in-range MOR delta row that lost LWW to an
        out-of-range row must not surface (LakeTable.incremental's MOR
        rule, applied worker-side)."""
        t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
        t.merge(_mk(spark, [("k1", 100, "upsert", "new", "p")]), "b1",
                mode="mor")
        # late-arriving stale update: higher version, LOWER _ts — loses
        t.merge(_mk(spark, [("k1", 50, "upsert", "old", "p")]), "b2",
                mode="mor")
        lake_reader.register(spark)
        df = _read(
            spark, t.path,
            **{"engine.read.type": "incremental", "engine.read.begin": "1"},
        )
        assert df.count() == 0
        assert t.incremental(1).count() == 0

    def test_begin_required(self, spark, tmp_path):
        t = _build(spark, str(tmp_path / "t"))
        lake_reader.register(spark)
        with pytest.raises(Exception, match="engine.read.begin"):
            _read(spark, t.path, **{"engine.read.type": "incremental"}).collect()


class TestPrunedPlanning:
    """File-count assertions straight against the reader's planner —
    the structural guarantee that a pruned read never PLANS the other
    partitions' / keys' files."""

    def _planned(self, reader):
        return sorted(p for s in reader.partitions() for p in s.paths)

    def test_partition_equality_prunes_files(self, spark, tmp_path):
        t = _build(spark, str(tmp_path / "t"))
        live = {f.partition for f in t.log.live_files()}
        assert live == {"2024-01-01", "2024-01-02", "2024-01-03"}
        r_all = LakeBatchReader({"path": t.path})
        r_one = LakeBatchReader({"path": t.path})
        flt = [EqualTo(("d",), "2024-01-02")]
        assert list(r_one.pushFilters(flt)) == flt  # all returned to Spark
        planned = self._planned(r_one)
        want = sorted(
            f.path for f in t.log.live_files() if f.partition == "2024-01-02"
        )
        assert planned == want
        assert len(planned) < len(self._planned(r_all))

    def test_partition_range_prunes_files(self, spark, tmp_path):
        t = _build(spark, str(tmp_path / "t"))
        r = LakeBatchReader({"path": t.path})
        list(r.pushFilters([
            GreaterThanOrEqual(("d",), "2024-01-02"),
            LessThan(("d",), "2024-01-03"),
        ]))
        assert self._planned(r) == sorted(
            f.path for f in t.log.live_files() if f.partition == "2024-01-02"
        )

    def test_key_in_prunes_via_bloom(self, spark, tmp_path):
        # unpartitioned, several buckets: only files whose Bloom/range
        # might hold the probed keys are planned
        t = LakeTable(spark, str(tmp_path / "t"), buckets=8)
        t.merge(
            _mk(spark, [
                (f"k{i}", 1, "upsert", f"v{i}", "p") for i in range(64)
            ]),
            "b1",
        )
        r_all = LakeBatchReader({"path": t.path})
        r_two = LakeBatchReader({"path": t.path})
        list(r_two.pushFilters([In(("_key",), ("k1", "k2"))]))
        assert len(self._planned(r_two)) < len(self._planned(r_all))
        lake_reader.register(spark)
        got = _read(spark, t.path).where(
            F.col("_key").isin("k1", "k2")
        )
        assert _vals(got) == [("k1", "v1"), ("k2", "v2")]

    def test_unprunable_predicates_keep_everything(self, spark, tmp_path):
        t = _build(spark, str(tmp_path / "t"))
        r_all = LakeBatchReader({"path": t.path})
        r = LakeBatchReader({"path": t.path})
        # bool value probe (stats-unsafe type), multi-part attribute,
        # non-string key probe, engine meta column: none may prune
        list(r.pushFilters([
            EqualTo(("val",), True),
            EqualTo(("d", "nested"), "x"),
            EqualTo(("_key",), 7),
            EqualTo(("_ts",), 1),
        ]))
        assert self._planned(r) == self._planned(r_all)

    def test_value_stats_prune_cow_files(self, spark, tmp_path):
        """Hudi col_stats data skipping through the format read: an
        equality/range probe on a PAYLOAD column plans only files whose
        recorded min/max range intersects — and results stay exact."""
        t = LakeTable(
            spark, str(tmp_path / "t"), buckets=1, partition_fields=["d"]
        )
        # three partitions -> three files with disjoint VAL ranges; the
        # probes below filter on val, so only stats can prune
        t.merge(
            _mk(spark, [
                (f"k{lo}{i}", 1, "upsert", f"{lo}{i}", f"p{lo}")
                for lo in ("a", "m", "x")
                for i in range(4)
            ]),
            "b1",
        )
        r_all = LakeBatchReader({"path": t.path})
        n_all = len(self._planned(r_all))
        assert n_all == 3
        r_eq = LakeBatchReader({"path": t.path})
        list(r_eq.pushFilters([EqualTo(("val",), "m2")]))
        assert len(self._planned(r_eq)) == 1
        r_rng = LakeBatchReader({"path": t.path})
        list(r_rng.pushFilters([GreaterThanOrEqual(("val",), "x0")]))
        assert len(self._planned(r_rng)) == 1
        r_out = LakeBatchReader({"path": t.path})
        list(r_out.pushFilters([In(("val",), ("zzz", "zz9"))]))
        assert self._planned(r_out) == []
        # end-to-end exactness through Spark
        lake_reader.register(spark)
        got = _read(spark, t.path).where(F.col("val") >= "x0")
        assert _vals(got) == [(f"kx{i}", f"x{i}") for i in range(4)]

    def test_value_stats_numeric_and_cross_type(self, spark, tmp_path):
        """Numeric col_stats prune numeric probes; a literal whose type
        class differs from the recorded stats (int probe on a string
        column) must never prune."""
        t = LakeTable(
            spark, str(tmp_path / "t"), buckets=1, partition_fields=["d"]
        )
        df = spark.createDataFrame(
            [(f"k{p}{i}", 1, "upsert", p * 100 + i, f"p{p}")
             for p in (1, 2, 3) for i in range(4)],
            "_key string, _ts long, _op string, amount long, d string",
        )
        t.merge(df, "b1")
        r_all = LakeBatchReader({"path": t.path})
        assert len(self._planned(r_all)) == 3
        r_rng = LakeBatchReader({"path": t.path})
        list(r_rng.pushFilters([
            GreaterThanOrEqual(("amount",), 200),
            LessThan(("amount",), 300),
        ]))
        assert len(self._planned(r_rng)) == 1
        r_cross = LakeBatchReader({"path": t.path})
        # string probe on an int-stats column + int probe on the meta
        # key column: cross-type comparisons prove nothing, no pruning
        list(r_cross.pushFilters([EqualTo(("amount",), "200"),
                                  EqualTo(("_key",), 7)]))
        assert len(self._planned(r_cross)) == 3
        lake_reader.register(spark)
        got = _read(spark, t.path).where(
            (F.col("amount") >= 200) & (F.col("amount") < 300)
        )
        assert sorted(r["amount"] for r in got.collect()) == [
            200, 201, 202, 203
        ]

    def test_value_stats_mor_unit_granular_never_resurrects(
        self, spark, tmp_path
    ):
        """MOR: per-file stats pruning could drop the delta that
        supersedes an in-range base row and resurrect it. Skipping must
        be unit-granular: the unit stays whole while ANY of its files
        intersects, and the superseded row never reappears."""
        t = LakeTable(spark, str(tmp_path / "t"), buckets=1)
        t.merge(
            _mk(spark, [("k1", 1, "upsert", "b-old", "p"),
                        ("k2", 1, "upsert", "keep", "p")]),
            "b1",
        )
        # delta moves k1 OUT of the probed range (val -> "zz")
        t.merge(
            _mk(spark, [("k1", 2, "upsert", "zz", "p")]),
            "b2", mode="mor",
        )
        r = LakeBatchReader({"path": t.path})
        list(r.pushFilters([LessThan(("val",), "c")]))
        planned = self._planned(r)
        # the base file's range ["b-old","keep"] intersects, so the
        # whole unit (base + delta) must be planned
        assert len(planned) == 2
        lake_reader.register(spark)
        got = _read(spark, t.path).where(F.col("val") < "c")
        assert _vals(got) == []  # k1 superseded; k2="keep" >= "c"
        # a probe disjoint from EVERY file of the unit drops the unit
        r2 = LakeBatchReader({"path": t.path})
        list(r2.pushFilters([GreaterThanOrEqual(("val",), "zzz")]))
        assert self._planned(r2) == []

    def test_pushdown_reaches_reader_through_spark(self, spark, tmp_path):
        """End-to-end: register() enables the pushdown conf and a plain
        df.filter on the partition field returns the right rows (the
        planner-level assertions above prove the pruning itself)."""
        t = _build(spark, str(tmp_path / "t"))
        lake_reader.register(spark)
        assert (
            spark.conf.get("spark.sql.python.filterPushdown.enabled")
            == "true"
        )
        df = _read(spark, t.path).where(F.col("d") == "2024-01-02")
        assert _vals(df) == [("k2", "b")]


class TestInstantRanges:
    """Hudi-parity instant-based ranges: begin/end/start given as epoch
    millis resolve to the newest version at or before the instant."""

    def test_incremental_and_cdc_by_ts(self, spark, tmp_path):
        t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
        t.merge(_mk(spark, [("k1", 1, "upsert", "a", "p")]), "b1")
        t.merge(_mk(spark, [("k2", 2, "upsert", "b", "p")]), "b2")
        t.merge(_mk(spark, [("k3", 3, "upsert", "c", "p")]), "b3")
        ts = {v: t.log._read_meta(v).ts_millis for v in t.log.versions()}
        lake_reader.register(spark)

        def inc(**opts):
            r = (
                spark.read.format("lake-table")
                .option("path", t.path)
                .option("engine.read.type", "incremental")
            )
            for k, v in opts.items():
                r = r.option(k.replace("_", "."), str(v))
            return sorted(x["_key"] for x in r.load().collect())

        # begin at v1's instant -> changes after v1
        assert inc(**{"engine_read_begin_ts_millis": ts[1]}) == ["k2", "k3"]
        # begin before the table existed -> everything
        assert inc(**{"engine_read_begin_ts_millis": ts[1] - 10_000}) == [
            "k1", "k2", "k3",
        ]
        # begin v1 instant, end v2 instant -> exactly v2
        assert inc(**{
            "engine_read_begin_ts_millis": ts[1],
            "engine_read_end_ts_millis": ts[2],
        }) == ["k2"]
        # explicit version option wins over the instant option
        assert inc(**{
            "engine_read_begin": 2,
            "engine_read_begin_ts_millis": ts[1] - 10_000,
        }) == ["k3"]
        cdc = (
            spark.read.format("lake-table")
            .option("path", t.path)
            .option("engine.read.type", "cdc")
            .option("engine.read.begin.ts.millis", str(ts[1]))
            .load()
        )
        assert sorted(
            (r["_change_op"], r["_key"]) for r in cdc.collect()
        ) == [("i", "k2"), ("i", "k3")]

    def test_stream_start_by_ts(self, spark, tmp_path):
        from hudi_spark_plus_spark.streaming.stream_source import (
            LakeStreamReader,
        )

        t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
        t.merge(_mk(spark, [("k1", 1, "upsert", "a", "p")]), "b1")
        t.merge(_mk(spark, [("k2", 2, "upsert", "b", "p")]), "b2")
        ts1 = t.log._read_meta(1).ts_millis
        rd = LakeStreamReader({
            "path": t.path,
            "engine.stream.start.ts.millis": str(ts1),
        })
        assert rd.start_version == 1
        assert rd.initialOffset() == {"version": 1}

    def test_stream_start_by_savepoint(self, spark, tmp_path):
        """engine.stream.start.savepoint: stream from a named pin —
        the artifact that ALSO stops vacuum reclaiming the start state
        (the operational pairing the module docstring prescribes)."""
        import pytest as _pytest

        from hudi_spark_plus_spark.streaming.stream_source import (
            LakeStreamReader,
        )

        t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
        t.merge(_mk(spark, [("k1", 1, "upsert", "a", "p")]), "b1")
        t.merge(_mk(spark, [("k2", 2, "upsert", "b", "p")]), "b2")
        t.savepoint("feed-start", version=1)
        rd = LakeStreamReader({
            "path": t.path,
            "engine.stream.start.savepoint": "feed-start",
        })
        assert rd.start_version == 1
        assert rd.initialOffset() == {"version": 1}
        # explicit version option wins over the savepoint name
        rd2 = LakeStreamReader({
            "path": t.path,
            "engine.stream.start.savepoint": "feed-start",
            "engine.stream.start.version": "2",
        })
        assert rd2.start_version == 2
        with _pytest.raises(ValueError, match="no savepoint"):
            LakeStreamReader({
                "path": t.path,
                "engine.stream.start.savepoint": "nope",
            })
        with _pytest.raises(ValueError, match="letters"):
            LakeStreamReader({
                "path": t.path,
                "engine.stream.start.savepoint": "../evil",
            })


class TestCdcRead:
    """engine.read.type=cdc — the format surface of
    LakeTable.incremental_cdc (H13): before/after images joined
    worker-side per file group, no shuffle."""

    @staticmethod
    def _both(spark, t, begin, end=None):
        lake_reader.register(spark)
        api = t.incremental_cdc(begin, end)
        r = (
            spark.read.format("lake-table")
            .option("path", t.path)
            .option("engine.read.type", "cdc")
            .option("engine.read.begin", str(begin))
        )
        if end is not None:
            r = r.option("engine.read.end", str(end))
        fmt = r.load()
        assert sorted(api.columns) == sorted(fmt.columns)
        cols = sorted(api.columns)
        key = lambda tup: tuple(str(x) for x in tup)  # noqa: E731
        return (
            sorted(map(tuple, api.select(*cols).collect()), key=key),
            sorted(map(tuple, fmt.select(*cols).collect()), key=key),
        )

    def test_cow_matches_api_incl_insert_delete_noop(self, spark, tmp_path):
        t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
        t.merge(_mk(spark, [("k1", 1, "upsert", "a", "p1"),
                            ("k4", 1, "upsert", "z", "p2")]), "b1")
        t.merge(_mk(spark, [("k1", 2, "upsert", "a2", "p1"),
                            ("k2", 2, "upsert", "b", "p1"),
                            ("k3", 2, "delete", "x", "p1"),
                            ("k4", 2, "delete", "z", "p2")]), "b2")
        a, f = self._both(spark, t, 1)
        assert a == f and len(a) == 3  # k3 insert+delete = net no-op
        # begin=0 classifies everything live as insert
        a0, f0 = self._both(spark, t, 0)
        assert a0 == f0 and len(a0) == 2

    def test_mor_range_and_resolution(self, spark, tmp_path):
        t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
        t.merge(_mk(spark, [("k1", 1, "upsert", "a", "p1"),
                            ("k2", 1, "upsert", "b", "p1")]), "b1",
                mode="mor")
        t.merge(_mk(spark, [("k1", 2, "upsert", "a2", "p1"),
                            ("k3", 2, "upsert", "c", "p1")]), "b2",
                mode="mor")
        t.merge(_mk(spark, [("k2", 3, "delete", "b", "p1"),
                            ("k3", 3, "upsert", "c2", "p1")]), "b3",
                mode="mor")
        a, f = self._both(spark, t, 1)
        assert a == f and len(a) == 3
        a2, f2 = self._both(spark, t, 1, 2)
        assert a2 == f2 and len(a2) == 2

    def test_partition_filter_prunes_cdc_plan(self, spark, tmp_path):
        t = _build(spark, str(tmp_path / "t"))
        lake_reader.register(spark)
        # structural: pushed partition predicate shrinks the planned
        # unit set to the one changed partition
        rd = LakeBatchReader({
            "path": t.path, "engine.read.type": "cdc",
            "engine.read.begin": "1",
        })
        from pyspark.sql.datasource import EqualTo
        list(rd.pushFilters([EqualTo(("d",), "2024-01-01")]))
        planned = rd.partitions()
        all_rd = LakeBatchReader({
            "path": t.path, "engine.read.type": "cdc",
            "engine.read.begin": "1",
        })
        assert len(planned) < len(all_rd.partitions())
        df = (
            spark.read.format("lake-table")
            .option("path", t.path)
            .option("engine.read.type", "cdc")
            .option("engine.read.begin", "1")
            .load()
            .where(F.col("d") == "2024-01-01")
        )
        got = [(r["_change_op"], r["_key"], r["val"], r["_before_val"])
               for r in df.collect()]
        assert got == [("u", "k1", "a2", "a")]


class TestColumnMapping:
    def test_rename_and_backfill(self, spark, tmp_path):
        t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
        t.merge(_mk(spark, [("k1", 1, "upsert", "a", "p")]), "b1")
        t.rename_column("val", "value")
        t.merge(
            spark.createDataFrame(
                [("k2", 2, "upsert", "b", "p", 7)],
                "_key string, _ts long, _op string, value string, "
                "d string, extra long",
            ),
            "b2",
        )
        lake_reader.register(spark)
        df = _read(spark, t.path)
        assert "value" in df.columns and "val" not in df.columns
        got = sorted(
            (r["_key"], r["value"], r["extra"]) for r in df.collect()
        )
        assert got == [("k1", "a", None), ("k2", "b", 7)]


class TestStreamMaxVersionsPerBatch:
    def test_cap_never_loses_versions(self, spark, tmp_path):
        """The per-batch version cap must be enforced in latestOffset —
        Spark checkpoints that offset, so capping later (in
        partitions()) would skip the capped-off versions forever. With
        max=1 over three commits, one continuous run must deliver every
        commit, one version (here one row) per micro-batch."""
        import time

        from hudi_spark_plus_spark.streaming import stream_source

        t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
        for v, (k, val) in enumerate(
            [("k1", "a"), ("k2", "b"), ("k3", "c")], start=1
        ):
            t.merge(_mk(spark, [(k, v, "upsert", val, "p")]), f"b{v}")
        stream_source.register(spark)
        batches: list = []

        def take(df, bid):
            rows = [(r["_key"], r["val"]) for r in df.collect()]
            if rows:
                batches.append(rows)

        q = (
            spark.readStream.format("lake-table")
            .option("path", t.path)
            .option("engine.stream.max.versions.per.batch", "1")
            .load()
            .writeStream.foreachBatch(take)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 120
            while (
                sum(len(b) for b in batches) < 3 and time.time() < deadline
            ):
                time.sleep(0.5)
        finally:
            q.stop()
        assert sorted(r for b in batches for r in b) == [
            ("k1", "a"), ("k2", "b"), ("k3", "c"),
        ]
        assert all(len(b) == 1 for b in batches), batches


    def test_restart_mid_backlog_keeps_cap(self, spark, tmp_path):
        """Stop a capped stream partway through a 5-commit backlog and
        restart it from the checkpoint: the cap must keep holding (no
        post-restart flood of the remaining backlog — the engine
        re-plans the last offset-log batch on recovery, which restores
        the cap floor), every version must arrive, and nothing beyond
        the one replayable uncommitted batch may duplicate."""
        import time

        from hudi_spark_plus_spark.streaming import stream_source

        t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
        keys = [("k1", "a"), ("k2", "b"), ("k3", "c"), ("k4", "d"),
                ("k5", "e")]
        for v, (k, val) in enumerate(keys, start=1):
            t.merge(_mk(spark, [(k, v, "upsert", val, "p")]), f"b{v}")
        stream_source.register(spark)
        batches: list = []

        def take(df, bid):
            rows = [(r["_key"], r["val"]) for r in df.collect()]
            if rows:
                batches.append(rows)

        def run_until(n_rows, ck):
            q = (
                spark.readStream.format("lake-table")
                .option("path", t.path)
                .option("engine.stream.max.versions.per.batch", "1")
                .option("engine.stream.debug.dir", str(tmp_path))
                .load()
                .writeStream.foreachBatch(take)
                .option("checkpointLocation", ck)
                .trigger(processingTime="0 seconds")
                .start()
            )
            try:
                deadline = time.time() + 120
                while (
                    sum(len(b) for b in batches) < n_rows
                    and time.time() < deadline
                ):
                    time.sleep(0.2)
            finally:
                q.stop()

        def transitions():
            p = tmp_path / "lake_stream_transitions.jsonl"
            return p.read_text() if p.exists() else "<no transition log>"

        # Phase 1 must stop MID-backlog, but q.stop() latency races the
        # drain: between the poll observing 2 rows and the stop taking
        # effect, the remaining batches may land (load-dependent — the
        # one observed in-suite flake of this test post-r9). Achieve the
        # mid-backlog stop BY CONSTRUCTION: retry with a fresh
        # checkpoint until the stop genuinely lands partway.
        import shutil as _shutil

        ck = str(tmp_path / "ck")
        for _attempt in range(5):
            batches.clear()
            _shutil.rmtree(ck, ignore_errors=True)
            run_until(2, ck)   # partway into the backlog
            if sum(len(b) for b in batches) < 5:
                break
        n1 = sum(len(b) for b in batches)
        assert 2 <= n1 < 5, (
            f"could not stop mid-backlog in 5 attempts (last run "
            f"delivered {n1})"
        )
        run_until(5, ck)   # restart from the checkpoint, drain the rest
        got = [r for b in batches for r in b]
        # a stall here is the r8 flake: fail WITH the offset-call
        # transcript so the interleaving is named, not guessed at
        assert len(got) >= 5, (
            f"stream stalled with {got}; transitions:\n{transitions()}"
        )
        # cap held in EVERY batch, including the first after restart
        assert all(len(b) == 1 for b in batches), batches
        assert set(got) == set(keys)
        # at-least-once only across the stop boundary: the single batch
        # that was delivered-but-uncommitted at stop may replay
        assert len(got) <= len(keys) + 1, got


    def test_initial_offset_after_restore_cannot_clobber_floor(
        self, spark, tmp_path
    ):
        """The r8 full-suite stall, named (VERDICT r8 #1): the capped
        tip pins forever iff the floor lags Spark's committed offset —
        latestOffset then returns a value Spark already committed,
        Spark judges latest == committed, never plans, and nothing
        ratchets the floor again. The one call order that THREW the
        floor backwards was initialOffset() landing after partitions()
        restored it (assignment, not ratchet). Simulated here without
        a live stream: restore to 3, clobber-attempt, poll must still
        return 4 — with the old assignment it returned 1 and pinned."""
        from hudi_spark_plus_spark.streaming.stream_source import (
            LakeStreamReader,
        )

        t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
        for v in range(1, 6):
            t.merge(_mk(spark, [(f"k{v}", v, "upsert", "x", "p")]),
                    f"b{v}")
        rd = LakeStreamReader({
            "path": t.path,
            "engine.stream.max.versions.per.batch": "1",
        })
        # restart: engine re-plans the last offset-log batch first
        rd.partitions({"version": 2}, {"version": 3})
        rd.commit({"version": 3})
        # drifted/errant engine path calls initialOffset post-restore
        assert rd.initialOffset() == {"version": 0}
        # floor must have ratcheted, not reset: next capped poll is 4
        assert rd.latestOffset() == {"version": 4}

    def test_pin_state_self_heals_within_two_polls(self, spark, tmp_path):
        """Self-heal of the pin state itself: floor restored to 3 but
        Spark's checkpoint is at 4 (the batch (3,4] was planned and
        committed before the stop, but this reader instance never saw
        those calls). Poll 1 returns 4 == committed, Spark plans
        nothing; poll 2 (no partitions/commit in between) must adopt 4
        as the floor and return 5 — the backlog drains instead of
        pinning."""
        from hudi_spark_plus_spark.streaming.stream_source import (
            LakeStreamReader,
        )

        t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
        for v in range(1, 6):
            t.merge(_mk(spark, [(f"k{v}", v, "upsert", "x", "p")]),
                    f"b{v}")
        rd = LakeStreamReader({
            "path": t.path,
            "engine.stream.max.versions.per.batch": "1",
        })
        rd.partitions({"version": 2}, {"version": 3})   # restore -> 3
        assert rd.latestOffset() == {"version": 4}       # == committed
        # Spark saw 4 == committed: no plan, no commit, polls again
        assert rd.latestOffset() == {"version": 5}       # healed
        # and the healed range plans only the undelivered version
        slices = rd.partitions({"version": 4}, {"version": 5})
        assert slices and all(s.begin == 4 and s.end == 5 for s in slices)

    def test_self_heal_never_widens_fresh_start_cap(self, spark, tmp_path):
        """Fresh-start safety of the heal: the engine polls BEFORE
        initialOffset on a fresh stream, so two pre-batch polls happen
        with no partitions() between them. Unarmed (no partitions yet),
        the heal must not fire — both polls return start+cap and the
        first batch stays one version wide."""
        from hudi_spark_plus_spark.streaming.stream_source import (
            LakeStreamReader,
        )

        t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
        for v in range(1, 4):
            t.merge(_mk(spark, [(f"k{v}", v, "upsert", "x", "p")]),
                    f"b{v}")
        rd = LakeStreamReader({
            "path": t.path,
            "engine.stream.max.versions.per.batch": "1",
        })
        assert rd.latestOffset() == {"version": 1}
        assert rd.initialOffset() == {"version": 0}
        assert rd.latestOffset() == {"version": 1}   # no heal: unarmed
        assert rd.partitions({"version": 0}, {"version": 1})
        rd.commit({"version": 1})
        assert rd.latestOffset() == {"version": 2}

    def test_regressed_offsets_never_redeliver(self, spark, tmp_path):
        """Defense in depth for engine drift: if a future engine polled
        latestOffset before re-planning the last offset-log batch on a
        committed restart, the capped first poll would regress below
        the checkpoint. Planning must then yield EMPTY ranges for the
        already-processed versions (floor evidence from Spark-provided
        offsets) — offsets may wobble, data must never duplicate or
        skip."""
        from hudi_spark_plus_spark.streaming.stream_source import (
            LakeStreamReader,
        )

        t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
        for v in range(1, 7):
            t.merge(_mk(spark, [(f"k{v}", v, "upsert", "x", "p")]),
                    f"b{v}")
        rd = LakeStreamReader({
            "path": t.path,
            "engine.stream.max.versions.per.batch": "1",
        })
        # simulated drifted-engine restart: checkpoint at 5, but the
        # first poll (floor unknown) regressed to 1 and Spark logged it
        assert rd.latestOffset() == {"version": 1}
        assert rd.partitions({"version": 5}, {"version": 1}) == []
        # regression evidence remembered: the poisoned follow-up batch
        # (1, 6] must re-deliver NOTHING below 5
        slices = rd.partitions({"version": 1}, {"version": 6})
        assert slices, "versions past the floor must still flow"
        assert all(s.begin == 5 and s.end == 6 for s in slices)
        # and the next poll caps from the restored floor
        assert rd.latestOffset() == {"version": 6}

    def test_nodata_entry_before_replay_does_not_swallow_it(
        self, spark, tmp_path
    ):
        """The observed Spark 4.1 restart shape that LOST data under an
        over-eager floor clamp: the engine re-plans a trailing no-data
        offset entry (3,3) BEFORE replaying the real uncommitted batch
        (2,3). The floor from the first call must not empty the
        replay — only genuine regression evidence (start > end) may
        clamp."""
        from hudi_spark_plus_spark.streaming.stream_source import (
            LakeStreamReader,
        )

        t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
        for v in range(1, 4):
            t.merge(_mk(spark, [(f"k{v}", v, "upsert", "x", "p")]),
                    f"b{v}")
        rd = LakeStreamReader({
            "path": t.path,
            "engine.stream.max.versions.per.batch": "1",
        })
        assert rd.partitions({"version": 3}, {"version": 3}) == []
        slices = rd.partitions({"version": 2}, {"version": 3})
        assert slices and all(s.begin == 2 and s.end == 3 for s in slices)


class TestStreamMorResolution:
    def test_multi_version_mor_batch_resolves_once(self, spark, tmp_path):
        """Two MOR commits drained in ONE micro-batch: each record must
        surface once, at its final in-range state — the delta files of
        both versions are live, so without group resolution k1 would
        appear twice."""
        from hudi_spark_plus_spark.streaming import stream_source

        t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
        t.merge(_mk(spark, [("k1", 1, "upsert", "a", "p"),
                            ("k2", 1, "upsert", "b", "p")]), "b1", mode="mor")
        t.merge(_mk(spark, [("k1", 2, "upsert", "a2", "p")]), "b2",
                mode="mor")
        stream_source.register(spark)
        rows = []

        def take(df, bid):
            rows.extend((r["_key"], r["val"]) for r in df.collect())

        q = (
            spark.readStream.format("lake-table")
            .option("path", t.path)
            .load()
            .writeStream.foreachBatch(take)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert sorted(rows) == [("k1", "a2"), ("k2", "b")]


class TestZorderFormatSkipping:
    def test_cluster_then_format_range_read_skips_files(
        self, spark, tmp_path
    ):
        """The clustering payoff on the FORMAT surface: after z-order
        clustering on (x, y), per-file col_stats ranges tighten on both
        dimensions, so a pushed range on either column plans a strict
        subset of files — and the read stays exact."""
        from pyspark.sql.datasource import GreaterThanOrEqual

        from hudi_spark_plus_spark.table.zorder import zorder_cluster_table

        df = spark.createDataFrame(
            [
                (f"k{i}", 1, "upsert", i % 64, (i * 37) % 64)
                for i in range(512)
            ],
            "_key string, _ts long, _op string, x long, y long",
        )
        t = LakeTable(spark, str(tmp_path / "t"), buckets=1)
        t.merge(df, "b1")
        zorder_cluster_table(t, "x", "y", files_per_bucket=8)
        live = [f for f in t.log.live_files()]
        assert len(live) == 8
        r = LakeBatchReader({"path": t.path})
        list(r.pushFilters([GreaterThanOrEqual(("x",), 56)]))
        planned = sorted(p for s in r.partitions() for p in s.paths)
        assert planned and len(planned) < len(live), (
            f"z-ordered range read must skip files: planned "
            f"{len(planned)} of {len(live)}"
        )
        lake_reader.register(spark)
        got = _read(spark, t.path).where(F.col("x") >= 56)
        assert got.count() == 8 * 8  # 8 x-values, 8 keys each
        assert all(r["x"] >= 56 for r in got.collect())


class TestPushdownPlanReuse:
    """Spark 4.1 Python DS planning cache (the SHARP EDGE note in
    lake_reader.py): filtered actions re-plan with a fresh reader every
    time, but an unfiltered action on the SAME loaded DataFrame reuses
    the most recent (possibly pruned) plan. These tests pin the safe
    usage patterns the engine documents."""

    def _table(self, spark, tmp_path):
        t = LakeTable(
            spark, str(tmp_path / "t"), buckets=1, partition_fields=["d"]
        )
        rows = [
            (f"k{p}{i}", 1, "upsert", f"{p}{i}", f"p{p}")
            for p in (1, 2, 3)
            for i in range(4)
        ]
        t.merge(_mk(spark, rows), "b1")
        return t

    def test_fresh_load_per_query_is_always_correct(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        lake_reader.register(spark)
        assert _read(spark, t.path).count() == 12
        assert _read(spark, t.path).where(F.col("d") == "p3").count() == 4
        # a fresh load after a filtered query plans independently
        assert _read(spark, t.path).count() == 12

    def test_filtered_requeries_on_shared_df_replan(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        lake_reader.register(spark)
        df = _read(spark, t.path)
        assert df.where(F.col("d") == "p3").count() == 4
        # every FILTERED action re-plans with its own filters — correct
        assert df.where(F.col("d") < "p3").count() == 8
        assert df.where(F.col("val") == "21").count() == 1

    def test_unfiltered_reuse_of_filtered_plan_pinned(self, spark, tmp_path):
        """PINS the Spark 4.1 framework hazard itself (ADVICE r8): an
        unfiltered action on a shared DataFrame after a filtered one
        reuses the filtered planning's InputPartitions and returns the
        SUBSET. This is the engine behavior the SHARP EDGE note and the
        README caveat document — pruning stays on by default because it
        is the 100-TB point of the format, and the documented escape
        hatches (fresh load per query / engine.read.pushdown=false) are
        pinned green by the two tests above. WHEN THIS TEST FAILS with
        count == 12, Spark has fixed filterless re-planning: delete
        this test and the caveat docs — no engine change needed."""
        t = self._table(spark, tmp_path)
        lake_reader.register(spark)
        df = _read(spark, t.path)
        assert df.where(F.col("d") == "p3").count() == 4
        reused = df.count()
        assert reused == 4, (
            f"shared-DataFrame filterless action returned {reused}: "
            "Spark now re-plans filterless scans — remove this pin and "
            "the SHARP EDGE caveat in lake_reader.py/README"
        )

    def test_pushdown_off_makes_shared_df_reuse_safe(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        lake_reader.register(spark)
        df = _read(spark, t.path, **{"engine.read.pushdown": "false"})
        assert df.where(F.col("d") == "p3").count() == 4
        # without pruning there is no stale pruned plan to reuse: the
        # unfiltered action on the shared DataFrame stays correct
        assert df.count() == 12


class TestSecondaryIndexFormatPruning:
    """pushFilters equality conjuncts consult the table's secondary
    index (format-read twin of LakeTable.scan_for_values): Bloom-miss
    files are never planned; unindexed (post-build) files always are."""

    def _planned(self, reader):
        return sorted(p for s in reader.partitions() for p in s.paths)

    def _seed(self, spark, path):
        t = LakeTable(spark, path, buckets=4)
        t.merge(
            _mk(spark, [
                (f"k{i:02d}", 1, "upsert", f"cat{i % 7}", "p")
                for i in range(60)
            ]),
            "b1",
        )
        t.merge(
            _mk(spark, [("k00", 2, "upsert", "UNIQUE", "p")]), "b2"
        )
        t.create_secondary_index("val")
        return t

    def test_equality_probe_prunes_planned_files(self, spark, tmp_path):
        t = self._seed(spark, str(tmp_path / "t"))
        r_all = LakeBatchReader({"path": t.path})
        r_one = LakeBatchReader({"path": t.path})
        flt = [EqualTo(("val",), "UNIQUE")]
        assert list(r_one.pushFilters(flt)) == flt  # all back to Spark
        planned = self._planned(r_one)
        assert 0 < len(planned) < len(self._planned(r_all))
        kept, _ = t.files_for_values("val", ["UNIQUE"])
        assert set(planned) <= {f.path for f in kept} | set(planned)
        # end-to-end through Spark: result identical to unpruned read
        lake_reader.register(spark)
        got = [
            (r["_key"], r["val"])
            for r in _read(spark, t.path)
            .where(F.col("val") == "UNIQUE")
            .collect()
        ]
        assert got == [("k00", "UNIQUE")]

    def test_stale_index_scans_new_files(self, spark, tmp_path):
        t = self._seed(spark, str(tmp_path / "t"))
        t.merge(_mk(spark, [("zz", 3, "upsert", "LATE", "p")]), "b3")
        lake_reader.register(spark)
        got = [
            r["_key"]
            for r in _read(spark, t.path)
            .where(F.col("val") == "LATE")
            .collect()
        ]
        assert got == ["zz"]
        # miss-probe on an indexed value set keeps only unindexed files
        r = LakeBatchReader({"path": t.path})
        list(r.pushFilters([EqualTo(("val",), "NOPE")]))
        planned = self._planned(r)
        entries = t.secondary_index("val")["entries"]
        assert all(p not in entries for p in planned), planned

    def test_mor_unit_granularity_and_float_literal_ignored(
        self, spark, tmp_path
    ):
        t = self._seed(spark, str(tmp_path / "t"))
        t.merge(
            _mk(spark, [("k03", 4, "upsert", "MOVED", "p")]),
            "b4",
            mode="mor",
        )
        lake_reader.register(spark)
        # old value must not surface the superseded row
        got = {
            r["_key"]
            for r in _read(spark, t.path)
            .where(F.col("val") == "cat3")
            .collect()
        }
        assert "k03" not in got
        got2 = {
            r["_key"]
            for r in _read(spark, t.path)
            .where(F.col("val") == "MOVED")
            .collect()
        }
        assert got2 == {"k03"}
        # a float literal must not be string-guessed into a wrong prune
        r = LakeBatchReader({"path": t.path})
        list(r.pushFilters([EqualTo(("val",), 3.14)]))
        assert len(self._planned(r)) > 0
