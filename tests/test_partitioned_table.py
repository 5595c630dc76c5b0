"""Partition-path lake tables (H4 — the partition half of Hudi's
Simple/ComplexKeyGenerator pair, reference README.md:59,65 and
BinlogSyncHoodieCommand.scala:99-102): layout, persistence, pruning,
merge identity scoped to (partition, key), MOR, compaction, config."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from hudi_spark_plus_spark.plans import config as cfg
from hudi_spark_plus_spark.table.lake_table import LakeTable
from hudi_spark_plus_spark.table.maintenance import compact


def mkbatch(spark, rows):
    """rows: (key, ts, op, d, val) — ``d`` is the partition column."""
    return spark.createDataFrame(
        rows, "_key string, _ts long, _op string, d string, val string"
    )


@pytest.fixture()
def ptable(spark, tmp_path):
    return LakeTable(
        spark, str(tmp_path / "pt"), buckets=4, partition_fields=["d"]
    )


def snap_dict(table, **kw):
    return {
        (r["d"], r["_key"]): (r["_ts"], r["val"])
        for r in table.snapshot(**kw).collect()
    }


B1 = [
    ("k1", 1, "upsert", "2024-01-01", "a"),
    ("k2", 1, "upsert", "2024-01-01", "b"),
    ("k3", 1, "upsert", "2024-01-02", "c"),
    ("k4", 1, "upsert", "2024-01-03", "d"),
]


class TestPartitionedLayout:
    def test_writer_produces_part_dirs_and_manifest_values(
        self, spark, ptable
    ):
        ptable.merge(mkbatch(spark, B1), "b1")
        dirs = glob.glob(os.path.join(ptable.path, "data", "*", "_part=*"))
        assert sorted(os.path.basename(p) for p in dirs) == [
            "_part=2024-01-01", "_part=2024-01-02", "_part=2024-01-03",
        ]
        # every _part dir nests _bucket dirs (layout order part/bucket)
        assert all(
            glob.glob(os.path.join(p, "_bucket=*")) for p in dirs
        )
        live = ptable.log.live_files()
        assert {f.partition for f in live} == {
            "2024-01-01", "2024-01-02", "2024-01-03",
        }
        assert ptable.partition_values() == [
            "2024-01-01", "2024-01-02", "2024-01-03",
        ]

    def test_partition_stats_metadata_table(self, spark, ptable):
        ptable.merge(mkbatch(spark, B1), "b1")
        ptable.merge(
            mkbatch(spark, [("k5", 2, "upsert", "2024-01-01", "e")]),
            "b2",
            mode="mor",
        )
        st = {
            r["partition"]: (r["n_files"], r["n_rows"], r["n_delta_files"])
            for r in ptable.partition_stats().collect()
        }
        assert set(st) == {"2024-01-01", "2024-01-02", "2024-01-03"}
        assert st["2024-01-01"][1] == 3  # k1, k2 + k5's delta row
        assert st["2024-01-01"][2] == 1  # the MOR delta file
        assert st["2024-01-02"] == (1, 1, 0)

    def test_partition_value_not_stored_in_data_files(self, spark, ptable):
        """_part is directory layout, not data: parquet files must not
        carry a _part column (the value re-derives from the payload)."""
        import pyarrow.parquet as pq

        ptable.merge(mkbatch(spark, B1), "b1")
        f = glob.glob(
            os.path.join(ptable.path, "data", "*", "_part=*", "_bucket=*",
                         "*.parquet")
        )[0]
        names = set(pq.ParquetFile(f).schema_arrow.names)
        assert "_part" not in names and "_bucket" not in names
        assert "d" in names  # the payload partition FIELD is stored

    def test_reopen_roundtrip(self, spark, ptable):
        ptable.merge(mkbatch(spark, B1), "b1")
        # same args: fine
        again = LakeTable(
            spark, ptable.path, buckets=4, partition_fields=["d"]
        )
        assert again.partition_fields == ["d"]
        # no args: persisted metadata wins
        bare = LakeTable(spark, ptable.path)
        assert bare.partition_fields == ["d"] and bare.buckets == 4
        assert snap_dict(bare) == snap_dict(ptable)
        # conflicting fields: error
        with pytest.raises(ValueError, match="partitioned by"):
            LakeTable(spark, ptable.path, partition_fields=["val"])

    def test_retrofit_unpartitioned_rejected(self, spark, tmp_path):
        t = LakeTable(spark, str(tmp_path / "u"), buckets=2)
        t.merge(
            mkbatch(spark, B1).drop("d").withColumn("d", F.lit("x")), "b1"
        )
        with pytest.raises(ValueError, match="unpartitioned"):
            LakeTable(spark, t.path, partition_fields=["d"])

    def test_missing_partition_column_in_batch_raises(self, spark, ptable):
        with pytest.raises(ValueError, match="missing partition"):
            ptable.merge(mkbatch(spark, B1).drop("d"), "b1")


class TestPartitionPruning:
    def test_snapshot_partitions_reads_only_matching_files(
        self, spark, ptable
    ):
        ptable.merge(mkbatch(spark, B1), "b1")
        live = ptable.log.live_files()
        kept = ptable._prune_partitions(live, partitions=["2024-01-01"])
        assert kept and len(kept) < len(live)
        assert all(f.partition == "2024-01-01" for f in kept)
        got = snap_dict(ptable, partitions=["2024-01-01"])
        assert set(got) == {("2024-01-01", "k1"), ("2024-01-01", "k2")}

    def test_partition_range(self, spark, ptable):
        ptable.merge(mkbatch(spark, B1), "b1")
        got = snap_dict(
            ptable, partition_range=("2024-01-02", "2024-01-03")
        )
        assert set(got) == {("2024-01-02", "k3"), ("2024-01-03", "k4")}
        kept = ptable._prune_partitions(
            ptable.log.live_files(),
            partition_range=("2024-01-02", "2024-01-03"),
        )
        assert all(
            f.partition in ("2024-01-02", "2024-01-03") for f in kept
        )

    def test_prune_on_unpartitioned_table_raises(self, spark, tmp_path):
        t = LakeTable(spark, str(tmp_path / "u"), buckets=2)
        t.merge(mkbatch(spark, B1), "b1")  # d is just a payload column
        with pytest.raises(ValueError, match="not partitioned"):
            t.snapshot(partitions=["2024-01-01"])
        with pytest.raises(ValueError, match="not partitioned"):
            t.snapshot(partition_range=("a", "b"))
        with pytest.raises(ValueError, match="not partitioned"):
            t.incremental(0, partitions=["x"])

    def test_merge_rewrites_only_touched_partitions(self, spark, ptable):
        """Selective COW at (partition, bucket) granularity: a batch
        touching one partition carries every other partition's files
        through the commit untouched."""
        ptable.merge(mkbatch(spark, B1), "b1")
        before = {f.path for f in ptable.log.live_files()}
        ptable.merge(
            mkbatch(spark, [("k3", 2, "upsert", "2024-01-02", "c2")]), "b2"
        )
        after = ptable.log.live_files()
        untouched_before = {
            f.path
            for f in ptable.log.read(1).files
            if f.partition != "2024-01-02"
        }
        untouched_after = {
            f.path for f in after if f.partition != "2024-01-02"
        }
        assert untouched_before == untouched_after  # carried by reference
        changed = {f.path for f in after} - before
        assert changed  # the touched partition DID rewrite
        assert snap_dict(ptable)[("2024-01-02", "k3")] == (2, "c2")


class TestPartitionScopedIdentity:
    def test_same_key_in_two_partitions_is_two_records(self, spark, ptable):
        """Hudi non-global-index semantics: record identity is
        (partition, key) — the same _key in two partitions never
        merges, and a delete only tombstones its own partition."""
        ptable.merge(
            mkbatch(spark, [
                ("k1", 1, "upsert", "2024-01-01", "a"),
                ("k1", 1, "upsert", "2024-01-02", "b"),
            ]),
            "b1",
        )
        got = snap_dict(ptable)
        assert got == {
            ("2024-01-01", "k1"): (1, "a"),
            ("2024-01-02", "k1"): (1, "b"),
        }
        ptable.merge(
            mkbatch(spark, [("k1", 2, "delete", "2024-01-01", "a")]), "b2"
        )
        assert set(snap_dict(ptable)) == {("2024-01-02", "k1")}

    def test_lww_within_partition(self, spark, ptable):
        ptable.merge(mkbatch(spark, B1), "b1")
        # stale update (ts 0 < stored 1) must lose
        ptable.merge(
            mkbatch(spark, [("k1", 0, "upsert", "2024-01-01", "stale")]),
            "b2",
        )
        assert snap_dict(ptable)[("2024-01-01", "k1")] == (1, "a")


class TestPartitionedMorAndMaintenance:
    def test_mor_partitioned_roundtrip_and_compact(self, spark, ptable):
        ptable.merge(mkbatch(spark, B1), "b1", mode="mor")
        ptable.merge(
            mkbatch(spark, [
                ("k3", 2, "upsert", "2024-01-02", "c2"),
                ("k4", 2, "delete", "2024-01-03", "d"),
            ]),
            "b2",
            mode="mor",
        )
        live = ptable.log.live_files()
        assert all(f.partition is not None for f in live)
        assert any(f.kind == "delta" for f in live)
        expect = {
            ("2024-01-01", "k1"): (1, "a"),
            ("2024-01-01", "k2"): (1, "b"),
            ("2024-01-02", "k3"): (2, "c2"),
        }
        assert snap_dict(ptable) == expect
        # pruned MOR read resolves within the partition slice
        assert snap_dict(ptable, partitions=["2024-01-02"]) == {
            ("2024-01-02", "k3"): (2, "c2")
        }
        compact(ptable)
        live = ptable.log.live_files()
        assert all(f.kind == "base" and f.partition is not None for f in live)
        assert snap_dict(ptable) == expect

    def test_maybe_compact_is_unit_scoped(self, spark, ptable):
        """Inline MOR compaction on a partitioned table compacts the
        (partition, bucket) UNITS over threshold — a hot partition's
        delta pile must not trigger rewrites of the same bucket in cold
        partitions (1000x write amplification at 1000 partitions)."""
        from hudi_spark_plus_spark.table.maintenance import maybe_compact

        ptable.merge(mkbatch(spark, B1), "b1", mode="mor")
        # hammer ONE key (one partition/bucket unit) with delta merges
        for i in range(2, 6):
            ptable.merge(
                mkbatch(
                    spark, [("k1", i, "upsert", "2024-01-01", f"v{i}")]
                ),
                f"b{i}",
                mode="mor",
            )
        before = snap_dict(ptable)
        cold_before = {
            f.path
            for f in ptable.log.live_files()
            if f.partition != "2024-01-01"
        }
        st = maybe_compact(ptable, max_deltas_per_bucket=3)
        assert st["buckets_compacted"] >= 1
        live = ptable.log.live_files()
        cold_after = {
            f.path for f in live if f.partition != "2024-01-01"
        }
        assert cold_before == cold_after  # cold partitions untouched
        hot = [f for f in live if f.partition == "2024-01-01"]
        # the hot unit's delta pile is folded (at most non-due deltas left)
        assert sum(1 for f in hot if f.kind == "delta") < 3
        assert snap_dict(ptable) == before  # logically invisible

    def test_incremental_partition_pruned(self, spark, ptable):
        ptable.merge(mkbatch(spark, B1), "b1")
        ptable.merge(
            mkbatch(spark, [
                ("k3", 2, "upsert", "2024-01-02", "c2"),
                ("k1", 2, "upsert", "2024-01-01", "a2"),
            ]),
            "b2",
        )
        inc = ptable.incremental(1)
        assert {r["_key"] for r in inc.collect()} == {"k1", "k3"}
        pruned = ptable.incremental(1, partitions=["2024-01-02"])
        assert {r["_key"] for r in pruned.collect()} == {"k3"}

    def test_vacuum_partitioned_prunes_part_dirs(self, spark, ptable):
        """Vacuum reclaims superseded files inside _part dirs and prunes
        emptied partition directories; the surviving state and partition
        metadata are intact."""
        import glob as _glob
        import os as _os

        from hudi_spark_plus_spark.table.maintenance import vacuum

        ptable.merge(mkbatch(spark, B1), "b1")
        # rewrite every 2024-01-01 key so v1's files for that partition
        # become garbage once v1 is dropped
        ptable.merge(
            mkbatch(spark, [
                ("k1", 2, "upsert", "2024-01-01", "a2"),
                ("k2", 2, "upsert", "2024-01-01", "b2"),
            ]),
            "b2",
        )
        before = snap_dict(ptable)
        st = vacuum(ptable, keep_last=1, grace_seconds=0)
        assert st["files_removed"] > 0
        assert snap_dict(ptable) == before
        assert ptable.partition_values() == [
            "2024-01-01", "2024-01-02", "2024-01-03",
        ]
        # every parquet left on disk is referenced by the manifest
        live = {f.path for f in ptable.log.live_files()}
        on_disk = {
            _os.path.relpath(p, ptable.path)
            for p in _glob.glob(
                _os.path.join(
                    ptable.path, "data", "*", "_part=*", "_bucket=*",
                    "*.parquet",
                )
            )
        }
        assert on_disk == live

    def test_scan_for_keys_partition_scoped(self, spark, ptable):
        """(partition_path, record_key) point lookup: files of other
        partitions are eliminated before the bloom probe, and the result
        is the keys' rows in the named partition only."""
        ptable.merge(mkbatch(spark, B1), "b1")
        keys = spark.createDataFrame([("k1",), ("k3",)], "_key string")
        out = ptable.scan_for_keys(keys, partitions=["2024-01-01"])
        got = {(r["d"], r["_key"]) for r in out.collect()}
        assert got == {("2024-01-01", "k1")}  # k3 lives in 2024-01-02
        unpart = LakeTable(
            spark, str(ptable.path) + "_nope", buckets=2
        )
        with pytest.raises(ValueError, match="not partitioned"):
            unpart.scan_for_keys(keys, partitions=["x"])

    def test_snapshot_as_of_with_partition_pruning(self, spark, ptable):
        ptable.merge(mkbatch(spark, B1), "b1")
        ts = ptable.log.latest().ts_millis
        ptable.merge(
            mkbatch(spark, [("k3", 2, "upsert", "2024-01-02", "c2")]), "b2"
        )
        got = {
            (r["d"], r["_key"], r["val"])
            for r in ptable.snapshot_as_of(
                ts, partitions=["2024-01-02"]
            ).collect()
        }
        assert got == {("2024-01-02", "k3", "c")}  # pre-b2 state, pruned

    def test_partition_field_not_alterable(self, spark, ptable):
        ptable.merge(mkbatch(spark, B1), "b1")
        with pytest.raises(ValueError, match="partition field"):
            ptable.rename_column("d", "day")
        with pytest.raises(ValueError, match="partition field"):
            ptable.drop_column("d")


class TestGlobalIndex:
    """Hudi GLOBAL_* index semantics: record identity is _key alone on a
    partitioned table, so an upsert whose partition value changed
    RELOCATES the record instead of creating a second one."""

    @pytest.fixture()
    def gtable(self, spark, tmp_path):
        t = LakeTable(
            spark, str(tmp_path / "gt"), buckets=4,
            partition_fields=["d"], global_index=True,
        )
        t.merge(mkbatch(spark, B1), "b1")
        return t

    MOVE = [("k1", 2, "upsert", "2024-01-03", "moved")]

    def test_cow_relocation(self, spark, gtable):
        gtable.merge(mkbatch(spark, self.MOVE), "b2")
        snap = snap_dict(gtable)
        assert snap[("2024-01-03", "k1")] == (2, "moved")
        assert ("2024-01-01", "k1") not in snap
        assert len(snap) == 4
        # partition-pruned read of the OLD partition: no resurrection
        assert ("2024-01-01", "k1") not in snap_dict(
            gtable, partitions=["2024-01-01"]
        )

    def test_mor_relocation_with_tombstone(self, spark, gtable):
        gtable.merge(mkbatch(spark, self.MOVE), "b2", mode="mor")
        snap = snap_dict(gtable)
        assert snap[("2024-01-03", "k1")] == (2, "moved")
        assert ("2024-01-01", "k1") not in snap
        # THE global-MOR invariant: a read pruned to the old partition
        # alone must not resurrect the stale copy — the relocation
        # tombstone lives in that partition's own delta
        old_only = snap_dict(gtable, partitions=["2024-01-01"])
        assert ("2024-01-01", "k1") not in old_only
        assert old_only[("2024-01-01", "k2")] == (1, "b")
        # and the new partition pruned alone sees the moved row
        assert snap_dict(gtable, partitions=["2024-01-03"])[
            ("2024-01-03", "k1")
        ] == (2, "moved")

    def test_mor_relocation_survives_compaction(self, spark, gtable):
        gtable.merge(mkbatch(spark, self.MOVE), "b2", mode="mor")
        compact(gtable)
        assert not any(
            f.kind == "delta" for f in gtable.log.live_files()
        )
        snap = snap_dict(gtable)
        assert snap[("2024-01-03", "k1")] == (2, "moved")
        assert ("2024-01-01", "k1") not in snap
        assert ("2024-01-01", "k1") not in snap_dict(
            gtable, partitions=["2024-01-01"]
        )

    def test_mor_out_of_order_loser_dropped(self, spark, gtable):
        """A batch row older than the stored copy loses LWW and is NOT
        appended: an appended loser would win a partition-pruned read of
        its own partition."""
        gtable.merge(
            mkbatch(spark, [("k1", 0, "upsert", "2024-01-02", "stale")]),
            "b2", mode="mor",
        )
        snap = snap_dict(gtable)
        assert snap[("2024-01-01", "k1")] == (1, "a")
        assert ("2024-01-02", "k1") not in snap
        # pruned read of the loser's target partition sees nothing
        assert ("2024-01-02", "k1") not in snap_dict(
            gtable, partitions=["2024-01-02"]
        )

    def test_non_global_default_keeps_both(self, spark, ptable):
        """Contrast: without the global index the same move produces two
        records — Hudi non-global semantics (regression guard that the
        default identity is unchanged)."""
        ptable.merge(mkbatch(spark, B1), "b1")
        ptable.merge(mkbatch(spark, self.MOVE), "b2")
        snap = snap_dict(ptable)
        assert snap[("2024-01-01", "k1")] == (1, "a")
        assert snap[("2024-01-03", "k1")] == (2, "moved")

    def test_global_delete_reaches_other_partition(self, spark, gtable):
        """A delete routed with a DIFFERENT partition value still kills
        the record (key-only identity), in both modes."""
        gtable.merge(
            mkbatch(spark, [("k1", 2, "delete", "2024-01-02", "x")]), "b2"
        )
        assert not any(k == "k1" for _, k in snap_dict(gtable))
        gtable.merge(
            mkbatch(spark, [("k3", 2, "delete", "2024-01-03", "x")]),
            "b3", mode="mor",
        )
        snap = snap_dict(gtable)
        assert not any(k in ("k1", "k3") for _, k in snap)
        assert snap[("2024-01-03", "k4")] == (1, "d")

    def test_persistence_and_conflicts(self, spark, gtable, tmp_path):
        re = LakeTable(spark, gtable.path)
        assert re.global_index is True
        with pytest.raises(ValueError, match="global_index"):
            LakeTable(spark, gtable.path, global_index=False)
        u = LakeTable(spark, str(tmp_path / "ng"), buckets=2,
                      partition_fields=["d"])
        u.merge(mkbatch(spark, B1), "b1")
        with pytest.raises(ValueError, match="without a global index"):
            LakeTable(spark, u.path, global_index=True)

    def test_incremental_reports_move_as_update(self, spark, gtable):
        gtable.merge(mkbatch(spark, self.MOVE), "b2", mode="mor")
        inc = gtable.incremental(1)
        rows = {(r["d"], r["_key"]): r["_deleted"] for r in inc.collect()}
        assert rows == {("2024-01-03", "k1"): False}


class TestTimestampPartitionSpecs:
    """``col:transform[:fmt]`` partition specs (Hudi CustomKeyGenerator /
    TimestampBasedKeyGenerator analogues): time-partitioned layout
    derived from an event-time column."""

    DAY_US = 86_400_000_000

    def mkts(self, spark, rows):
        """rows: (key, ts_us) — ts_us is epoch-microseconds event time."""
        return spark.createDataFrame(
            [(k, 1, "upsert", t) for k, t in rows],
            "_key string, _ts long, _op string, ev_us long",
        )

    def test_epochmicros_day_partitioning(self, spark, tmp_path):
        t = LakeTable(
            spark, str(tmp_path / "tp"), buckets=2,
            partition_fields=["ev_us:epochmicros"],
        )
        t.merge(self.mkts(spark, [
            ("a", 0),                      # 1970-01-01
            ("b", self.DAY_US - 1),        # still 1970-01-01
            ("c", self.DAY_US),            # 1970-01-02
            ("d", 5 * self.DAY_US + 123),  # 1970-01-06
            ("e", -1),                     # 1969-12-31 (floor, not trunc)
        ]), "b1")
        assert t.partition_values() == [
            "1969-12-31", "1970-01-01", "1970-01-02", "1970-01-06",
        ]
        got = {
            r["_key"]
            for r in t.snapshot(
                partition_range=("1970-01-01", "1970-01-02")
            ).collect()
        }
        assert got == {"a", "b", "c"}
        # file-level structural pruning
        live = t.log.live_files()
        kept = t._prune_partitions(live, partitions=["1970-01-06"])
        assert kept and all(f.partition == "1970-01-06" for f in kept)
        # reopen with no args: the SPEC (not just the column) persists
        re = LakeTable(spark, str(tmp_path / "tp"))
        assert re.partition_fields == ["ev_us:epochmicros"]
        assert re.partition_values()[0] == "1969-12-31"

    def test_epochmillis_month_format(self, spark, tmp_path):
        t = LakeTable(
            spark, str(tmp_path / "tm"), buckets=2,
            partition_fields=["ev_us:epochmillis:yyyy-MM"],
        )
        ms = 40 * 86_400_000  # 1970-02-10
        t.merge(self.mkts(spark, [("a", 0), ("b", ms)]), "b1")
        assert t.partition_values() == ["1970-01", "1970-02"]

    def test_timestamp_transform_and_merge_identity(self, spark, tmp_path):
        """date col + :timestamp spec; same-key rows on different days are
        DISTINCT records ((partition, key) identity), same-day upsert
        merges."""
        df = spark.createDataFrame(
            [("k", 1, "upsert", "2024-03-01"), ("k", 1, "upsert", "2024-03-02")],
            "_key string, _ts long, _op string, day string",
        ).withColumn("day", F.to_date("day"))
        t = LakeTable(
            spark, str(tmp_path / "tt"), buckets=2,
            partition_fields=["day:timestamp:yyyy/MM/dd"],
        )
        t.merge(df, "b1")
        assert t.partition_values() == ["2024/03/01", "2024/03/02"]
        assert t.snapshot().count() == 2  # per-partition identity
        t.merge(
            df.where(F.col("day") == "2024-03-02").withColumn(
                "_ts", F.lit(2).cast("long")
            ),
            "b2",
        )
        assert t.snapshot().count() == 2  # merged, not duplicated

    def test_null_epoch_renders_default_partition(self, spark, tmp_path):
        t = LakeTable(
            spark, str(tmp_path / "tn"), buckets=2,
            partition_fields=["ev_us:epochmicros"],
        )
        df = spark.createDataFrame(
            [("a", 1, "upsert", None), ("b", 1, "upsert", 0)],
            "_key string, _ts long, _op string, ev_us long",
        )
        t.merge(df, "b1")
        assert t.partition_values() == ["1970-01-01", "default"]

    def test_bad_specs_rejected_at_construction(self, spark, tmp_path):
        with pytest.raises(ValueError, match="day-or-coarser"):
            LakeTable(
                spark, str(tmp_path / "x1"), buckets=2,
                partition_fields=["ev_us:epochmicros:yyyy-MM-dd-HH"],
            )
        with pytest.raises(ValueError, match="unknown partition-path"):
            LakeTable(
                spark, str(tmp_path / "x2"), buckets=2,
                partition_fields=["ev_us:bogus"],
            )

    def test_spec_source_column_not_alterable(self, spark, tmp_path):
        t = LakeTable(
            spark, str(tmp_path / "ta"), buckets=2,
            partition_fields=["ev_us:epochmicros"],
        )
        t.merge(self.mkts(spark, [("a", 0)]), "b1")
        with pytest.raises(ValueError, match="partition field"):
            t.drop_column("ev_us")
        with pytest.raises(ValueError, match="partition field"):
            t.rename_column("ev_us", "event_us")


class TestReplaceCommits:
    """Hudi's replacecommit write surface: insert_overwrite /
    insert_overwrite_table / delete_partition."""

    def _ow(self, spark, rows):
        # overwrite batches carry no _op: replace semantics have no
        # per-row upsert/delete split
        return mkbatch(spark, rows).drop("_op")

    def test_insert_overwrite_replaces_only_batch_partitions(
        self, spark, ptable
    ):
        ptable.merge(mkbatch(spark, B1), "b1")
        untouched_before = {
            f.path for f in ptable.log.live_files()
            if f.partition != "2024-01-01"
        }
        ptable.insert_overwrite(
            self._ow(spark, [
                ("k9", 5, "x", "2024-01-01", "NEW"),
                ("k1", 5, "x", "2024-01-01", "A5"),
            ]),
            "ow1",
        )
        assert snap_dict(ptable) == {
            ("2024-01-01", "k1"): (5, "A5"),
            ("2024-01-01", "k9"): (5, "NEW"),
            ("2024-01-02", "k3"): (1, "c"),
            ("2024-01-03", "k4"): (1, "d"),
        }
        # untouched partitions carried over by manifest entry, no rewrite
        untouched_after = {
            f.path for f in ptable.log.live_files()
            if f.partition != "2024-01-01"
        }
        assert untouched_after == untouched_before
        assert ptable.log.latest().operation == "insert_overwrite"
        # time travel: pre-overwrite state intact
        assert snap_dict(ptable, version=1)[("2024-01-01", "k1")] == (1, "a")

    def test_insert_overwrite_drops_replaced_partition_deltas(
        self, spark, ptable
    ):
        """A MOR delta inside a replaced partition must not survive the
        replace — otherwise read-time resolution would merge a dead
        update back in."""
        ptable.merge(mkbatch(spark, B1), "b1")
        ptable.merge(
            mkbatch(spark, [("k1", 3, "upsert", "2024-01-01", "a3")]),
            "b2", mode="mor",
        )
        ptable.insert_overwrite(
            self._ow(spark, [("k1", 2, "x", "2024-01-01", "OW")]), "ow"
        )
        # _ts=2 < the dead delta's 3: if the delta survived, LWW would
        # resurrect "a3"
        assert snap_dict(ptable)[("2024-01-01", "k1")] == (2, "OW")
        assert not any(
            f.kind == "delta" for f in ptable.log.live_files()
        )

    def test_insert_overwrite_unpartitioned_rejected(self, spark, tmp_path):
        t = LakeTable(spark, str(tmp_path / "u"), buckets=2)
        t.merge(mkbatch(spark, B1), "b1")
        with pytest.raises(ValueError, match="insert_overwrite_table"):
            t.insert_overwrite(self._ow(spark, B1))

    def test_insert_overwrite_table_replaces_everything(
        self, spark, ptable, tmp_path
    ):
        ptable.merge(mkbatch(spark, B1), "b1")
        ptable.insert_overwrite_table(
            self._ow(spark, [("z1", 9, "x", "2024-02-01", "zz")]), "owt"
        )
        assert snap_dict(ptable) == {("2024-02-01", "z1"): (9, "zz")}
        assert ptable.partition_values() == ["2024-02-01"]
        assert ptable.log.latest().operation == "insert_overwrite_table"
        # also legal on an unpartitioned table
        u = LakeTable(spark, str(tmp_path / "u2"), buckets=2)
        u.merge(mkbatch(spark, B1), "b1")
        u.insert_overwrite_table(
            self._ow(spark, [("q", 1, "x", "2024-01-01", "only")])
        )
        assert snap_dict(u) == {("2024-01-01", "q"): (1, "only")}

    def test_delete_partitions_metadata_only(self, spark, ptable):
        import glob as _glob
        import os as _os

        ptable.merge(mkbatch(spark, B1), "b1")
        n_parquet = len(_glob.glob(
            _os.path.join(ptable.path, "data", "*", "_part=*", "_bucket=*",
                          "*.parquet")
        ))
        ptable.delete_partitions(["2024-01-01", "2024-01-03"], "dp1")
        # metadata-only: no data files written or removed
        assert len(_glob.glob(
            _os.path.join(ptable.path, "data", "*", "_part=*", "_bucket=*",
                          "*.parquet")
        )) == n_parquet
        assert ptable.partition_values() == ["2024-01-02"]
        assert snap_dict(ptable) == {("2024-01-02", "k3"): (1, "c")}
        assert ptable.log.latest().operation == "delete_partition"
        # dropped partitions stay time-travel readable
        assert len(snap_dict(ptable, version=1)) == 4

    def test_delete_partitions_vacuum_reclaims(self, spark, ptable):
        import glob as _glob
        import os as _os

        from hudi_spark_plus_spark.table.maintenance import vacuum

        ptable.merge(mkbatch(spark, B1), "b1")
        ptable.delete_partitions(["2024-01-03"], "dp")
        vacuum(ptable, keep_last=1, grace_seconds=0)
        assert not _glob.glob(
            _os.path.join(ptable.path, "data", "*", "_part=2024-01-03")
        )
        assert snap_dict(ptable) == {
            ("2024-01-01", "k1"): (1, "a"),
            ("2024-01-01", "k2"): (1, "b"),
            ("2024-01-02", "k3"): (1, "c"),
        }

    def test_delete_partitions_unknown_value_noop(self, spark, ptable):
        ptable.merge(mkbatch(spark, B1), "b1")
        before = snap_dict(ptable)
        ptable.delete_partitions(["2099-12-31"])
        assert snap_dict(ptable) == before

    def test_delete_partitions_unpartitioned_rejected(self, spark, tmp_path):
        t = LakeTable(spark, str(tmp_path / "u3"), buckets=2)
        t.merge(mkbatch(spark, B1), "b1")
        with pytest.raises(ValueError, match="not partitioned"):
            t.delete_partitions(["2024-01-01"])

    def test_replace_commits_idempotent_by_batch_id(self, spark, ptable):
        ptable.merge(mkbatch(spark, B1), "b1")
        ptable.insert_overwrite(
            self._ow(spark, [("k1", 5, "x", "2024-01-01", "A5")]), "ow"
        )
        v = ptable.log.latest().version
        ptable.insert_overwrite(
            self._ow(spark, [("k1", 6, "x", "2024-01-01", "A6")]), "ow"
        )
        ptable.delete_partitions(["2024-01-02"], "dp")
        v2 = ptable.log.latest().version
        ptable.delete_partitions(["2024-01-03"], "dp")
        assert ptable.log.latest().version == v2 == v + 1
        assert snap_dict(ptable)[("2024-01-01", "k1")] == (5, "A5")
        assert "2024-01-03" in ptable.partition_values()

    def test_incremental_sees_overwrite_rows(self, spark, ptable):
        ptable.merge(mkbatch(spark, B1), "b1")
        ptable.insert_overwrite(
            self._ow(spark, [("k9", 5, "x", "2024-01-01", "NEW")]), "ow"
        )
        inc = {r["_key"] for r in ptable.incremental(1).collect()}
        assert inc == {"k9"}


class TestPartitionedZorder:
    def test_zorder_preserves_partition_layout(self, spark, tmp_path):
        """OPTIMIZE ZORDER on a partitioned table: the rewrite must keep
        the _part layout (files stay partition-pruneable) and change
        nothing logically."""
        from hudi_spark_plus_spark.table.zorder import zorder_cluster_table

        t = LakeTable(
            spark, str(tmp_path / "z"), buckets=2, partition_fields=["d"]
        )
        batch = spark.createDataFrame(
            [
                (f"k{i}", 1, "upsert", f"2024-01-0{1 + i % 2}", i % 7, i % 5)
                for i in range(40)
            ],
            "_key string, _ts long, _op string, d string, x int, y int",
        )
        t.merge(batch, "b1")
        before = {
            (r["d"], r["_key"], r["x"], r["y"])
            for r in t.snapshot().collect()
        }
        zorder_cluster_table(t, "x", "y", files_per_bucket=2)
        live = t.log.live_files()
        assert all(f.partition is not None for f in live)
        assert t.partition_values() == ["2024-01-01", "2024-01-02"]
        after = {
            (r["d"], r["_key"], r["x"], r["y"])
            for r in t.snapshot().collect()
        }
        assert after == before
        # pruning still structural after the rewrite
        kept = t._prune_partitions(live, partitions=["2024-01-02"])
        assert kept and all(f.partition == "2024-01-02" for f in kept)


class TestConfigWiring:
    OPTS = {
        "option.hoodie.path": "/tmp/lake/{db}/{table}",
        "db1.t1.hoodie.datasource.write.recordkey.field": "id",
        "db1.t1.hoodie.datasource.write.precombine.field": "ts",
        "db1.t1.hoodie.table.name": "t1",
        "db1.t1.hoodie.datasource.write.partitionpath.field": "dt,region",
    }

    def test_partitionpath_field_resolves(self):
        tc = cfg.resolve_table_config(self.OPTS, "db1", "t1")
        assert tc.partition_fields == ["dt", "region"]

    def test_nonpartitioned_keygen_forces_empty(self):
        opts = dict(self.OPTS)
        opts["db1.t1.hoodie.datasource.write.keygenerator.class"] = (
            "org.apache.hudi.keygen.NonpartitionedKeyGenerator"
        )
        tc = cfg.resolve_table_config(opts, "db1", "t1")
        assert tc.partition_fields == []

    def test_default_unpartitioned(self):
        opts = {
            k: v for k, v in self.OPTS.items() if "partitionpath" not in k
        }
        tc = cfg.resolve_table_config(opts, "db1", "t1")
        assert tc.partition_fields == []

    def test_index_type_global_resolves(self):
        assert cfg.resolve_table_config(
            self.OPTS, "db1", "t1"
        ).global_index is False
        opts = dict(self.OPTS)
        opts["db1.t1.hoodie.index.type"] = "GLOBAL_BLOOM"
        assert cfg.resolve_table_config(
            opts, "db1", "t1"
        ).global_index is True
        opts["db1.t1.hoodie.index.type"] = "BLOOM"
        assert cfg.resolve_table_config(
            opts, "db1", "t1"
        ).global_index is False
        # top-level (all-tables) default also honored, same pattern as
        # engine.table.buckets
        opts2 = dict(self.OPTS)
        opts2["hoodie.index.type"] = "GLOBAL_SIMPLE"
        tc = cfg.resolve_table_config(opts2, "db1", "t1")
        assert tc.global_index is True


class TestDistributedFooterScan:
    def test_distributed_and_driver_footer_paths_agree(self, spark, tmp_path):
        """The write tasks read each new file's footer stats as they close
        it; the manifest entries they return must be identical to a
        driver-side footer scan of the same files, and to the entries of
        a second table built from the same batch."""
        from hudi_spark_plus_spark.table import lake_table as lt

        def build(path):
            t = LakeTable(
                spark, str(tmp_path / path), buckets=4,
                partition_fields=["d"],
            )
            t.merge(mkbatch(spark, B1), "b1")
            return t

        def stats(f, rows, min_key, max_key, col_stats):
            return (f.partition, f.bucket, rows, min_key, max_key, f.kind,
                    tuple(sorted(
                        (k, tuple(v)) for k, v in (col_stats or {}).items()
                    )))

        t = build("dst")
        dist = sorted(
            stats(f, f.rows, f.min_key, f.max_key, f.col_stats)
            for f in t.log.live_files()
        )
        driver = []
        for f in t.log.live_files():
            rows, mn, mx, col_stats, _, _ = lt._footer_stats(
                t.log.abs_path(f.path)
            )
            driver.append(stats(f, rows, mn, mx, col_stats))
        assert sorted(driver) == dist
        # uuid file/dir names differ; all stats content must match
        other = build("dst2")
        assert sorted(
            stats(f, f.rows, f.min_key, f.max_key, f.col_stats)
            for f in other.log.live_files()
        ) == dist
        assert all(e[2] > 0 for e in dist)  # real row counts
        assert all(e[3] is not None for e in dist)  # real key stats


class TestSyncUnitScoped:
    def test_sync_merge_rewrites_only_touched_partitions(
        self, spark, tmp_path
    ):
        """The CDC sync path on a partitioned table must derive exact
        (partition, bucket) units from the decoded batch instead of the
        metadata job's bucket-granular set — a batch touching one
        partition carries every other partition's files untouched."""
        from hudi_spark_plus_spark.operators.cdc_queries import (
            build_part_envelopes,
        )
        from hudi_spark_plus_spark.operators.sync import sync_batch

        opts = {
            cfg.HOODIE_PATH: str(tmp_path / "tables") + "/{db}/{table}",
            cfg.DEDUP_ORDER_FIELDS: "seq",
            cfg.BUCKETS: "4",
            "dbp.t_part." + cfg.RECORDKEY_FIELD: "key_id",
            "dbp.t_part." + cfg.PRECOMBINE_FIELD: "seq",
            "dbp.t_part." + cfg.TABLE_NAME: "t_part",
            "dbp.t_part." + cfg.PARTITIONPATH_FIELD: "part_d",
        }

        def env(rows):
            df = spark.createDataFrame(
                rows,
                "seq long, op string, ts long, key_id long,"
                " part_d string, col_a string",
            )
            return build_part_envelopes(df)

        b1 = [
            (i, "update", 10, i, f"p{i % 3}", f"v{i}") for i in range(1, 7)
        ]
        assert sync_batch(spark, env(b1), opts, batch_id=0) == {
            "dbp.t_part": "ok"
        }
        from hudi_spark_plus_spark.table.lake_table import LakeTable

        lake = LakeTable(spark, str(tmp_path / "tables" / "dbp" / "t_part"))
        untouched_before = {
            f.path for f in lake.log.live_files() if f.partition != "p0"
        }
        # batch 2 touches ONLY partition p0 (key 3)
        b2 = [(100, "update", 20, 3, "p0", "v3b")]
        assert sync_batch(spark, env(b2), opts, batch_id=1) == {
            "dbp.t_part": "ok"
        }
        lake.log.invalidate()
        untouched_after = {
            f.path for f in lake.log.live_files() if f.partition != "p0"
        }
        assert untouched_before == untouched_after
        got = {
            (r["part_d"], r["key_id"]): r["col_a"]
            for r in lake.snapshot().collect()
        }
        assert got[("p0", 3)] == "v3b" and len(got) == 6


class TestIncrementalCdcPartitioned:
    def _feed(self, t, begin):
        return {
            (r["d"], r["_key"]): (
                r["_change_op"], r["val"], r["_before_val"], r["_before_d"]
            )
            for r in t.incremental_cdc(begin).collect()
        }

    def test_partition_scoped_identity_feed(self, spark, ptable):
        ptable.merge(mkbatch(spark, B1), "b1")
        # same key k1 "inserted" into ANOTHER partition: two records
        ptable.merge(
            mkbatch(spark, [("k1", 2, "upsert", "2024-01-02", "other"),
                            ("k3", 2, "upsert", "2024-01-02", "c2")]),
            "b2",
        )
        assert self._feed(ptable, 1) == {
            ("2024-01-02", "k1"): ("i", "other", None, None),
            ("2024-01-02", "k3"): ("u", "c2", "c", "2024-01-02"),
        }

    def test_global_relocation_feed(self, spark, tmp_path):
        t = LakeTable(
            spark, str(tmp_path / "g"), buckets=4,
            partition_fields=["d"], global_index=True,
        )
        t.merge(mkbatch(spark, B1), "b1")
        t.merge(
            mkbatch(spark, [("k1", 2, "upsert", "2024-01-03", "moved")]),
            "b2", mode="mor",
        )
        feed = self._feed(t, 1)
        # key-only identity: the move is an UPDATE whose before-image
        # carries the old partition value
        assert feed[("2024-01-03", "k1")] == (
            "u", "moved", "a", "2024-01-01"
        )
        # the relocation tombstone in the old partition is internal
        # bookkeeping, not a second change event for the key
        assert ("2024-01-01", "k1") not in feed


class TestSyncGlobalIndex:
    def test_sync_relocates_record_with_global_index_config(
        self, spark, tmp_path
    ):
        """hoodie.index.type=GLOBAL_BLOOM through the full sync chain:
        an update whose partition value changed must MOVE the record,
        not duplicate it."""
        from hudi_spark_plus_spark.operators.cdc_queries import (
            build_part_envelopes,
        )
        from hudi_spark_plus_spark.operators.sync import sync_batch
        from hudi_spark_plus_spark.table.lake_table import LakeTable

        opts = {
            cfg.HOODIE_PATH: str(tmp_path / "tables") + "/{db}/{table}",
            cfg.DEDUP_ORDER_FIELDS: "seq",
            cfg.BUCKETS: "4",
            "dbp.t_part." + cfg.RECORDKEY_FIELD: "key_id",
            "dbp.t_part." + cfg.PRECOMBINE_FIELD: "seq",
            "dbp.t_part." + cfg.TABLE_NAME: "t_part",
            "dbp.t_part." + cfg.PARTITIONPATH_FIELD: "part_d",
            "dbp.t_part." + cfg.INDEX_TYPE: "GLOBAL_BLOOM",
        }

        def env(rows):
            df = spark.createDataFrame(
                rows,
                "seq long, op string, ts long, key_id long,"
                " part_d string, col_a string",
            )
            return build_part_envelopes(df)

        b1 = [(i, "update", 10, i, f"p{i % 3}", f"v{i}") for i in range(1, 7)]
        assert sync_batch(spark, env(b1), opts, batch_id=0) == {
            "dbp.t_part": "ok"
        }
        # key 3 (p0) moves to p9
        b2 = [(100, "update", 20, 3, "p9", "v3moved")]
        assert sync_batch(spark, env(b2), opts, batch_id=1) == {
            "dbp.t_part": "ok"
        }
        lake = LakeTable(spark, str(tmp_path / "tables" / "dbp" / "t_part"))
        assert lake.global_index is True
        got = {
            (r["part_d"], r["key_id"]): r["col_a"]
            for r in lake.snapshot().collect()
        }
        assert got[("p9", 3)] == "v3moved"
        assert ("p0", 3) not in got
        assert len(got) == 6


class TestMultiFieldPartition:
    def test_slash_joined_path_escaped_and_restored(self, spark, tmp_path):
        """ComplexKeyGenerator nested layout: two partition fields join
        with '/' in the LOGICAL value; the writer directory-escapes the
        slash (one dir level, not two) and manifests hold the unescaped
        value."""
        t = LakeTable(
            spark, str(tmp_path / "m"), buckets=2,
            partition_fields=["d", "val"],
        )
        t.merge(
            mkbatch(spark, [("k1", 1, "upsert", "2024-01-01", "eu")]), "b1"
        )
        assert t.partition_values() == ["2024-01-01/eu"]
        assert snap_dict(t, partitions=["2024-01-01/eu"]) == {
            ("2024-01-01", "k1"): (1, "eu")
        }
        # one _part dir level on disk (escaped slash), not nested dirs
        dirs = glob.glob(os.path.join(t.path, "data", "*", "_part=*"))
        assert len(dirs) == 1 and "%2F" in os.path.basename(dirs[0])
