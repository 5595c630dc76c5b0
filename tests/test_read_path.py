"""The one resolved read (``LakeTable._read_resolved``) and the one
file-pruning path (``LakeTable._pruned``) every pruned snapshot-shaped
read shares: a read pinned to a version uses that version's schema even
when files were pruned, and a col_stats range read under merge-on-read
keeps every file a kept row resolves against.
"""

from pyspark.sql import functions as F

from hudi_spark_plus_spark.table.lake_table import LakeTable

SCHEMA = "_key string, _ts long, _op string, g long"


def batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_pinned_version_pruned_read_uses_pinned_schema(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), buckets=4)
    t.merge(batch(spark, [(f"k{i:02d}", 1, "upsert", i) for i in range(40)]), "b0")
    v = t.log.latest().version
    t.rename_column("g", "h")
    affected = spark.createDataFrame([(3,)], "g long")
    stats: dict = {}
    pruned = t.snapshot_pruned_to_groups(
        affected, ["g"], stats_out=stats, version=v
    )
    got = sorted(tuple(r) for r in pruned.collect())
    # col_stats file pruning ran: the pruned read is the path under test
    assert stats["prune_col"] == "g"
    assert stats["files_kept"] < stats["files_live"], stats
    assert [r[0] for r in got] == ["k03"]
    unpruned = t.snapshot_pruned_to_groups(
        affected, ["g"], max_broadcast_groups=0, version=v
    )
    assert got == sorted(tuple(r) for r in unpruned.collect())


def test_scan_range_under_mor_widens_to_superseding_delta(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), buckets=4)
    # two appends: three in-range keys (files in at most 3 of the 4
    # buckets), then 40 keys whose files hold only g >= 100
    t.insert(batch(spark, [(f"a{i}", 1, "upsert", i) for i in range(3)]))
    t.insert(batch(spark, [(f"b{i}", 1, "upsert", 100 + i) for i in range(40)]))
    # a1's base row is in range; its superseding delta row is not
    t.merge(batch(spark, [("a1", 2, "upsert", 500)]), "b2", mode="mor")
    live = t.log.live_files()
    assert any(f.kind == "delta" for f in live)
    kept, _ = t.files_in_range("g", 0, 9)
    assert len(kept) < len(live), (len(kept), len(live))
    # the widened set carries the delta that supersedes a kept base row
    assert any(f.kind == "delta" for f in kept)
    got = sorted(tuple(r) for r in t.scan_range("g", 0, 9).collect())
    want = sorted(
        tuple(r) for r in t.snapshot().where(F.col("g").between(0, 9)).collect()
    )
    assert got == want
    assert [r[0] for r in got] == ["a0", "a2"]
