"""One read plan for every reader (``table/merge_kernel.py``): for every
(begin, end] range of a scripted timeline, ``LakeTable.incremental``,
the ``lake-table`` batch reader's ``incremental`` mode and the stream
reader return the same rows, and ``LakeTable.incremental_cdc`` and the
reader's ``cdc`` mode return the same change rows. Three table shapes:
unpartitioned copy-on-write; partitioned merge-on-read with a partition
value that needs escaping and a renamed column; global-index
merge-on-read with a partition move and a delete. ``_pruned`` keeps
only files of the units its hits are in.
"""

import pytest

from hudi_spark_plus_spark.sources.lake_reader import LakeBatchReader
from hudi_spark_plus_spark.streaming.stream_source import LakeStreamReader
from hudi_spark_plus_spark.table.bootstrap import BOOTSTRAP_KIND
from hudi_spark_plus_spark.table.lake_table import LakeTable
from hudi_spark_plus_spark.table.merge_kernel import unit_of

SCHEMA = "_key string, _ts long, _op string, val string, n long, d string"
P = "a/b c"


def _rows(spark, rows, schema=SCHEMA):
    return spark.createDataFrame(rows, schema)


def _cow(spark, path):
    t = LakeTable(spark, path, buckets=2)
    t.merge(_rows(spark, [(f"k{i}", 1, "upsert", f"a{i}", i, "x")
                          for i in range(1, 5)]), "b1")
    t.merge(_rows(spark, [("k1", 2, "upsert", "b1", 10, "x"),
                          ("k3", 2, "delete", "a3", 3, "x")]), "b2")
    t.merge(_rows(spark, [("k2", 3, "upsert", "c2", 20, "x"),
                          ("k5", 3, "upsert", "c5", 5, "x")]), "b3")
    t.merge(_rows(spark, [("k5", 4, "delete", "c5", 5, "x"),
                          ("k1", 4, "upsert", "d1", 11, "x")]), "b4")
    return t


def _mor_partitioned(spark, path):
    t = LakeTable(spark, path, buckets=2, partition_fields=["d"])
    t.merge(_rows(spark, [(f"k{i}", 1, "upsert", f"a{i}", i,
                           P if i % 2 else "x") for i in range(1, 7)]),
            "b1", mode="mor")
    t.merge(_rows(spark, [("k1", 2, "upsert", "b1", 10, P),
                          ("k2", 2, "delete", "a2", 2, "x")]),
            "b2", mode="mor")
    t.rename_column("val", "value")
    schema = SCHEMA.replace("val string", "value string")
    t.merge(_rows(spark, [("k3", 3, "upsert", "c3", 30, P),
                          ("k7", 3, "upsert", "c7", 7, P)], schema),
            "b3", mode="mor")
    # an older _ts loses last-write-wins to k1's copy from version 2
    t.merge(_rows(spark, [("k1", 1, "upsert", "stale", 99, P),
                          ("k4", 4, "upsert", "d4", 40, "x")], schema),
            "b4", mode="mor")
    return t


def _mor_global(spark, path):
    t = LakeTable(spark, path, buckets=2, partition_fields=["d"],
                  global_index=True)
    t.merge(_rows(spark, [(f"k{i}", 1, "upsert", f"a{i}", i,
                           P if i % 2 else "x") for i in range(1, 7)]),
            "b1", mode="mor")
    # k2 moves from "x" to P; the old copy gets a relocation tombstone
    t.merge(_rows(spark, [("k2", 2, "upsert", "moved", 20, P)]),
            "b2", mode="mor")
    t.merge(_rows(spark, [("k3", 3, "delete", "a3", 3, P),
                          ("k4", 3, "upsert", "c4", 40, "x")]),
            "b3", mode="mor")
    # k2 moves back, and k5 gets a stale write in the other partition
    t.merge(_rows(spark, [("k2", 4, "upsert", "back", 21, "x"),
                          ("k5", 0, "upsert", "stale", 99, "x")]),
            "b4", mode="mor")
    return t


SHAPES = {"cow": _cow, "mor-partitioned": _mor_partitioned,
          "mor-global": _mor_global}


@pytest.fixture(scope="module", params=sorted(SHAPES))
def table(request, spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp(request.param) / "t")
    return SHAPES[request.param](spark, path)


def _sorted(rows):
    return sorted((tuple(r) for r in rows), key=repr)


def _arrow_rows(batches):
    return _sorted(
        tuple(row.values())
        for b in batches
        for row in b.to_pylist()
    )


def _reader_rows(t, **opts):
    """The ``lake-table`` batch reader's rows, planned and read in this
    process (its Spark surface is covered by test_lake_reader.py)."""
    rd = LakeBatchReader({"path": t.path, **opts})
    return _arrow_rows(b for s in rd.partitions() for b in rd.read(s))


def _stream_rows(t, begin, end):
    rd = LakeStreamReader({"path": t.path})
    return _arrow_rows(
        b
        for s in rd.partitions({"version": begin}, {"version": end})
        for b in rd.read(s)
    )


def _ranges(t):
    top = t.log.latest().version
    return [(b, e) for e in range(1, top + 1) for b in range(e)]


def test_incremental_readers_agree(table):
    for begin, end in _ranges(table):
        want = _sorted(table.incremental(begin, end).collect())
        opts = {"engine.read.type": "incremental",
                "engine.read.begin": str(begin),
                "engine.read.end": str(end)}
        assert _reader_rows(table, **opts) == want, (begin, end)
        assert _stream_rows(table, begin, end) == want, (begin, end)


def test_cdc_readers_agree(table):
    for begin, end in _ranges(table):
        want = _sorted(table.incremental_cdc(begin, end).collect())
        got = _reader_rows(table, **{"engine.read.type": "cdc",
                                     "engine.read.begin": str(begin),
                                     "engine.read.end": str(end)})
        assert got == want, (begin, end)


def test_pruned_keeps_only_hit_units(table):
    """``files_in_range`` keeps every hit file, and no file outside the
    units of its non-bootstrap hits (bootstrap hits pull in deltas)."""
    lo, hi = 10, 20
    kept, live = table.files_in_range("n", lo, hi)

    def hit(f):
        st = (f.col_stats or {}).get("n")
        return st is None or not (hi < st[0] or lo > st[1])

    hits = [f for f in live if hit(f)]
    assert hits and len(kept) < len(live)
    assert {f.path for f in hits} <= {f.path for f in kept}
    units = {unit_of(f, table.global_index) for f in hits
             if f.kind != BOOTSTRAP_KIND}
    for f in kept:
        assert hit(f) or unit_of(f, table.global_index) in units, f.path
