"""Metadata-only aggregates (stats_count / stats_minmax).

The manifest already carries per-file row counts and col_stats; round 10
adds per-file ``live_rows`` (rows with ``_deleted == false``) so a
snapshot COUNT(*) — and, where provably exact, MIN/MAX — is answered
from manifest arithmetic instead of a table scan. At 100 TB that is the
difference between a sub-second metadata answer and a full pass; these
tests pin the exactness rules (clean/dirty bucket split mirroring
snapshot()'s resolution behavior, tombstone-contaminated stats rejected,
string extrema always scanned) against recomputed truth.
"""

import pytest
from pyspark.sql import functions as F

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAS_HYPOTHESIS = False

from hudi_spark_plus_spark.table.commit_log import FileEntry
from hudi_spark_plus_spark.table.lake_table import LakeTable


def mkbatch(spark, rows):
    """rows: (key, ts, op, num, name)"""
    return spark.createDataFrame(
        rows, "_key string, _ts long, _op string, num long, name string"
    )


def base_rows(n=40, ts=1):
    return [(str(k), ts, "upsert", k, f"n{k:03d}") for k in range(n)]


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable(spark, str(tmp_path / "t"), buckets=8)


def _truth(table):
    row = table.snapshot().agg(
        F.count(F.lit(1)).alias("n"),
        F.min("num").alias("lo"),
        F.max("num").alias("hi"),
    ).first()
    return row["n"], row["lo"], row["hi"]


class TestStatsCount:
    def test_cow_count_is_pure_metadata(self, spark, table):
        table.merge(mkbatch(spark, base_rows()), "b1")
        # updates + deletes: tombstones land IN the rewritten files
        table.merge(
            mkbatch(
                spark,
                [("3", 2, "upsert", 300, "u"), ("7", 2, "delete", 0, "d")],
            ),
            "b2",
        )
        got = table.stats_count()
        assert got["files_scanned"] == 0, "COW count must not read data"
        assert got["count"] == _truth(table)[0] == 39

    def test_mor_scans_only_delta_buckets(self, spark, table):
        table.merge(mkbatch(spark, base_rows()), "b1")
        table.merge(
            mkbatch(
                spark,
                [("3", 2, "upsert", 300, "u"), ("3", 2, "delete", 0, "d")][:1]
                + [("7", 2, "delete", 0, "d")],
            ),
            "b2",
            mode="mor",
        )
        got = table.stats_count()
        assert got["count"] == _truth(table)[0] == 39
        # the two touched keys dirty at most two buckets; the other
        # base files are counted from the manifest alone
        assert got["files_metadata"] > 0
        assert got["files_scanned"] < got["files_metadata"] + got["files_scanned"]

    def test_time_travel_count(self, spark, table):
        table.merge(mkbatch(spark, base_rows()), "b1")
        table.merge(
            mkbatch(spark, [("5", 2, "delete", 0, "d")]), "b2"
        )
        assert table.stats_count(version=1)["count"] == 40
        assert table.stats_count()["count"] == 39

    def test_partition_pruned_count(self, spark, tmp_path):
        t = LakeTable(
            spark, str(tmp_path / "p"), buckets=4, partition_fields=["name"]
        )
        rows = [
            (str(k), 1, "upsert", k, "a" if k % 2 else "b")
            for k in range(20)
        ]
        t.merge(mkbatch(spark, rows), "b1")
        got = t.stats_count(partitions=["a"])
        assert got["count"] == 10
        assert got["files_scanned"] == 0

    def test_old_manifest_without_live_rows_falls_back_to_scan(
        self, spark, table
    ):
        table.merge(mkbatch(spark, base_rows()), "b1")
        # simulate a pre-field manifest: in-memory entries lose the count
        files = table.log.live_files()
        for f in files:
            f.live_rows = None
        meta, scan = table._meta_agg_split(files)
        assert meta == [] and len(scan) == len(files)
        assert table.stats_count()["count"] == 40  # cache refreshed? no:
        # stats_count re-reads live_files from the log cache; the
        # mutation above may persist in the cached objects, in which
        # case the scan fallback must still produce the exact count


class TestZeroJobs:
    def test_cow_count_launches_no_spark_job(self, spark, table):
        """The 100-TB contract made mechanical: a COW stats_count is
        driver-side manifest arithmetic — the Spark scheduler must see
        ZERO new jobs (not merely zero files read)."""
        table.merge(mkbatch(spark, base_rows()), "b1")
        table.merge(
            mkbatch(spark, [("7", 2, "delete", 0, "d")]), "b2"
        )
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup(None) or [])
        got = table.stats_count()
        after = set(tracker.getJobIdsForGroup(None) or [])
        assert after == before, "COW stats_count launched a Spark job"
        assert got["count"] == 39


class TestMetaAggSplit:
    """Pure-function split rules over synthetic entries."""

    def _e(self, path, bucket, kind="base", live=10, rows=10):
        return FileEntry(
            path=path, bucket=bucket, rows=rows, kind=kind, live_rows=live
        )

    def test_no_deltas_all_metadata(self, spark, tmp_path):
        t = LakeTable(spark, str(tmp_path / "s"), buckets=4)
        files = [self._e("a", 0), self._e("b", 1)]
        meta, scan = t._meta_agg_split(files)
        assert len(meta) == 2 and scan == []

    def test_delta_dirties_its_bucket_number_across_partitions(
        self, spark, tmp_path
    ):
        t = LakeTable(spark, str(tmp_path / "s"), buckets=4)
        files = [
            self._e("a", 0),
            self._e("b", 1),
            self._e("d", 1, kind="delta"),
        ]
        meta, scan = t._meta_agg_split(files)
        assert [f.path for f in meta] == ["a"]
        assert {f.path for f in scan} == {"b", "d"}

    def test_bootstrap_plus_delta_forces_full_scan(self, spark, tmp_path):
        from hudi_spark_plus_spark.table.bootstrap import BOOTSTRAP_KIND

        t = LakeTable(spark, str(tmp_path / "s"), buckets=4)
        files = [
            self._e("a", 0),
            self._e("boot", -1, kind=BOOTSTRAP_KIND),
            self._e("d", 1, kind="delta"),
        ]
        meta, scan = t._meta_agg_split(files)
        assert meta == [] and len(scan) == 3


class TestStatsMinMax:
    def test_deleted_extremum_never_surfaces(self, spark, table):
        """THE correctness trap: the recorded file max (999) belongs to
        a row that is later tombstoned — metadata min/max must reject
        that file's stats and scan it instead."""
        rows = base_rows() + [("99", 1, "upsert", 999, "peak")]
        table.merge(mkbatch(spark, rows), "b1")
        table.merge(
            mkbatch(spark, [("99", 2, "delete", 999, "peak")]), "b2"
        )
        got = table.stats_minmax("num")
        n, lo, hi = _truth(table)
        assert (got["min"], got["max"]) == (lo, hi)
        assert got["max"] == 39.0  # not the deleted 999

    def test_clean_files_served_from_metadata(self, spark, table):
        table.merge(mkbatch(spark, base_rows()), "b1")
        table.merge(
            mkbatch(spark, [("3", 2, "delete", 0, "d")]), "b2"
        )
        got = table.stats_minmax("num")
        n, lo, hi = _truth(table)
        assert (got["min"], got["max"]) == (lo, hi)
        # only the rewritten (tombstone-holding) bucket scans
        assert got["files_metadata"] > 0

    def test_string_column_always_scans(self, spark, table):
        """Engines may truncate long string statistics; string extrema
        are never answered from col_stats."""
        table.merge(mkbatch(spark, base_rows()), "b1")
        got = table.stats_minmax("name")
        assert got["files_metadata"] == 0
        assert got["min"] == "n000" and got["max"] == "n039"

    def test_mor_minmax_exact(self, spark, table):
        table.merge(mkbatch(spark, base_rows()), "b1")
        table.merge(
            mkbatch(
                spark,
                [
                    ("2", 2, "upsert", -50, "low"),
                    ("4", 2, "delete", 0, "d"),
                ],
            ),
            "b2",
            mode="mor",
        )
        got = table.stats_minmax("num")
        n, lo, hi = _truth(table)
        assert (got["min"], got["max"]) == (lo, hi) == (got["min"], 39.0)
        assert got["min"] == -50.0

    def test_minmax_through_column_rename(self, spark, table):
        """Column mapping: col_stats are keyed by PHYSICAL parquet
        names; after a rename the logical name must still resolve to
        the stored stats (metadata path, not a silent scan-always)."""
        table.merge(mkbatch(spark, base_rows()), "b1")
        table.rename_column("num", "amount")
        got = table.stats_minmax("amount")
        assert (got["min"], got["max"]) == (0.0, 39.0)
        assert got["files_metadata"] > 0 and got["files_scanned"] == 0
        with pytest.raises(KeyError):
            table.stats_minmax("num")  # old name gone

    def test_empty_table_and_unknown_column(self, spark, tmp_path):
        t = LakeTable(spark, str(tmp_path / "e"), buckets=2)
        t.merge(mkbatch(spark, [("1", 1, "upsert", 5, "x")]), "b1")
        t.merge(mkbatch(spark, [("1", 2, "delete", 5, "x")]), "b2")
        got = t.stats_minmax("num")
        assert got["min"] is None and got["max"] is None
        assert t.stats_count()["count"] == 0
        with pytest.raises(KeyError):
            t.stats_minmax("nope")


class TestBootstrapMetadata:
    def test_bootstrapped_table_counts_from_metadata(self, spark, tmp_path):
        src = str(tmp_path / "raw")
        spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("num")
        ).write.parquet(src)
        t = LakeTable(spark, str(tmp_path / "bt"), buckets=4)
        t.bootstrap(src, key_fields=["k"])
        got = t.stats_count()
        assert got["count"] == 100
        assert got["files_scanned"] == 0


if HAS_HYPOTHESIS:
    _event = st.tuples(
        st.integers(min_value=0, max_value=5),   # key
        st.integers(min_value=0, max_value=3),   # ts (ties likely)
        st.booleans(),                           # is_delete
        st.integers(min_value=-50, max_value=50),  # numeric payload
    )
    _schedule = st.lists(_event, min_size=1, max_size=12)
    _cuts = st.lists(st.booleans(), min_size=12, max_size=12)
    _modes = st.lists(
        st.sampled_from(["cow", "mor"]), min_size=12, max_size=12
    )

    @pytest.mark.slow  # full-tier only (see pytest.ini)
    @given(events=_schedule, cut=_cuts, batch_modes=_modes)
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_meta_aggregates_match_scan_under_random_schedules(
        spark, tmp_path_factory, events, cut, batch_modes
    ):
        """Property: after ANY generated upsert/delete schedule through
        a generated COW/MOR interleaving, stats_count == snapshot count
        and stats_minmax == recomputed min/max — the metadata fast path
        can never drift from scan truth, whatever mix of tombstoned
        files, delta-dirty buckets, and tie-broken winners the schedule
        leaves behind."""
        work = tmp_path_factory.mktemp("prop_meta")
        t = LakeTable(spark, str(work / "t"), buckets=2)
        batches, cur = [], []
        for seq, e in enumerate(events):
            cur.append((seq, e))
            if cut[seq % len(cut)]:
                batches.append(cur)
                cur = []
        if cur:
            batches.append(cur)
        for i, batch in enumerate(batches):
            surv = {}
            for seq, (k, ts, is_del, num) in batch:
                if k not in surv or (ts, seq) >= surv[k][:2]:
                    surv[k] = (ts, seq, is_del, num)
            rows = [
                (str(k), ts, "delete" if is_del else "upsert",
                 float(num), f"v{seq}")
                for k, (ts, seq, is_del, num) in surv.items()
            ]
            t.merge(
                spark.createDataFrame(
                    rows,
                    "_key string, _ts long, _op string, num double, "
                    "name string",
                ),
                batch_id=f"b{i}",
                mode=batch_modes[i % len(batch_modes)],
            )
        truth = t.snapshot().agg(
            F.count(F.lit(1)).alias("n"),
            F.min("num").alias("lo"),
            F.max("num").alias("hi"),
        ).first()
        sc = t.stats_count()
        mm = t.stats_minmax("num")
        assert sc["count"] == truth["n"], (sc, truth)
        assert (mm["min"], mm["max"]) == (truth["lo"], truth["hi"]), (
            mm, truth,
        )


class TestFloatColumnsNeverTrustFooters:
    def test_double_minmax_always_scans_and_nan_is_exact(
        self, spark, tmp_path
    ):
        """ADVICE r10 #2: whether a parquet writer records min/max for a
        NaN-containing float column is writer-version dependent, and
        Spark's MAX ranks NaN above every value — so float/double
        columns never take the footer fast path. With NaN planted, the
        scan answer must equal snapshot().agg(max()) (NaN), which a
        NaN-dropping footer stat could not produce."""
        t = LakeTable(spark, str(tmp_path / "f"), buckets=2)
        rows = [(str(k), 1, "upsert", float(k)) for k in range(10)]
        rows.append(("99", 1, "upsert", float("nan")))
        t.merge(
            spark.createDataFrame(
                rows, "_key string, _ts long, _op string, val double"
            ),
            "b1",
        )
        got = t.stats_minmax("val")
        assert got["files_metadata"] == 0  # double: no footer trust
        truth = t.snapshot().agg(
            F.min("val").alias("lo"), F.max("val").alias("hi")
        ).first()
        assert got["min"] == truth["lo"] == 0.0
        import math

        assert math.isnan(got["max"]) and math.isnan(truth["hi"])
