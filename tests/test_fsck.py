"""fsck (manifest-vs-storage audit) + vacuum dry-run (maintenance.py).

The ops questions a 100-TB table needs answered WITHOUT mutating
anything: is every referenced file still on storage (and does a miss
break the latest version or only time travel), how much space do
crashed-write orphans hold, and what would a vacuum at this retention
actually reclaim — including which savepoint pins are blocking it.
"""

import glob
import os
import time

import pytest

from hudi_spark_plus_spark.table.lake_table import LakeTable
from hudi_spark_plus_spark.table.maintenance import fsck, vacuum


def mk(spark, rows):
    return spark.createDataFrame(
        rows, "_key string, _ts long, _op string, v long"
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
    t.merge(mk(spark, [(str(k), 1, "upsert", k) for k in range(10)]), "b1")
    t.merge(mk(spark, [("3", 2, "upsert", 99)]), "b2")
    return t


def _a_live_file(t):
    return t.log.abs_path(t.log.latest().files[0].path)


class TestFsck:
    def test_clean_table_is_ok(self, spark, table):
        r = fsck(table)
        assert r["ok"] is True
        assert not r["missing_latest"] and not r["orphan_files"]
        assert not r["missing_segments"]

    def test_missing_latest_file_flags_not_ok(self, spark, table):
        os.unlink(_a_live_file(table))
        r = fsck(table)
        assert r["ok"] is False
        assert len(r["missing_latest"]) >= 1

    def test_truncated_latest_file_flags_not_ok(self, spark, table):
        """A live file cut short behind the table's back still exists, so
        only its recorded size can expose it."""
        path = _a_live_file(table)
        size = os.path.getsize(path)
        with open(path, "r+b") as fh:
            fh.truncate(size // 2)
        r = fsck(table)
        assert r["ok"] is False
        assert not r["missing_latest"]
        assert len(r["size_mismatch"]) == 1
        assert str(size // 2) in r["size_mismatch"][0]

    def test_fewer_rows_latest_file_flags_not_ok(self, spark, table):
        """A live file replaced by one holding fewer rows: its footer row
        count no longer matches the manifest's ``rows``."""
        import pyarrow.parquet as pq

        path = _a_live_file(table)
        rows = pq.read_table(path)
        assert rows.num_rows > 1
        pq.write_table(rows.slice(1), path)
        r = fsck(table)
        assert r["ok"] is False
        assert len(r["row_mismatch"]) == 1
        assert r["row_mismatch"][0].startswith(
            os.path.relpath(path, table.path)
        )

    def test_history_only_miss_keeps_ok(self, spark, table):
        """A file only OLD versions reference (rewritten by b2) going
        missing breaks time travel, not the live table."""
        v1_paths = {f.path for f in table.log.read(1).files}
        live = {f.path for f in table.log.latest().files}
        gone = sorted(v1_paths - live)
        assert gone, "fixture must have a superseded file"
        os.unlink(table.log.abs_path(gone[0]))
        r = fsck(table)
        assert r["ok"] is True
        assert r["missing_history"] and not r["missing_latest"]

    def test_orphans_counted_after_grace_never_deleted(self, spark, table):
        d = os.path.join(table.log.data_dir(), "crashed_attempt")
        os.makedirs(d)
        orphan = os.path.join(d, "part-0000.parquet")
        with open(orphan, "wb") as fh:
            fh.write(b"x" * 128)
        # young file: in-flight, not orphan
        r = fsck(table)
        assert r["in_flight_files"] == 1 and not r["orphan_files"]
        old = time.time() - 3600
        os.utime(orphan, (old, old))
        r = fsck(table)
        assert len(r["orphan_files"]) == 1
        assert r["orphan_bytes"] == 128
        assert os.path.exists(orphan)  # report-only
        assert r["ok"] is True  # orphans don't fail the audit

    def test_missing_segment_flags_not_ok(self, spark, table):
        segs = sorted(
            glob.glob(os.path.join(table.log.segments_path, "*.json"))
        )
        os.unlink(segs[0])
        assert fsck(table)["ok"] is False


class TestVacuumDryRun:
    def test_dry_run_predicts_and_mutates_nothing(self, spark, table):
        before = sorted(
            glob.glob(os.path.join(table.path, "**", "*"), recursive=True)
        )
        r = vacuum(table, keep_last=1, grace_seconds=0, dry_run=True)
        assert r["dry_run"] is True
        assert r["versions_droppable"] == 1
        assert r["files_reclaimable"] > 0 and r["bytes_reclaimable"] > 0
        after = sorted(
            glob.glob(os.path.join(table.path, "**", "*"), recursive=True)
        )
        assert after == before  # nothing touched
        assert table.log.versions() == [1, 2]
        # the real run reclaims exactly what the dry run predicted
        real = vacuum(table, keep_last=1, grace_seconds=0)
        assert real["files_removed"] == r["files_reclaimable"]
        assert real["versions_dropped"] == r["versions_droppable"]
        assert real["segments_removed"] == r["segments_reclaimable"]

    def test_dry_run_reports_blocking_pin(self, spark, table):
        table.savepoint("keep1", version=1)
        r = vacuum(table, keep_last=1, grace_seconds=0, dry_run=True)
        assert r["pinned_versions"] == [1]
        assert r["versions_droppable"] == 0
        table.delete_savepoint("keep1")
        r = vacuum(table, keep_last=1, grace_seconds=0, dry_run=True)
        assert r["pinned_versions"] == []
        assert r["versions_droppable"] == 1
