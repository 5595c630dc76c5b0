"""Streaming surface tests: foreachBatch sink, checkpoint replay
idempotence, event-time windows (SURVEY §2.5, M4)."""

import os

import pytest
from pyspark.sql import functions as F

from hudi_spark_plus_spark.operators.cdc_queries import build_envelopes, sync_options
from hudi_spark_plus_spark.operators.window_queries import (
    WINDOW_ORACLES,
    WINDOW_QUERIES,
)
from hudi_spark_plus_spark.streaming.sink import (
    envelope_file_stream,
    start_binlog_sync,
)
from hudi_spark_plus_spark.streaming.windows import session_agg, to_event_time
from hudi_spark_plus_spark.table.lake_table import LakeTable
from tests.harness import compare, duck_connection

@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_connection(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", [n for n in sorted(WINDOW_QUERIES) if n in WINDOW_ORACLES])
def test_window_query_matches_oracle(name, spark, sf_dir, con):
    compare(WINDOW_QUERIES[name](spark, sf_dir), con, WINDOW_ORACLES[name], name)


def test_session_window_rows(spark, sf_dir):
    """Session windows: no SQL oracle; assert structural invariants —
    every user's sessions are disjoint and counts sum to user totals."""
    from hudi_spark_plus_spark.sources.loaders import load_table

    ev = load_table(spark, sf_dir, "events")
    sess = session_agg(ev, "5 minutes")
    per_user = sess.groupBy("user_id").agg(F.sum("cnt").alias("n"))
    totals = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    assert {
        (r["user_id"], r["n"]) for r in per_user.collect()
    } == {(r["user_id"], r["n"]) for r in totals.collect()}
    # disjoint: no overlapping [start, end) per user
    rows = sorted(
        [(r["user_id"], r["ws"], r["we"]) for r in sess.collect()]
    )
    for (u1, s1, e1), (u2, s2, e2) in zip(rows, rows[1:]):
        if u1 == u2:
            assert s2 >= e1


def _write_envelope_files(spark, tmp_path, chunks):
    src = str(tmp_path / "stream_in")
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(chunks):
        df = spark.createDataFrame(
            rows,
            "seq long, db_name string, table_name string, op string,"
            " ts long, key_id long, col_a string, col_b double",
        )
        vals = [r["value"] for r in build_envelopes(df).collect()]
        with open(os.path.join(src, f"chunk{i}.jsonl"), "w") as fh:
            fh.write("\n".join(vals) + "\n")
    return src


def test_stream_sync_end_to_end_with_restart(spark, tmp_path):
    """File-source envelope stream -> foreachBatch sync -> lake tables;
    a second start() on the same checkpoint must not duplicate effects
    (exactly-once = checkpoint batch ids + commit-log idempotence, H5)."""
    src = _write_envelope_files(
        spark,
        tmp_path,
        [
            [(1, "db1", "t_customer", "update", 10, 1, "a", 1.0),
             (2, "db1", "t_customer", "update", 10, 2, "b", 2.0)],
            [(3, "db1", "t_customer", "delete", 20, 1, None, None),
             (4, "db1", "t_customer", "update", 20, 2, "b2", 2.5)],
        ],
    )
    opts = sync_options(str(tmp_path / "tables"))
    ckpt = str(tmp_path / "ckpt")

    q = start_binlog_sync(
        envelope_file_stream(spark, src, max_files_per_trigger=1),
        opts,
        checkpoint_location=ckpt,
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    lake = LakeTable(
        spark, str(tmp_path / "tables" / "db1" / "ods_db1_t_customer"), buckets=4
    )
    rows = {r["key_id"]: r["col_a"] for r in lake.snapshot().collect()}
    assert rows == {2: "b2"}
    v = lake.log.latest().version

    # restart on same checkpoint: nothing new to process, no re-commits
    q2 = start_binlog_sync(
        envelope_file_stream(spark, src),
        opts,
        checkpoint_location=ckpt,
        trigger={"availableNow": True},
    )
    q2.awaitTermination(120)
    assert lake.log.latest().version == v
    assert {
        r["key_id"]: r["col_a"] for r in lake.snapshot().collect()
    } == {2: "b2"}


def test_stream_sync_into_partitioned_table(spark, tmp_path):
    """Streaming foreachBatch sync into a PARTITION-PATH table (H4
    through the streaming entry): partitionpath.field config flows to
    the lake layout, tombstones land in their own partition, and the
    pruned read returns exactly the partition's rows."""
    import os

    from hudi_spark_plus_spark.operators.cdc_queries import (
        build_part_envelopes,
    )
    from hudi_spark_plus_spark.plans import config as cfg

    src = str(tmp_path / "pstream_in")
    os.makedirs(src, exist_ok=True)
    chunks = [
        [(1, "update", 10, 1, "p1", "a"), (2, "update", 10, 2, "p2", "b")],
        [(3, "delete", 20, 1, "p1", None), (4, "update", 20, 2, "p2", "b2")],
    ]
    for i, rows in enumerate(chunks):
        df = spark.createDataFrame(
            rows,
            "seq long, op string, ts long, key_id long, part_d string,"
            " col_a string",
        )
        vals = [r["value"] for r in build_part_envelopes(df).collect()]
        with open(os.path.join(src, f"chunk{i}.jsonl"), "w") as fh:
            fh.write("\n".join(vals) + "\n")
    opts = {
        cfg.HOODIE_PATH: str(tmp_path / "tables") + "/{db}/{table}",
        cfg.DEDUP_ORDER_FIELDS: "seq",
        cfg.BUCKETS: "4",
        "dbp.t_part." + cfg.RECORDKEY_FIELD: "key_id",
        "dbp.t_part." + cfg.PRECOMBINE_FIELD: "seq",
        "dbp.t_part." + cfg.TABLE_NAME: "t_part",
        "dbp.t_part." + cfg.PARTITIONPATH_FIELD: "part_d",
    }
    q = start_binlog_sync(
        envelope_file_stream(spark, src, max_files_per_trigger=1),
        opts,
        checkpoint_location=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    lake = LakeTable(spark, str(tmp_path / "tables" / "dbp" / "t_part"))
    assert lake.partition_fields == ["part_d"]
    # p1 still holds key 1's tombstone file; p2 the live row
    assert lake.partition_values() == ["p1", "p2"]
    assert {
        (r["part_d"], r["key_id"], r["col_a"])
        for r in lake.snapshot().collect()
    } == {("p2", 2, "b2")}
    assert lake.snapshot(partitions=["p1"]).count() == 0  # only tombstone
    assert {
        r["key_id"] for r in lake.snapshot(partitions=["p2"]).collect()
    } == {2}


def test_binlog_hudi_format_registration(spark, tmp_path):
    """writeStream.format('binlog-hudi') parity (the reference's
    DataSource short-name registration): executors spool the envelope
    partitions, commit publishes a batch manifest, and the driver-side
    drain runs the same sync as foreachBatch — ending in identical lake
    state, idempotent on re-drain."""
    from hudi_spark_plus_spark.streaming.datasource import (
        SPOOL_DIR_OPT,
        drain_binlog_spool,
        register,
    )

    src = _write_envelope_files(
        spark,
        tmp_path,
        [
            [(1, "db1", "t_customer", "update", 10, 1, "a", 1.0),
             (2, "db1", "t_customer", "update", 10, 2, "b", 2.0)],
            [(3, "db1", "t_customer", "delete", 20, 1, None, None),
             (4, "db1", "t_customer", "update", 20, 2, "b2", 2.5)],
        ],
    )
    register(spark)
    spool = str(tmp_path / "spool")
    opts = sync_options(str(tmp_path / "tables"))
    q = (
        envelope_file_stream(spark, src, max_files_per_trigger=1)
        .writeStream.format("binlog-hudi")
        .option(SPOOL_DIR_OPT, spool)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert drain_binlog_spool(spark, opts, spool) == 2

    lake = LakeTable(
        spark, str(tmp_path / "tables" / "db1" / "ods_db1_t_customer"), buckets=4
    )
    assert {
        r["key_id"]: r["col_a"] for r in lake.snapshot().collect()
    } == {2: "b2"}
    v = lake.log.latest().version

    # re-drain: ready markers consumed, commit-log idempotence holds
    assert drain_binlog_spool(spark, opts, spool) == 0
    assert lake.log.latest().version == v


def test_drain_spool_numeric_batch_order(spark, tmp_path):
    """Markers must drain in NUMERIC batch order: lexicographic order
    puts batch-10 before batch-2, and replay order decides equal-_ts
    last-write-wins ties."""
    import json

    from hudi_spark_plus_spark.streaming.datasource import drain_binlog_spool

    spool = str(tmp_path / "spool")
    for bid, val in ((2, "early"), (10, "late")):
        df = spark.createDataFrame(
            [(1, "db1", "t_customer", "update", 10, 1, val, 1.0)],
            "seq long, db_name string, table_name string, op string,"
            " ts long, key_id long, col_a string, col_b double",
        )
        vals = [r["value"] for r in build_envelopes(df).collect()]
        pending = os.path.join(spool, "pending")
        os.makedirs(pending, exist_ok=True)
        staged = os.path.join(pending, f"b{bid}.txt")
        with open(staged, "w") as fh:
            fh.write("\n".join(vals) + "\n")
        ready = os.path.join(spool, "ready")
        os.makedirs(ready, exist_ok=True)
        with open(os.path.join(ready, f"batch-{bid}.json"), "w") as fh:
            json.dump({"batch_id": bid, "files": [staged]}, fh)

    opts = sync_options(str(tmp_path / "tables"))
    assert drain_binlog_spool(spark, opts, spool) == 2
    lake = LakeTable(
        spark, str(tmp_path / "tables" / "db1" / "ods_db1_t_customer"), buckets=4
    )
    assert {
        r["key_id"]: r["col_a"] for r in lake.snapshot().collect()
    } == {1: "late"}


def test_watermarked_stream_window(spark, tmp_path):
    """Streaming window agg with watermark compiles and runs on a file
    stream (engine extension; batch parity checked by the oracle tests)."""
    import json

    src = str(tmp_path / "ev_in")
    os.makedirs(src, exist_ok=True)
    base_ns = 1704067200 * 10**9
    with open(os.path.join(src, "a.jsonl"), "w") as fh:
        for i in range(10):
            fh.write(json.dumps({"ts": base_ns + i * 60 * 10**9, "event_type": "x", "value": 1.0}) + "\n")
    stream = (
        spark.readStream.schema("ts long, event_type string, value double")
        .json(src)
    )
    agg = (
        to_event_time(stream)
        .withWatermark("event_time", "10 minutes")
        .groupBy(F.window("event_time", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    out = str(tmp_path / "win_out")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_test")
        .option("checkpointLocation", out)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits closed windows; just assert the query ran
    assert spark.table("win_test").columns == ["window", "event_type", "cnt"]


@pytest.mark.parametrize(
    "name", ["q-stream-stateful-dedup", "q-stream-stateful-agg"]
)
def test_stateful_query_matches_oracle(name, spark, sf_dir, con):
    from hudi_spark_plus_spark.operators.stream_queries import (
        STREAM_ORACLES,
        STREAM_QUERIES,
    )

    compare(STREAM_QUERIES[name](spark, sf_dir), con, STREAM_ORACLES[name], name)


def test_stateful_dedup_suppresses_across_batches(spark, tmp_path):
    """A key seen in batch 0 must NOT re-emit in batch 1; a key first
    seen in batch 1 emits there; per-batch earliest (ts, id) row wins."""
    import json as _json
    import time as _time

    from hudi_spark_plus_spark.streaming.stateful import stateful_dedup_stream

    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [
        [  # batch 0: key A twice (ts 5 then 3 -> id 2 wins), key B once
            {"id": 1, "k": "A", "ts": 5},
            {"id": 2, "k": "A", "ts": 3},
            {"id": 3, "k": "B", "ts": 9},
        ],
        [  # batch 1: A again (suppressed), new key C
            {"id": 4, "k": "A", "ts": 1},
            {"id": 5, "k": "C", "ts": 7},
        ],
    ]
    now = _time.time()
    for i, rows in enumerate(batches):
        p = os.path.join(src, f"b{i}.json")
        with open(p, "w") as f:
            f.write("\n".join(_json.dumps(r) for r in rows))
        os.utime(p, (now - 60 + i * 30, now - 60 + i * 30))
    stream = (
        spark.readStream.schema("id long, k string, ts long")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        stateful_dedup_stream(stream, "k", ("ts", "id"))
        .writeStream.format("memory")
        .queryName("ssd_unit")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["k"]: r["id"] for r in spark.table("ssd_unit").collect()}
    spark.catalog.dropTempView("ssd_unit")
    assert got == {"A": 2, "B": 3, "C": 5}


def test_stateful_agg_fixed_point_boundary(spark, tmp_path):
    """Adversarial near-boundary values: products value*1e6 landing on
    (or within ULPs of) .5 rounding boundaries must yield the identical
    integer micros from the engine's fixed-point accumulator, a direct
    numpy half-even computation, and the DuckDB round_even oracle
    expression — and the total must be independent of batch split."""
    import json as _json
    import time as _time

    import duckdb
    import numpy as np

    from hudi_spark_plus_spark.streaming.stateful import (
        stateful_running_agg_stream,
    )

    vals = [
        0.0000005, 0.0000015, 1.0000025, -0.0000005, -1.0000035,
        2.0000045, 0.1, 0.3, 1e6 + 0.0000005, 123.4567895,
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    now = _time.time()
    for i, chunk in enumerate((vals[:4], vals[4:])):  # two micro-batches
        p = os.path.join(src, f"b{i}.json")
        with open(p, "w") as f:
            f.write("\n".join(_json.dumps({"k": "x", "v": v}) for v in chunk))
        os.utime(p, (now - 60 + i * 30,) * 2)
    stream = (
        spark.readStream.schema("k string, v double")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        stateful_running_agg_stream(stream, "k", "v")
        .writeStream.format("memory")
        .queryName("ssa_fp_unit")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted(
        spark.table("ssa_fp_unit").collect(), key=lambda r: r["total_rows"]
    )
    spark.catalog.dropTempView("ssa_fp_unit")
    expected = int(np.round(np.array(vals) * 1_000_000).astype(np.int64).sum())
    oracle = duckdb.connect().execute(
        "SELECT SUM(CAST(round_even(v * 1000000, 0) AS BIGINT)) "
        "FROM (SELECT unnest(?) AS v)",
        [vals],
    ).fetchone()[0]
    assert rows[-1]["total_sum_scaled"] == expected == oracle
    assert rows[-1]["total_rows"] == len(vals)
    # batch split independence: batch totals sum to the same figure
    per_batch = [
        r["total_sum_scaled"] - (rows[i - 1]["total_sum_scaled"] if i else 0)
        for i, r in enumerate(rows)
    ]
    assert sum(per_batch) == expected


def test_epoch_us_handles_all_three_ts_layouts(spark):
    """loaders.epoch_us / event_time must agree across the layouts the
    testdata generator has shipped: epoch-nanos BIGINT, TIMESTAMP_NTZ,
    and plain TIMESTAMP — all mapping to the same epoch micros."""
    import datetime as dt

    from pyspark.sql import functions as F

    from hudi_spark_plus_spark.sources.loaders import epoch_us, event_time

    us = 1_723_500_000_123_456  # arbitrary instant, microsecond precision
    naive = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)
    nanos = spark.createDataFrame([(us * 1000,)], "ts long")
    ntz = spark.createDataFrame([(naive,)], "ts timestamp_ntz")
    tz = spark.range(1).select(F.timestamp_micros(F.lit(us)).alias("ts"))
    for df in (nanos, ntz, tz):
        assert df.select(epoch_us(df, "ts").alias("u")).first()["u"] == us
        got = df.select(
            F.unix_micros(event_time(df, "ts")).alias("u")
        ).first()["u"]
        assert got == us, dict(df.dtypes)


def test_cli_entrypoint_once_mode(spark, tmp_path):
    """The spark-submit entry point (__main__.run) drains an envelope
    directory in --once mode and lands the synced lake tables — the
    deployment face of the reference's spark-submit class."""
    import json as _json

    from hudi_spark_plus_spark.__main__ import build_parser, run
    from hudi_spark_plus_spark.operators.cdc_queries import (
        build_envelopes,
        derive_cdc_events,
        sync_options,
    )
    from hudi_spark_plus_spark.table.lake_table import LakeTable

    src = str(tmp_path / "envelopes")
    build_envelopes(
        derive_cdc_events(spark, "/root/testdata/sf0.001")
    ).coalesce(1).write.mode("overwrite").text(src)
    opts_path = str(tmp_path / "sync.json")
    with open(opts_path, "w") as fh:
        _json.dump(sync_options(str(tmp_path / "tables")), fh)
    args = build_parser().parse_args(
        [
            "--options", opts_path,
            "--source-path", src,
            "--checkpoint", str(tmp_path / "ckpt"),
            "--once",
            "--timeout", "300",
        ]
    )
    assert run(spark, args) is True
    t = LakeTable(
        spark, str(tmp_path / "tables" / "db1" / "ods_db1_t_customer"),
        buckets=4,
    )
    assert t.snapshot().count() > 0


class TestLakeTableStreamSource:
    """spark.readStream.format('lake-table'): the commit timeline as a
    Structured Streaming source (offsets = versions, Spark-checkpointed
    exactly-once)."""

    def _mk(self, spark, rows):
        return spark.createDataFrame(
            rows, "_key string, _ts long, _op string, val string"
        )

    def _drain(self, spark, table_path, ckpt, sink):
        from hudi_spark_plus_spark.streaming import stream_source

        stream_source.register(spark)
        collected = []

        def take(df, bid):
            collected.extend(
                (r["_key"], r["val"], r["_deleted"], r["_commit_ver"])
                for r in df.collect()
            )

        q = (
            spark.readStream.format("lake-table")
            .option("path", table_path)
            .load()
            .writeStream.foreachBatch(take)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        sink.extend(collected)

    def test_versions_stream_and_restart_exactly_once(self, spark, tmp_path):
        from hudi_spark_plus_spark.table.lake_table import LakeTable

        t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
        t.merge(self._mk(spark, [("k1", 1, "upsert", "a"),
                                 ("k2", 1, "upsert", "b")]), "b1")
        t.merge(self._mk(spark, [("k1", 2, "upsert", "a2"),
                                 ("k3", 2, "delete", "cx")]), "b2")
        ckpt = str(tmp_path / "ckpt")
        got: list = []
        self._drain(spark, t.path, ckpt, got)
        assert sorted(got) == [
            ("k1", "a2", False, 2),   # final in-range state of k1
            ("k2", "b", False, 1),
            ("k3", "cx", True, 2),    # delete surfaces as tombstone
        ]
        # restart with the SAME checkpoint after a third commit: only
        # the new version's rows arrive (exactly-once across restarts)
        t.merge(self._mk(spark, [("k4", 3, "upsert", "d")]), "b3")
        got2: list = []
        self._drain(spark, t.path, ckpt, got2)
        assert got2 == [("k4", "d", False, 3)]
        # and a fresh checkpoint replays from version 0
        got3: list = []
        self._drain(spark, t.path, str(tmp_path / "ckpt2"), got3)
        assert len(got3) == 4

    def test_column_mapping_in_stream(self, spark, tmp_path):
        """Renamed payload columns stream under their LOGICAL name;
        files written before a column existed back-fill nulls."""
        from hudi_spark_plus_spark.streaming import stream_source
        from hudi_spark_plus_spark.table.lake_table import LakeTable

        t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
        t.merge(self._mk(spark, [("k1", 1, "upsert", "a")]), "b1")
        t.rename_column("val", "value")
        t.merge(
            spark.createDataFrame(
                [("k2", 2, "upsert", "b", 7)],
                "_key string, _ts long, _op string, value string, extra long",
            ),
            "b2",
        )
        stream_source.register(spark)
        rows = []

        def take(df, bid):
            rows.extend(
                (r["_key"], r["value"], r["extra"]) for r in df.collect()
            )

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
        assert sorted(rows) == [("k1", "a", None), ("k2", "b", 7)]

    def test_start_version_option(self, spark, tmp_path):
        from hudi_spark_plus_spark.streaming import stream_source
        from hudi_spark_plus_spark.table.lake_table import LakeTable

        t = LakeTable(spark, str(tmp_path / "t"), buckets=2)
        t.merge(self._mk(spark, [("k1", 1, "upsert", "a")]), "b1")
        t.merge(self._mk(spark, [("k2", 2, "upsert", "b")]), "b2")
        stream_source.register(spark)
        rows = []

        def take(df, bid):
            rows.extend(r["_key"] for r in df.collect())

        q = (
            spark.readStream.format("lake-table")
            .option("path", t.path)
            .option("engine.stream.start.version", "1")
            .load()
            .writeStream.foreachBatch(take)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert rows == ["k2"]
