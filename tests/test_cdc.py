"""CDC pipeline tests: oracle parity, reference quirks, replay property
(SURVEY §5.2.3-4)."""

import random

import pytest
from pyspark.sql import functions as F

from hudi_spark_plus_spark.operators import cdc
from hudi_spark_plus_spark.operators.cdc_queries import (
    CDC_ORACLES,
    CDC_QUERIES,
    ROW_SCHEMA,
    build_envelopes,
    sync_options,
)
from hudi_spark_plus_spark.operators.sync import sync_batch
from hudi_spark_plus_spark.plans import config as cfg
from hudi_spark_plus_spark.table.lake_table import LakeTable
from tests.harness import compare, duck_connection


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_connection(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(CDC_QUERIES))
def test_cdc_query_matches_oracle(name, spark, sf_dir, con):
    compare(CDC_QUERIES[name](spark, sf_dir), con, CDC_ORACLES[name], name)


def _mk_events(spark, rows):
    """rows: (seq, db, table, op, ts, key_id, col_a, col_b)"""
    return spark.createDataFrame(
        rows,
        "seq long, db_name string, table_name string, op string, ts long,"
        " key_id long, col_a string, col_b double",
    )


def test_envelope_parse_path(spark):
    """N7/N17/N18: envelope JSON -> exploded typed records."""
    ev = _mk_events(spark, [(1, "db1", "t_customer", "update", 100, 7, "x", 1.5)])
    env = build_envelopes(ev)
    parsed = cdc.parse_envelopes(env)
    row = parsed.collect()[0]
    assert row[cdc.DB_COL] == "db1" and row[cdc.TABLE_COL] == "t_customer"
    assert row[cdc.OP_COL] == "upsert" and row["_ts"] == 100
    schema = cdc.decode_schema(row[cdc.SCHEMA_COL])
    decoded = cdc.decode_rows(parsed, schema).collect()[0]
    assert decoded["key_id"] == 7 and decoded["col_b"] == 1.5


def test_quirk_q1_misconfigured_table_isolated(spark, tmp_path):
    """Q1 fix: a table with missing config must not poison the batch's
    other tables (the reference's non-local return aborts them all)."""
    ev = _mk_events(
        spark,
        [
            (1, "db1", "t_customer", "update", 10, 1, "a", 1.0),
            (2, "db1", "t_mystery", "update", 10, 2, "b", 2.0),  # unconfigured
        ],
    )
    opts = sync_options(str(tmp_path))
    status = sync_batch(spark, build_envelopes(ev), opts, batch_id=0)
    assert status["db1.t_customer"] == "ok"
    assert status["db1.t_mystery"].startswith("skipped")
    lake = LakeTable(spark, f"{tmp_path}/db1/ods_db1_t_customer", buckets=4)
    assert lake.snapshot().count() == 1


def test_quirk_q2_delete_only_table(spark, tmp_path):
    """Q2 fix: a table whose batch slice is deletes-only must still be
    processed (reference hits an empty upsert RDD and skips)."""
    opts = sync_options(str(tmp_path))
    up = _mk_events(spark, [(1, "db1", "t_customer", "update", 10, 1, "a", 1.0),
                            (2, "db1", "t_order", "update", 10, 5, "b", 2.0)])
    sync_batch(spark, build_envelopes(up), opts, batch_id=0)
    dels = _mk_events(spark, [(3, "db1", "t_customer", "delete", 20, 1, None, None),
                              (4, "db1", "t_order", "update", 20, 6, "c", 3.0)])
    status = sync_batch(spark, build_envelopes(dels), opts, batch_id=1)
    assert status == {"db1.t_customer": "ok", "db1.t_order": "ok"}
    cust = LakeTable(spark, f"{tmp_path}/db1/ods_db1_t_customer", buckets=4)
    assert cust.snapshot().count() == 0  # deleted
    orde = LakeTable(spark, f"{tmp_path}/db1/ods_db1_t_order", buckets=4)
    assert orde.snapshot().count() == 2


def test_quirk_q5_same_key_insert_delete_one_batch(spark, tmp_path):
    """Q5: same-key insert+delete in one batch nets to the larger ts."""
    opts = sync_options(str(tmp_path))
    ev = _mk_events(
        spark,
        [
            (1, "db1", "t_customer", "update", 10, 1, "born", 1.0),
            (2, "db1", "t_customer", "delete", 20, 1, None, None),  # delete last
            (3, "db1", "t_customer", "delete", 10, 2, None, None),
            (4, "db1", "t_customer", "update", 20, 2, "alive", 2.0),  # upsert last
        ],
    )
    sync_batch(spark, build_envelopes(ev), opts, batch_id=0)
    lake = LakeTable(spark, f"{tmp_path}/db1/ods_db1_t_customer", buckets=4)
    rows = {r["key_id"]: r["col_a"] for r in lake.snapshot().collect()}
    assert rows == {2: "alive"}


def test_sync_batch_idempotent_replay(spark, tmp_path):
    """H5: re-running a committed micro-batch is a no-op."""
    opts = sync_options(str(tmp_path))
    ev = _mk_events(spark, [(1, "db1", "t_customer", "update", 10, 1, "a", 1.0)])
    env = build_envelopes(ev)
    sync_batch(spark, env, opts, batch_id=7)
    lake = LakeTable(spark, f"{tmp_path}/db1/ods_db1_t_customer", buckets=4)
    v = lake.log.latest().version
    sync_batch(spark, env, opts, batch_id=7)  # replay after "crash"
    assert lake.log.latest().version == v
    assert lake.snapshot().count() == 1


def test_retention_writes_raw_envelopes(spark, tmp_path):
    """Q4 fix: keepbinlog actually persists the raw envelope stream."""
    opts = sync_options(str(tmp_path / "tables"))
    opts[cfg.KEEP_BINLOG_ENABLE] = "true"
    opts[cfg.BINLOG_PATH] = str(tmp_path / "binlog")
    ev = _mk_events(spark, [(1, "db1", "t_customer", "update", 10, 1, "a", 1.0)])
    sync_batch(spark, build_envelopes(ev), opts, batch_id=3)
    kept = spark.read.text(str(tmp_path / "binlog" / "batch_id=3"))
    assert kept.count() == 1
    assert "databaseName" in kept.first()[0]


def test_transformer_sql_hook(spark, tmp_path):
    """N19: <SRC> placeholder SQL transform applied pre-merge."""
    opts = sync_options(str(tmp_path))
    opts["db1.t_customer." + cfg.TRANSFORMER_SQL] = (
        "SELECT seq, key_id, UPPER(col_a) AS col_a, col_b * 10 AS col_b"
        " FROM <SRC>"
    )
    ev = _mk_events(spark, [(1, "db1", "t_customer", "update", 10, 1, "abc", 1.5)])
    sync_batch(spark, build_envelopes(ev), opts, batch_id=0)
    lake = LakeTable(spark, f"{tmp_path}/db1/ods_db1_t_customer", buckets=4)
    row = lake.snapshot().collect()[0]
    assert row["col_a"] == "ABC" and row["col_b"] == 15.0


def test_cdc_replay_property(spark, tmp_path):
    """SURVEY §5.2.3: random upsert/delete sequences, arbitrary batch
    boundaries (arrival-ordered), vs a single-threaded dict replay
    honoring LWW by (ts, seq)."""
    rng = random.Random(42)
    n, keys = 400, 30
    events = []
    for seq in range(n):
        op = "delete" if rng.random() < 0.2 else "update"
        events.append(
            (seq, "db1", "t_customer", op, rng.randrange(20),
             rng.randrange(keys), f"v{seq}", float(seq))
        )
    # oracle: dict replay, winner = max (ts, seq) per key
    best = {}
    for seq, _db, _t, op, ts, k, a, b in events:
        if k not in best or (ts, seq) >= (best[k][0], best[k][1]):
            best[k] = (ts, seq, op, a, b)
    expect = {k: (v[3], v[4]) for k, v in best.items() if v[2] != "delete"}

    opts = sync_options(str(tmp_path))
    # arrival-ordered random batch boundaries
    cuts = sorted(rng.sample(range(1, n), 4))
    lo = 0
    for i, hi in enumerate(cuts + [n]):
        chunk = [e for e in events if lo <= e[0] < hi]
        lo = hi
        if not chunk:
            continue
        sync_batch(spark, build_envelopes(_mk_events(spark, chunk)), opts, batch_id=i)
    lake = LakeTable(spark, f"{tmp_path}/db1/ods_db1_t_customer", buckets=4)
    got = {
        r["key_id"]: (r["col_a"], r["col_b"])
        for r in lake.snapshot().collect()
    }
    assert got == expect


def test_malformed_envelope_lines_are_skipped(spark, tmp_path):
    """Garbage lines in the stream must not break the batch: from_json
    yields null envelopes, explode drops them, valid lines process."""
    good = build_envelopes(
        _mk_events(spark, [(1, "db1", "t_customer", "update", 10, 1, "a", 1.0)])
    ).collect()[0]["value"]
    lines = spark.createDataFrame(
        [(good,), ("{not valid json",), ("",), ('{"databaseName":"db1"}',)],
        "value string",
    )
    opts = sync_options(str(tmp_path))
    status = sync_batch(spark, lines, opts, batch_id=0)
    assert status["db1.t_customer"] == "ok"
    lake = LakeTable(spark, f"{tmp_path}/db1/ods_db1_t_customer", buckets=4)
    assert lake.snapshot().count() == 1


def test_per_table_dedup_order_fields(spark, tmp_path):
    """Each table's configured tie-break field applies to its own rows —
    a batch mixing tables with different tie-break columns must not
    cross-apply one table's field to the other (review finding)."""
    opts = sync_options(str(tmp_path))
    # t_customer ties break on seq (default fixture config); t_order on
    # col_b via per-table override
    opts["db1.t_order." + cfg.DEDUP_ORDER_FIELDS] = "col_b"
    ev = _mk_events(
        spark,
        [
            # same key, same ts: t_customer winner = larger seq ("late")
            (10, "db1", "t_customer", "update", 5, 1, "early", 1.0),
            (20, "db1", "t_customer", "update", 5, 1, "late", 2.0),
            # same key, same ts: t_order winner = larger col_b ("big"),
            # even though its seq is SMALLER
            (30, "db1", "t_order", "update", 5, 9, "big", 99.0),
            (40, "db1", "t_order", "update", 5, 9, "small", 1.0),
        ],
    )
    sync_batch(spark, build_envelopes(ev), opts, batch_id=0)
    cust = LakeTable(spark, f"{tmp_path}/db1/ods_db1_t_customer", buckets=4)
    assert {r["col_a"] for r in cust.snapshot().collect()} == {"late"}
    orde = LakeTable(spark, f"{tmp_path}/db1/ods_db1_t_order", buckets=4)
    assert {r["col_a"] for r in orde.snapshot().collect()} == {"big"}


def test_simple_keygen_in_cdc_path(spark, tmp_path):
    """keygenerator.class=simple: the record key is the raw key column
    (review finding: config was previously ignored on the CDC path)."""
    opts = sync_options(str(tmp_path))
    opts["db1.t_customer." + cfg.KEYGENERATOR_CLASS] = "simple"
    ev = _mk_events(spark, [(1, "db1", "t_customer", "update", 10, 42, "a", 1.0)])
    sync_batch(spark, build_envelopes(ev), opts, batch_id=0)
    lake = LakeTable(spark, f"{tmp_path}/db1/ods_db1_t_customer", buckets=4)
    rows = lake.snapshot().collect()
    assert rows[0]["_key"] == "42"  # raw key, not an md5 digest


def test_inband_schema_evolution_across_batches(spark, tmp_path):
    """Mid-stream ALTER TABLE: a later envelope declares an extra column.
    Within one batch the LATEST-ts schema decodes all rows (older rows
    null-fill); the merge widens the stored table additively."""
    import json as _json

    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    old_schema = StructType([
        StructField("seq", LongType()), StructField("key_id", LongType()),
        StructField("col_a", StringType()), StructField("col_b", DoubleType()),
    ])
    new_schema = StructType(list(old_schema.fields) + [
        StructField("col_c", StringType()),
    ])

    def envelope(schema, ts, rows):
        return _json.dumps({
            "databaseName": "db1", "tableName": "t_customer",
            "schema": _json.dumps(_json.loads(schema.json())),
            "type": "update", "timestamp": ts, "rows": rows,
        })

    opts = sync_options(str(tmp_path))
    # batch 0: one old-schema envelope and one new-schema envelope with a
    # LARGER ts -> the new schema must win the in-batch pick
    b0 = spark.createDataFrame(
        [
            (envelope(old_schema, 10, [{"seq": 1, "key_id": 1, "col_a": "a", "col_b": 1.0}]),),
            (envelope(new_schema, 20, [{"seq": 2, "key_id": 2, "col_a": "b", "col_b": 2.0, "col_c": "NEW"}]),),
        ],
        "value string",
    )
    sync_batch(spark, b0, opts, batch_id=0)
    lake = LakeTable(spark, f"{tmp_path}/db1/ods_db1_t_customer", buckets=4)
    rows = {r["key_id"]: r for r in lake.snapshot().collect()}
    assert rows[2]["col_c"] == "NEW"
    assert rows[1]["col_c"] is None  # old-schema row null-filled

    # batch 1: old-schema-only envelopes still merge into the widened table
    b1 = spark.createDataFrame(
        [(envelope(old_schema, 30, [{"seq": 3, "key_id": 1, "col_a": "a2", "col_b": 1.5}]),)],
        "value string",
    )
    sync_batch(spark, b1, opts, batch_id=1)
    rows = {r["key_id"]: r for r in lake.snapshot().collect()}
    assert rows[1]["col_a"] == "a2" and rows[1]["col_c"] is None
    assert rows[2]["col_c"] == "NEW"


def test_simple_keygen_two_tables_no_cross_table_collision(spark, tmp_path):
    """Two tables both on simple keygen with OVERLAPPING raw key values in
    one batch: the dedup window must scope per (db, table) — a global
    window keyed only on _key would silently drop one table's row
    (ADVICE round-1 finding)."""
    opts = sync_options(str(tmp_path))
    opts["db1.t_customer." + cfg.KEYGENERATOR_CLASS] = "simple"
    opts["db1.t_order." + cfg.KEYGENERATOR_CLASS] = "simple"
    ev = _mk_events(
        spark,
        [
            # same raw key value 7, same ts, different tables
            (1, "db1", "t_customer", "update", 10, 7, "cust", 1.0),
            (2, "db1", "t_order", "update", 10, 7, "ord", 2.0),
        ],
    )
    status = sync_batch(spark, build_envelopes(ev), opts, batch_id=0)
    assert status == {"db1.t_customer": "ok", "db1.t_order": "ok"}
    cust = LakeTable(spark, f"{tmp_path}/db1/ods_db1_t_customer", buckets=4)
    orde = LakeTable(spark, f"{tmp_path}/db1/ods_db1_t_order", buckets=4)
    assert [r["col_a"] for r in cust.snapshot().collect()] == ["cust"]
    assert [r["col_a"] for r in orde.snapshot().collect()] == ["ord"]


def test_incompatible_schema_change_isolated_per_table(spark, tmp_path):
    """A table whose in-band schema declares a non-widening type change
    is skipped with an error; OTHER tables in the same batch commit
    normally (Q1 isolation extended to schema errors)."""
    import json as _json

    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    opts = sync_options(str(tmp_path))
    ev = _mk_events(
        spark,
        [
            (1, "db1", "t_customer", "update", 10, 1, "a", 1.0),
            (2, "db1", "t_order", "update", 10, 2, "b", 2.0),
        ],
    )
    assert sync_batch(spark, build_envelopes(ev), opts, batch_id=0) == {
        "db1.t_customer": "ok",
        "db1.t_order": "ok",
    }
    # batch 1: t_customer re-declares col_b (double) as STRING -> skipped;
    # t_order unaffected
    bad_schema = StructType([
        StructField("seq", LongType()), StructField("key_id", LongType()),
        StructField("col_a", StringType()), StructField("col_b", StringType()),
    ])
    bad = spark.createDataFrame(
        [(
            _json.dumps({
                "databaseName": "db1", "tableName": "t_customer",
                "schema": bad_schema.json(), "type": "upsert",
                "timestamp": 20,
                "rows": [_json.dumps(
                    {"seq": 3, "key_id": 1, "col_a": "x", "col_b": "oops"}
                )],
            }),
        ), (
            _json.dumps({
                "databaseName": "db1", "tableName": "t_order",
                "schema": ROW_SCHEMA.json(), "type": "upsert",
                "timestamp": 20,
                "rows": [_json.dumps(
                    {"seq": 4, "key_id": 2, "col_a": "b2", "col_b": 2.5}
                )],
            }),
        )],
        "value string",
    )
    status = sync_batch(spark, bad, opts, batch_id=1)
    assert status["db1.t_order"] == "ok"
    assert status["db1.t_customer"].startswith("skipped:")
    orde = LakeTable(spark, f"{tmp_path}/db1/ods_db1_t_order")
    assert {r["col_a"] for r in orde.snapshot().collect()} == {"b2"}
    cust = LakeTable(spark, f"{tmp_path}/db1/ods_db1_t_customer")
    assert {r["col_a"] for r in cust.snapshot().collect()} == {"a"}


def test_sync_mor_mode_matches_cow(spark, tmp_path):
    """engine.table.write.mode=mor through the FULL envelope pipeline:
    final snapshots must equal the COW run on the same stream."""
    ev = _mk_events(
        spark,
        [
            (1, "db1", "t_customer", "update", 10, 1, "a", 1.0),
            (2, "db1", "t_customer", "update", 20, 1, "a2", 1.5),
            (3, "db1", "t_customer", "update", 10, 2, "b", 2.0),
            (4, "db1", "t_customer", "delete", 30, 2, None, None),
            (5, "db1", "t_order", "update", 10, 3, "c", 3.0),
        ],
    )
    results = {}
    for mode, sub in (("cow", "c"), ("mor", "m")):
        opts = sync_options(f"{tmp_path}/{sub}")
        opts[cfg.WRITE_MODE] = mode
        # two batches so MOR actually appends deltas on batch 2
        sync_batch(spark, build_envelopes(ev.where(F.col("seq") <= 3)), opts, 0)
        sync_batch(spark, build_envelopes(ev.where(F.col("seq") > 3)), opts, 1)
        snap = {}
        for t in ("t_customer", "t_order"):
            lake = LakeTable(spark, f"{tmp_path}/{sub}/db1/ods_db1_{t}")
            snap[t] = {
                r["key_id"]: r["col_a"] for r in lake.snapshot().collect()
            }
        results[mode] = snap
    assert results["cow"] == results["mor"]
    assert results["mor"]["t_customer"] == {1: "a2"}
    # MOR table really has delta files
    lake = LakeTable(spark, f"{tmp_path}/m/db1/ods_db1_t_customer")
    assert "delta" in {f.kind for f in lake.log.live_files()}


def _envelope(db, table, op, ts, rows, schema=ROW_SCHEMA):
    """One raw envelope line; ``rows`` are payload dicts."""
    import json as _json

    return _json.dumps({
        "databaseName": db, "tableName": table,
        "schema": _json.dumps(_json.loads(schema.json())),
        "type": op, "timestamp": ts,
        "rows": [_json.dumps(r) for r in rows],
    })


def _row(seq, key_id, col_a, col_b, **extra):
    return {"seq": seq, "key_id": key_id, "col_a": col_a, "col_b": col_b,
            **extra}


def test_collect_and_fallback_paths_commit_the_same_tables(
    spark, tmp_path, monkeypatch
):
    """The same three batches go through ``sync_batch`` three times:
    under the collect cap with every table's slice deduplicated on the
    driver, under the cap with the local size bound patched so every
    slice takes the Spark window, and with the cap at 3 (the
    repartitioned, persisted fallback; the merges then run in tasks).
    Status dicts, snapshots, schemas and manifests (paths masked) are
    equal after every batch."""
    from pyspark.sql.types import StringType, StructField, StructType

    wide = StructType(list(ROW_SCHEMA.fields) + [StructField("col_c", StringType())])
    batches = [
        [
            _envelope("db1", "t_customer", "update", 10,
                      [_row(1, 1, "a", 1.0), _row(2, 2, "b", 2.0)]),
            # Q5: same key, insert then delete at a larger ts
            _envelope("db1", "t_customer", "update", 11, [_row(3, 3, "c", 3.0)]),
            _envelope("db1", "t_customer", "delete", 12, [_row(4, 3, None, None)]),
            # t_order ties break on col_b, t_customer on seq
            _envelope("db1", "t_order", "update", 10,
                      [_row(5, 9, "big", 99.0), _row(6, 9, "small", 1.0)]),
            _envelope("db2", "t_customer", "update", 10,
                      [_row(7, 4, "xy", 4.0), _row(8, 5, "zw", 5.0)]),
            _envelope("db2", "t_order", "update", 10,
                      [_row(9, 6, "m1", 6.0), _row(10, 7, "m2", 7.0)]),
            _envelope("db1", "t_mystery", "update", 10, [_row(11, 1, "u", 0.0)]),
            _envelope("db3", "t_bad", "update", 10, [_row(12, 1, "u", 0.0)]),
            "{not valid json",
        ],
        [
            # mid-batch schema change: the wider schema at the later ts
            _envelope("db1", "t_customer", "update", 20, [_row(13, 1, "a2", 1.5)]),
            _envelope("db1", "t_customer", "update", 21,
                      [_row(14, 5, "e", 5.0, col_c="NEW")], schema=wide),
            _envelope("db1", "t_order", "update", 20,
                      [_row(15, 9, "lo", 1.0), _row(16, 9, "hi", 50.0)]),
            _envelope("db2", "t_customer", "delete", 20, [_row(17, 4, None, None)]),
            _envelope("db2", "t_order", "update", 20,
                      [_row(18, 6, "m1b", 6.5), _row(19, 8, "m3", 8.0)]),
            "",
        ],
        [
            _envelope("db1", "t_customer", "update", 30, [_row(20, 2, "b3", 2.5)]),
            _envelope("db2", "t_order", "delete", 30, [_row(21, 7, None, None)]),
            _envelope("db2", "t_customer", "update", 30, [_row(22, 5, "zz", 5.5)]),
        ],
    ]

    def run(root):
        opts = sync_options(str(root))
        opts["db1.t_order." + cfg.DEDUP_ORDER_FIELDS] = "col_b"
        opts["db2.t_customer." + cfg.TRANSFORMER_SQL] = (
            "SELECT seq, key_id, UPPER(col_a) AS col_a, col_b FROM <SRC>"
        )
        opts["db2.t_order." + cfg.WRITE_MODE] = "mor"
        opts["db3.t_bad." + cfg.RECORDKEY_FIELD] = "key_id"  # no table name
        seen = []
        for i, lines in enumerate(batches):
            df = spark.createDataFrame([(v,) for v in lines], "value string")
            state = {"status": sync_batch(spark, df, opts, batch_id=i)}
            for db in ("db1", "db2"):
                for t in ("t_customer", "t_order"):
                    lake = LakeTable(spark, f"{root}/{db}/ods_{db}_{t}")
                    snap = lake.snapshot()
                    cols = sorted(snap.columns)
                    state[f"{db}.{t}"] = (
                        sorted(map(tuple, snap.select(*cols).collect()), key=repr),
                        lake.log.latest().schema_json,
                        sorted(
                            (f.partition or "", f.bucket, f.kind, f.rows,
                             f.live_rows, f.min_key, f.max_key, f.bloom,
                             f.bytes, sorted((f.col_stats or {}).items()))
                            for f in lake.log.live_files()
                        ),
                    )
            seen.append(state)
        return seen

    from hudi_spark_plus_spark import localdf
    from hudi_spark_plus_spark.operators import sync

    on_driver = []
    dedup = sync._dedup_on_driver
    monkeypatch.setattr(sync, "_dedup_on_driver",
                        lambda *a: on_driver.append(1) or dedup(*a))
    collected = run(tmp_path / "collect")
    assert on_driver  # every slice is small: deduplicated on the driver
    on_driver.clear()
    # the size bound at -1: every slice takes the Spark window, and
    # every merge collects its batch with a job
    monkeypatch.setattr(localdf, "LOCAL_COLLECT_MAX_ROWS", -1)
    windowed = run(tmp_path / "window")
    assert not on_driver
    assert windowed == collected
    monkeypatch.setattr(LakeTable, "MERGE_COLLECT_MAX_ROWS", 3)
    fallback = run(tmp_path / "fallback")
    assert fallback == collected
    first = collected[0]["status"]
    assert first["db1.t_mystery"].startswith("skipped: no options")
    assert first["db3.t_bad"].startswith("skipped:") and "missing" in first["db3.t_bad"]
    assert all(first[f"{db}.{t}"] == "ok" for db in ("db1", "db2")
               for t in ("t_customer", "t_order"))
    final = collected[-1]
    cust = LakeTable(spark, f"{tmp_path}/collect/db1/ods_db1_t_customer")
    # key 3 deleted in batch 0 (Q5); key 5 arrived with the wide schema
    assert {r["key_id"]: r["col_c"] for r in cust.snapshot().collect()} == {
        1: None, 2: None, 5: "NEW"}
    assert "delta" in {e[2] for e in final["db2.t_order"][2]}


def test_batch_schema_is_the_max_ts_schema_over_every_row(spark, tmp_path):
    """The batch's schema for a table is the max ``(ts, schema string)``
    over ALL its rows, not over the dedup survivors: here the row that
    carries the lexicographically larger schema loses its key's dedup,
    and that schema is still the one committed."""
    import json as _json

    from pyspark.sql.types import StringType, StructField, StructType

    wide = StructType(list(ROW_SCHEMA.fields) + [StructField("col_c", StringType())])
    enc = lambda s: _json.dumps(_json.loads(s.json()))  # noqa: E731
    assert enc(ROW_SCHEMA) > enc(wide)  # the narrow schema ranks first
    lines = [
        _envelope("db1", "t_customer", "update", 20, [_row(1, 1, "narrow", 1.0)]),
        # same key and ts, larger seq: this row wins the dedup
        _envelope("db1", "t_customer", "update", 20,
                  [_row(2, 1, "wide", 2.0, col_c="lost")], schema=wide),
        _envelope("db1", "t_customer", "update", 5, [_row(3, 2, "old", 3.0)]),
    ]
    rank = max((20, enc(ROW_SCHEMA)), (20, enc(wide)), (5, enc(ROW_SCHEMA)))
    opts = sync_options(str(tmp_path))
    df = spark.createDataFrame([(v,) for v in lines], "value string")
    assert sync_batch(spark, df, opts, batch_id=0) == {"db1.t_customer": "ok"}
    lake = LakeTable(spark, f"{tmp_path}/db1/ods_db1_t_customer", buckets=4)
    payload = [f for f in lake.schema().fieldNames() if not f.startswith("_")]
    assert payload == [f.name for f in ROW_SCHEMA.fields] == [
        f["name"] for f in _json.loads(rank[1])["fields"]
    ]
    rows = {r["key_id"]: r["col_a"] for r in lake.snapshot().collect()}
    assert rows == {1: "wide", 2: "old"}


def _warm_two_table_batch_jobs(spark, tmp_path, files):
    """Spark jobs (and their stage counts) of a warm COW ``sync_batch``
    of two tables, 40 rows each, read from ``files`` text files."""
    opts = sync_options(str(tmp_path / "tables"))
    sc = spark.sparkContext

    def batch(i):
        d = tmp_path / "in" / f"b{i}"
        d.mkdir(parents=True)
        lines = [
            _envelope("db1", t, "update", 10 * i + 1,
                      [_row(100 * i + k, k, f"v{i}", float(k))
                       for k in range(10 * j, 10 * j + 10)])
            for t in ("t_customer", "t_order") for j in range(4)
        ]
        for f in range(files):
            (d / f"p{f}.txt").write_text("\n".join(lines[f::files]) + "\n")
        return spark.read.text(str(d))

    for i in range(2):  # create both tables, then warm up
        sync_batch(spark, batch(i), opts, batch_id=i)
    df = batch(2)
    before = sc._jsc.sc().dagScheduler().nextJobId()
    status = sync_batch(spark, df, opts, batch_id=2)
    after = sc._jsc.sc().dagScheduler().nextJobId()
    assert status == {"db1.t_customer": "ok", "db1.t_order": "ok"}
    lake = LakeTable(spark, f"{tmp_path}/tables/db1/ods_db1_t_order", buckets=4)
    assert {r["col_a"] for r in lake.snapshot().collect()} == {"v2"}
    assert len(lake.snapshot().collect()) == 40
    return [len(sc.statusTracker().getJobInfo(j).stageIds)
            for j in range(before, after)]


def test_warm_two_table_sync_batch_runs_at_most_three_jobs(spark, tmp_path):
    """A warm COW ``sync_batch`` of two tables read from one text file:
    one collect of the envelopes and at most one batch collect per
    table's merge, nothing else (no metadata job, no dedup shuffle)."""
    jobs = _warm_two_table_batch_jobs(spark, tmp_path, files=1)
    assert len(jobs) <= 3, jobs


def test_warm_two_table_sync_batch_runs_one_job(spark, tmp_path):
    """The same batch read from four text files: the envelope collect
    is the batch's one job, in one stage (the small input is coalesced
    before the cap's limit, so nothing is exchanged), and each table's
    dedup and merge collect run on the driver from local data."""
    jobs = _warm_two_table_batch_jobs(spark, tmp_path, files=4)
    assert jobs == [1], jobs


def test_input_over_the_byte_bound_is_parsed_in_parallel(
    spark, tmp_path, monkeypatch
):
    """The same four-file batch with the one-task byte bound at 0: the
    envelopes are parsed in the input's own partitions, so the
    collect's limit exchanges (more than one stage), and the batch
    commits the same rows."""
    from hudi_spark_plus_spark.operators import sync

    monkeypatch.setattr(sync, "ONE_TASK_INPUT_BYTES", 0)
    jobs = _warm_two_table_batch_jobs(spark, tmp_path, files=4)
    assert sum(jobs) > 1, jobs
