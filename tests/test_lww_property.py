"""The batch last-write-wins dedup has two implementations that must
agree: the Spark window (``cdc.lww_dedup``) and the driver path of a
small sync slice (``sync._dedup_on_driver`` over
``cdc.lww_dedup_arrow``). Seeded batches stress every tie the order
has: equal and null ``_ts``, null, absent, non-numeric, equal and
beyond-2^53 tie-break values over two order fields, and one key spread
over several envelopes."""

import json
import random
from decimal import Decimal

import pyarrow as pa
import pytest

from hudi_spark_plus_spark.operators import cdc, sync
from hudi_spark_plus_spark.plans.config import TableConfig
from hudi_spark_plus_spark.table.keygen import KEY_COL, OP_COL, TS_COL

ORDER = ["o1", "o2"]
ROW_SCHEMA = "_op string, _ts bigint, _pos int, value string"
TIE_VALUES = [None, "absent", 1, 1, 2, 2.5, "abc", "7", 2**53 + 1, 2**53]


def _batch(seed: int) -> pa.Table:
    """Envelopes of 1-4 rows over 5 keys; a few timestamps, some null.
    Rows of one envelope often repeat its tie-break values, so only
    ``_pos`` tells them apart."""
    rng = random.Random(seed)
    ops, tss, poss, vals = [], [], [], []
    seq = 0
    for _ in range(rng.randint(15, 30)):
        ts = rng.choice([None, 5, 10, 10, 10, 20])
        op = rng.choice(["upsert", "upsert", "delete"])
        shared = {f: rng.choice(TIE_VALUES) for f in ORDER}
        for pos in range(rng.randint(1, 4)):
            row = {"id": rng.randint(1, 5), "seq": seq}
            seq += 1
            for f in ORDER:
                v = shared[f] if rng.random() < 0.7 else rng.choice(TIE_VALUES)
                if v != "absent":
                    row[f] = v
            ops.append(op)
            tss.append(ts)
            poss.append(pos)
            vals.append(json.dumps(row))
    return pa.table({
        OP_COL: ops,
        TS_COL: pa.array(tss, pa.int64()),
        cdc.POS_COL: pa.array(poss, pa.int32()),
        cdc.VALUE_COL: vals,
    })


def _rank(values):
    """Python reading of ``lww_order``: larger first, nulls last."""
    return tuple((v is not None, v if v is not None else 0) for v in values)


@pytest.mark.parametrize("seed", range(6))
def test_driver_dedup_keeps_the_window_survivors(spark, seed):
    tc = TableConfig(
        db="db1", table="t", record_key_fields=["id"], precombine_field="seq",
        table_name="t", path="/unused", dedup_order_fields=ORDER,
    )
    local = _batch(seed)
    frame = spark.createDataFrame(local, ROW_SCHEMA)
    window = {
        r[KEY_COL]: r.asDict()
        for r in sync._dedup_in_spark(frame.coalesce(1), tc).collect()
    }
    driver_df = sync._dedup_on_driver(spark, local, frame, tc)
    driver = {r[KEY_COL]: r.asDict() for r in driver_df.collect()}
    assert driver_df.schema == sync._dedup_in_spark(frame, tc).schema
    assert driver.keys() == window.keys()

    # a third reading of the rule: every row with its order values, as
    # Spark evaluates them, ranked in Python
    order = cdc.lww_order(ORDER)
    ranked = frame.withColumn(KEY_COL, sync._record_key(tc)).select(
        KEY_COL, cdc.VALUE_COL, *[v.alias(n) for n, v in order]
    ).collect()
    by_key: dict = {}
    for r in ranked:
        by_key.setdefault(r[KEY_COL], []).append(r)
    assert by_key.keys() == driver.keys()
    for key, rows in by_key.items():
        best = max(_rank(r[n] for n, _ in order) for r in rows)
        top = {r[cdc.VALUE_COL] for r in rows
               if _rank(r[n] for n, _ in order) == best}
        assert driver[key][cdc.VALUE_COL] in top
        assert window[key][cdc.VALUE_COL] in top
        if len(top) == 1:
            assert driver[key] == window[key]
    # the tie-break values really were exercised: the non-numeric and
    # null ones read as null, the large ones keep their precision
    vals = {r["_tb0"] for r in ranked} | {r["_tb1"] for r in ranked}
    assert None in vals and Decimal(2**53 + 1) in vals


def test_lww_dedup_arrow_orders_nulls_last_and_keeps_input_order_on_ties():
    rows = pa.table({
        KEY_COL: ["a", "a", "a", "b", "b"],
        TS_COL: pa.array([None, 3, 3, 1, 1], pa.int64()),
        "_tb0": pa.array([Decimal(9), None, Decimal(1), Decimal(2), Decimal(2)],
                         pa.decimal128(38, 9)),
        cdc.POS_COL: pa.array([5, 0, 0, 1, 1], pa.int32()),
        "n": [0, 1, 2, 3, 4],
    })
    won = cdc.lww_dedup_arrow(rows, [TS_COL, "_tb0", cdc.POS_COL])
    # "a": the null _ts loses, then the null tie-break loses;
    # "b": a full tie keeps the first row
    assert won.column("n").to_pylist() == [2, 3]
    # equal _ts and tie-break: the larger _pos wins
    rows = rows.set_column(3, cdc.POS_COL, pa.array([5, 0, 0, 1, 2], pa.int32()))
    won = cdc.lww_dedup_arrow(rows, [TS_COL, "_tb0", cdc.POS_COL])
    assert won.column("n").to_pylist() == [2, 4]
    assert cdc.lww_dedup_arrow(rows.slice(0, 0), [TS_COL]).num_rows == 0
