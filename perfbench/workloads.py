"""The benchmark's workloads: ``sync_batch`` of seeded envelope batches
into 2 dbs x 2 tables, driven from one closed-loop client (the next
operation is issued only after the previous one returns).

``setup`` writes all inputs (``gen``), loads the tables and warms the
session up; ``run`` is the timed loop; ``verify`` compares every table's
final state with the reference replay. Every operation result is checked
as it returns (``reference.Checker``).
"""

from __future__ import annotations

import os
import random
import time

import gen
from reference import ROW_COLS, Checker, Replay

LOOKUP_KEYS = 8  # per point lookup: 6 present, 2 absent
LOOKUP_HITS = 6


def arrow_rows(df) -> list[tuple]:
    """``ROW_COLS`` tuples of a DataFrame, fetched as Arrow (a final
    snapshot is tens of thousands of rows; ``collect`` would spend
    seconds building Row objects)."""
    t = df.select(*ROW_COLS).toArrow()
    return list(zip(*(t.column(c).to_pylist() for c in ROW_COLS)))


class Op:
    __slots__ = ("kind", "ms")

    def __init__(self, kind: str, ms: float):
        self.kind = kind
        self.ms = ms


class CdcWorkload:
    """``mode="cow"``: small copy-on-write tables, write-only loop.
    ``mode="mor"``: larger merge-on-read tables with inline compaction;
    after every batch one reader issues a point lookup and a snapshot
    aggregate scan on a rotating table.

    Every run times the same ``timed_batches`` batches, so only their
    duration varies from commit to commit. The untimed load batch is the
    session's first and pays its cold start. On MOR, inline compaction
    runs when a bucket holds ``timed_batches`` deltas, so the timed batches
    are one whole compaction cycle: each adds one delta to every bucket,
    and the last one compacts them all."""

    def __init__(self, spark, work: str, seed: int, *, mode: str, keys: int,
                 rows_per_batch: int, timed_batches: int):
        self.spark = spark
        self.work = work
        self.mode = mode
        self.timed_batches = timed_batches
        self.tracer = None  # set once set-up is done, for a traced run
        self.ops: list[Op] = []
        self.phases: dict[str, float] = {}  # untimed set-up phases, seconds
        self.checker = Checker()
        self.rng = random.Random(seed * 7919 + 1)  # the reader's key choices
        self.stream = gen.CdcStream(seed, keys, rows_per_batch)
        self.replay = Replay()
        self.batches: list[tuple[str, list]] = []
        self.next_batch = 0
        self.change_rows = 0

    def _timed(self, kind: str, fn):
        """Run one operation; return (result, seconds, span). Under tracing
        the call is an operation span with Spark counter deltas; otherwise
        span is None."""
        if self.tracer is None:
            t = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t, None
        with self.tracer.op(kind) as span:
            t = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t
        return out, dt, span

    def _lake(self, path: str):
        from hudi_spark_plus_spark.table.lake_table import LakeTable

        return LakeTable(self.spark, path)

    def options(self) -> dict[str, str]:
        from hudi_spark_plus_spark.plans import config as cfg

        opts = {
            cfg.HOODIE_PATH: os.path.join(self.work, "tables", "{db}", "{table}"),
            cfg.DEDUP_ORDER_FIELDS: gen.ORDER_FIELD,
            cfg.WRITE_MODE: self.mode,
        }
        if self.mode == "mor":
            opts[cfg.COMPACT_MAX_DELTAS] = str(self.timed_batches)
        for db, t in gen.ROUTES:
            p = f"{db}.{t}."
            opts[p + cfg.RECORDKEY_FIELD] = gen.KEY_FIELD
            opts[p + cfg.PRECOMBINE_FIELD] = gen.ORDER_FIELD
            opts[p + cfg.TABLE_NAME] = t
        return opts

    def table_path(self, route) -> str:
        return os.path.join(self.work, "tables", route[0], route[1])

    def generate(self) -> None:
        """Write the load batch and the timed batches before anything is
        timed."""
        inp = os.path.join(self.work, "in")
        self.batches.append((gen.write_batch(f"{inp}/b00000", ev := self.stream.load_batch()), ev))
        for i in range(1, 1 + self.timed_batches):
            ev = self.stream.next_batch()
            self.batches.append((gen.write_batch(f"{inp}/b{i:05d}", ev), ev))

    def setup(self) -> None:
        t = time.perf_counter()
        self.generate()
        self.opts = self.options()
        self.phases["generate_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self.sync_next(timed=False)  # the load
        self.readers = {r: self._lake(self.table_path(r)) for r in gen.ROUTES}
        self.phases["load_s"] = time.perf_counter() - t
        if self.mode == "mor":  # warm the read path up once
            t = time.perf_counter()
            self.read_pair(self.next_batch, timed=False)
            self.phases["warm_s"] = time.perf_counter() - t

    def sync_next(self, timed: bool = True) -> None:
        from hudi_spark_plus_spark.operators import sync

        i = self.next_batch
        path, events = self.batches[i]
        df = self.spark.read.text(path)
        status, dt, _ = self._timed(
            "sync_batch", lambda: sync.sync_batch(self.spark, df, self.opts, batch_id=i)
        )
        self.next_batch += 1
        self.replay.apply(events)
        self.checker.status("sync_batch", status, [f"{db}.{t}" for db, t in gen.ROUTES])
        if timed:
            self.ops.append(Op("sync_batch", dt * 1000.0))
            self.change_rows += len(events)

    def lookup(self, lake, route, key_ids: list[int], expected, timed=True):
        """Point lookup: ``scan_for_keys``, filter on ``_key``, collect."""
        from pyspark.sql import functions as F

        keys = [gen.record_key(route[0], route[1], k) for k in key_ids]

        def fn():
            kdf = self.spark.createDataFrame([(k,) for k in keys], "_key string")
            return (lake.scan_for_keys(kdf).where(F.col("_key").isin(keys))
                    .select(*ROW_COLS).collect())

        rows, dt, span = self._timed("lookup", fn)
        if span is not None:
            span.attrs["hits"] = len(rows)
        self.checker.rows("lookup", rows, expected)
        if timed:
            self.ops.append(Op("lookup", dt * 1000.0))

    def scan(self, lake, expected_agg: tuple, timed=True):
        """Snapshot aggregate scan: count, sum(key_id), sum(qty), max(seq)."""
        from pyspark.sql import functions as F

        def fn():
            return lake.snapshot().agg(
                F.count("*"), F.sum("key_id"), F.sum("qty"), F.max("seq")
            ).collect()

        rows, dt, _ = self._timed("scan", fn)
        got = tuple(rows[0])
        if got == (0, None, None, None):  # an empty table sums to null
            got = (0, 0, 0, None)
        self.checker.value("scan", got, expected_agg)
        if timed:
            self.ops.append(Op("scan", dt * 1000.0))

    def read_pair(self, i: int, timed: bool = True) -> None:
        route = gen.ROUTES[i % len(gen.ROUTES)]
        lake = self.readers[route]
        live = list(self.replay.state[route])
        ids = self.rng.sample(live, min(LOOKUP_HITS, len(live)))
        ids += [self.stream.next_id[route] + j for j in range(LOOKUP_KEYS - len(ids))]
        self.lookup(lake, route, ids, self.replay.lookup(route, ids), timed)
        self.scan(lake, self.replay.aggregate(route), timed)

    def run(self) -> None:
        """Closed loop over the timed batches, each followed on MOR by the
        reader's lookup and scan."""
        for _ in range(self.timed_batches):
            self.sync_next()
            if self.mode == "mor":
                self.read_pair(self.next_batch)

    def verify(self) -> None:
        for route in gen.ROUTES:
            rows = arrow_rows(self._lake(self.table_path(route)).snapshot())
            self.checker.rows("final_snapshot", rows, self.replay.rows(route))

    def storage(self) -> tuple[int, int]:
        live_bytes = sum(f.bytes or 0 for r in gen.ROUTES
                         for f in self._lake(self.table_path(r)).log.live_files())
        return live_bytes, self.replay.live_rows()
