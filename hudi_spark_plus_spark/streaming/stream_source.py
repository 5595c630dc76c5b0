"""``spark.readStream.format("lake-table")`` — streaming read of a
lake table's commit timeline (the Hudi incremental-streaming-read /
Delta ``readStream`` analogue), via PySpark 4's Python Data Source API.

Semantics: an APPEND LOG of record versions. Each micro-batch emits
exactly the rows whose ``_commit_ver`` falls in the batch's
(startOffset, endOffset] version range — the same record-level change
stream ``LakeTable.incremental`` (H7) computes, but as a genuine
Structured Streaming source whose offsets Spark checkpoints
(exactly-once across restarts with no engine-side bookkeeping).
Deletes surface as tombstone records (``_deleted = true``). When
several versions land in one micro-batch, each record surfaces once at
its final in-range state (record-level granularity, the ``incremental``
contract — this holds on merge-on-read tables too: delta-bearing file
groups are resolved latest-per-key in the worker before the range
filter, so a row that lost last-write-wins inside or outside the range
never leaks). A consumer that needs strict per-commit granularity sets
``engine.stream.max.versions.per.batch`` — enforced where it is safe,
in ``latestOffset`` (capping inside ``partitions()`` would silently
skip the capped-off versions: Spark checkpoints the UNCAPPED offset).
Use the cap with processingTime/continuous triggers: Python sources
do not implement Trigger.AvailableNow, so Spark falls back to
single-batch execution — a capped availableNow run would process ONE
capped batch and terminate with the backlog tail unread.
Downstream LWW is by (_ts, _commit_ver) — or feed ``foreachBatch``
into another ``LakeTable.merge``, which applies exactly that rule.

Execution model: offset discovery and partition planning run on the
DRIVER (plain filesystem reads of the commit log — no Spark jobs);
``read()`` runs in Python workers — one ``InputPartition`` per
changed-and-live data file (COW), or per resolution-unit file GROUP
when merge-on-read deltas are live — scanning with pyarrow and
filtering to the version range; rows never funnel through the driver.
The plan of (start, end] is ``merge_kernel.incremental_plan``, the one
``LakeTable.incremental`` and the batch reader use, and the slices and
their worker read (``plan_slices`` / ``read_slice``) are the batch
reader's (sources/lake_reader.py). Executors must reach the table path
(POSIX/NFS here; an object-store deployment swaps in a pyarrow
filesystem). Column mapping is honored: files store PHYSICAL names,
the stream yields the table's logical schema.

Operational constraint (the same one Hudi documents for its cleaner
vs incremental readers): vacuum must not reclaim versions the stream
has not processed — size ``keep_last`` to consumer lag, or savepoint
the stream's floor.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import DataSourceStreamReader

from hudi_spark_plus_spark.sources.lake_reader import (
    _Slice,
    plan_slices,
    read_slice,
    version_at_or_before,
)
from hudi_spark_plus_spark.table.merge_kernel import (
    active_fields,
    incremental_plan,
)

START_VERSION_OPT = "engine.stream.start.version"
# Hudi-parity instant start: newest version at or before the epoch-ms
# instant becomes the stream's floor (versions after it stream).
# The version option wins when both are given.
START_TS_OPT = "engine.stream.start.ts.millis"
# start the stream at a named savepoint's pinned version (versions
# AFTER the pin stream) — the savepoint is exactly the "pin the
# stream's floor" artifact the vacuum-lag note below prescribes, so a
# consumer can pin, stream from the pin, and know vacuum cannot
# reclaim its start state. Version > savepoint > ts precedence.
START_SAVEPOINT_OPT = "engine.stream.start.savepoint"
MAX_VERSIONS_OPT = "engine.stream.max.versions.per.batch"
# Directory for an append-only JSONL of every driver-side call
# (initialOffset / latestOffset / partitions / commit) with the floor
# state — the observability the r8 restart-stall postmortem asked for.
# An OPTION (not only env) because the offset runner process inherits
# the JVM's environment frozen at JVM start, so env set by a test
# after session creation never reaches it; options always flow.
DEBUG_DIR_OPT = "engine.stream.debug.dir"


class LakeStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError(
                "lake-table source requires .option('path', <table dir>) "
                "or .load(<table dir>)"
            )
        from hudi_spark_plus_spark.table.commit_log import CommitLog

        self.table_path = path
        self.log = CommitLog(path)
        if START_VERSION_OPT in options:
            self.start_version = int(options.get(START_VERSION_OPT))
        elif START_SAVEPOINT_OPT in options:
            import json as _json

            sp = options.get(START_SAVEPOINT_OPT)
            if not sp or not all(c.isalnum() or c in "._-" for c in sp):
                raise ValueError(
                    f"savepoint name {sp!r} must be non-empty and use "
                    "only letters, digits, '.', '_', '-'"
                )
            p = os.path.join(path, "_savepoints", f"{sp}.json")
            try:
                with open(p) as fh:
                    self.start_version = int(_json.load(fh)["version"])
            except FileNotFoundError:
                raise ValueError(
                    f"no savepoint {sp!r} on table at {path}"
                ) from None
        elif START_TS_OPT in options:
            self.start_version = version_at_or_before(
                self.log, int(options.get(START_TS_OPT))
            )
        else:
            self.start_version = 0
        mv = options.get(MAX_VERSIONS_OPT)
        self.max_versions = int(mv) if mv else None
        # floor for the per-batch version cap: the newest offset this
        # reader has exchanged with Spark. latestOffset() is the only
        # place a cap is sound (Spark checkpoints whatever it returns;
        # capping in partitions() would skip versions forever), and the
        # engine calls it BEFORE initialOffset() on a fresh start — so
        # a floor of None there means FRESH START and the floor is
        # start_version. That inference is safe because on a RESTART
        # the engine always calls partitions() of the last offset-log
        # batch before polling latestOffset — the same engine contract
        # PySpark's own _SimpleStreamReaderWrapper depends on
        # (pyspark/sql/datasource_internal.py:139-141: "This depends on
        # the streaming engine calling planInputPartitions() of the
        # last batch in offset log when query restart") — which
        # restores the checkpointed floor first. partitions() and
        # commit() both ratchet the floor, and latestOffset() never
        # returns below it: an offset behind Spark's checkpoint makes
        # the engine replay the gap (measured — duplicates), so the
        # floor is a monotonic lower bound, never a guess.
        self._floor: int | None = None
        # set ONLY by witnessing partitions(start > end) — the one call
        # shape that proves a REGRESSED offset (a capped first poll
        # below Spark's checkpoint); ordinary replays have start <= end
        self._regress_floor = 0
        # Pin-state self-heal bookkeeping (r8 postmortem). The capped
        # tip can pin forever in exactly one state: the floor lags
        # Spark's committed offset by the cap or less, so latestOffset
        # returns a value Spark has ALREADY committed, Spark judges
        # latest == committed, never plans a batch, and nothing ever
        # ratchets the floor again. The engine's trigger loop is
        # single-threaded (poll -> plan -> execute -> commit -> poll),
        # so two consecutive latestOffset polls with NO intervening
        # partitions()/commit() prove the engine saw the previous
        # return value and judged it fully committed — every version
        # at or below it was delivered (pre-restart), and ratcheting
        # the floor to it can never skip data. Armed only after the
        # first partitions() call so the documented fresh-start
        # poll -> initialOffset -> poll sequence (no batch planned yet)
        # can never trip it and widen the first capped batch.
        self._armed = False
        self._last_poll: int | None = None
        self._ratcheted_since_poll = True
        self._debug_dir = options.get(DEBUG_DIR_OPT) or os.environ.get(
            "HSP_STREAM_DEBUG_DIR"
        )
        latest = self.log.latest()
        if latest is None or not latest.schema_json:
            raise ValueError(
                f"lake table at {path} has no commits; create it before "
                "streaming from it"
            )
        self.fields = active_fields(latest.schema_json)
        self.global_index = bool(latest.global_index)
        self.bootstrap_spec = latest.bootstrap_spec

    # -- offsets (driver-side) ----------------------------------------------

    def _dbg(self, event: str, **kv) -> None:
        if not self._debug_dir:
            return
        import json

        rec = {
            "event": event,
            "floor": self._floor,
            "regress": self._regress_floor,
            "armed": self._armed,
            "last_poll": self._last_poll,
            **kv,
        }
        try:
            path = os.path.join(
                self._debug_dir, "lake_stream_transitions.jsonl"
            )
            with open(path, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
        except OSError:
            pass  # observability must never fail the stream

    def initialOffset(self) -> dict:
        # RATCHET, never assign: the engine contractually calls this
        # only at fresh start (no checkpoint), but if any engine path
        # ever called it after partitions() restored a checkpointed
        # floor, assignment would throw the floor back to
        # start_version — landing in the pin state above (capped polls
        # forever below Spark's committed offset). Ratcheting makes the
        # call order irrelevant.
        self._floor = max(self._floor or 0, self.start_version)
        self._dbg("initialOffset", returned=self.start_version)
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        if self._floor is None:
            # First poll of a FRESH stream (the engine polls before it
            # asks for initialOffset; a restart would have re-planned
            # the last offset-log batch first, setting the floor — see
            # __init__ note). Cap from the configured start.
            self._floor = self.start_version
        healed = None
        if (
            self.max_versions is not None
            and self._armed
            and not self._ratcheted_since_poll
            and self._last_poll is not None
            and self._last_poll > self._floor
        ):
            # Pin-state self-heal (see __init__): the previous poll's
            # value came back unplanned and uncommitted-to-us, which in
            # the single-threaded trigger loop means Spark's committed
            # offset already covers it. Versions <= it were delivered
            # before the restart; adopting it as the floor lets the
            # capped tip move past the checkpoint instead of pinning.
            healed = self._last_poll
            self._floor = self._last_poll
        self.log.invalidate()  # other writers publish out-of-band
        vs = self.log.versions()
        tip = vs[-1] if vs else self.start_version
        tip = max(tip, self.start_version)
        if self.max_versions is not None:
            tip = min(tip, self._floor + self.max_versions)
        ret = max(tip, self._floor)
        self._last_poll = ret
        self._ratcheted_since_poll = False
        self._dbg("latestOffset", returned=ret, tip=tip, healed=healed)
        return {"version": ret}

    def partitions(self, start: dict, end: dict):
        b, e = int(start["version"]), int(end["version"])
        # b ratchets too: on restart the engine re-plans the last
        # offset-log batch (possibly with start == end, and possibly a
        # trailing no-data entry BEFORE the real uncommitted replay —
        # so replay ranges below the floor are NORMAL and must plan
        # fully) before any latestOffset poll — probe-verified on
        # Spark 4.1 for both the uncommitted-replay and the
        # fully-committed quiescent restart; this restores the cap
        # floor from the checkpoint.
        #
        # Defense in depth for engine drift: if a future engine version
        # polled latestOffset FIRST after a committed restart, the
        # capped first poll would sit below the checkpoint and Spark
        # would plan start > end — a call shape nothing else produces
        # (replay starts come from delivered batch ends, so start <=
        # end always). Witnessing it proves versions <= start were
        # already delivered: remember that bound and clamp later
        # batches to it, so the regression wobbles offsets but never
        # re-delivers — and, because the clamp keys on the b>e
        # evidence alone, genuine replays (start <= end) are never
        # eviscerated.
        self._floor = max(self._floor or 0, b, e)
        self._armed = True
        self._ratcheted_since_poll = True
        self._dbg("partitions", start=b, end=e)
        if e < b:
            self._regress_floor = max(self._regress_floor, b)
            return []
        lo = max(b, self._regress_floor)
        if e <= lo:
            return []
        files, groups = incremental_plan(self.log, lo, e, self.global_index)
        return plan_slices(files, groups, lo, e)

    def commit(self, end: dict) -> None:
        # Spark's checkpoint holds the offset; engine-side we only
        # ratchet the cap floor (restart defense in depth: the engine
        # re-commits the last batch on recovery before new polls).
        self._floor = max(self._floor or 0, int(end["version"]))
        self._ratcheted_since_poll = True
        self._dbg("commit", end=int(end["version"]))

    # -- data (worker-side) -------------------------------------------------

    def read(self, partition: _Slice):
        yield from read_slice(
            partition, self.table_path, self.fields, self.bootstrap_spec
        ).to_batches()


def register(spark) -> None:
    """Make ``format('lake-table')`` resolvable in this session (batch
    and streaming sides both — one DataSource class serves the two)."""
    from hudi_spark_plus_spark.sources import lake_reader

    lake_reader.register(spark)
