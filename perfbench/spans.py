"""Span tracing for the benchmark's traced run, installed from outside the
engine.

Operation spans (``sync_batch``, ``lookup``, ``scan``) are
opened by the workload around its calls into the engine; ``sync_batch``'s
span is the one around the public ``sync_batch`` call. ``Tracer.install``
wraps the public functions below it (``LakeTable.merge``/``snapshot``/
``scan_for_keys``, ``CommitLog.commit``/``live_files``,
``KeyBloom.bulk_add``/``might_contain_any``, ``maintenance.maybe_compact``)
so that every call records a span: name, start, end, parent and a few
counts read from the call's arguments and result. Spans stay in memory;
``dump`` writes them out once the run ends.

Spark work below a span is read from outside the engine: the job-id
counter of the DAG scheduler and, after the listener bus drains, the
executor totals of the status store (tasks, task ms, input and shuffle
bytes). These counters are process-wide, so they are read only around
operation spans, which never overlap: ``sync_batch`` runs its per-table
merges concurrently on a thread pool, and a counter delta taken around
one merge would include its siblings' work.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from contextlib import contextmanager

OP_SPANS = ("sync_batch", "lookup", "scan")
READ_OPS = ("lookup", "scan")
READ_SPANS = ("snapshot", "scan_for_keys")
COUNTERS = ("jobs", "tasks", "task_ms", "input_bytes", "shuffle_bytes")


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "attrs")

    def __init__(self, sid: int, name: str, parent: int | None):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.start = time.perf_counter()
        self.end: float | None = None
        self.attrs: dict = {}

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    def to_json(self) -> dict:
        return {"id": self.sid, "name": self.name, "parent": self.parent,
                "start": self.start, "end": self.end, **self.attrs}


class SparkCounters:
    """Process-wide Spark counters, read through the JVM gateway."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()

    def read(self) -> dict:
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = self._dag.nextJobId()
        ex = self._store.executorList(True)
        for i in range(ex.size()):
            e = ex.apply(i)
            out["tasks"] += e.totalTasks()
            out["task_ms"] += e.totalDuration()
            out["input_bytes"] += e.totalInputBytes()
            out["shuffle_bytes"] += e.totalShuffleRead() + e.totalShuffleWrite()
        return out


class Tracer:
    def __init__(self, spark):
        self.counters = SparkCounters(spark)
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: Span | None = None  # the open operation span
        self._patched: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0  # bookkeeping time spent by the tracer

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str) -> Span:
        st = self._stack()
        # a pool thread's first span hangs under the open operation
        parent = st[-1] if st else self._op
        with self._lock:
            s = Span(len(self.spans), name, parent.sid if parent else None)
            self.spans.append(s)
        st.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack().pop()

    @contextmanager
    def op(self, name: str):
        """An operation span: one closed-loop client call, with Spark
        counter deltas. Operations never overlap."""
        t = time.perf_counter()
        before = self.counters.read()
        self.overhead_s += time.perf_counter() - t
        s = self._open(name)
        self._op = s
        try:
            yield s
        finally:
            self._close(s)
            self._op = None
            t = time.perf_counter()
            after = self.counters.read()
            for k in COUNTERS:
                s.attrs[k] = after[k] - before[k]
            self.overhead_s += time.perf_counter() - t

    # -- wrappers ----------------------------------------------------------

    def _wrap(self, owner, attr: str, name: str, after=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            s = tracer._open(name)
            try:
                result = orig(*args, **kwargs)
            except BaseException as ex:
                s.attrs["error"] = type(ex).__name__
                tracer._close(s)
                raise
            tracer._close(s)
            if after is not None:
                t = time.perf_counter()
                after(s, args, kwargs, result)
                tracer.overhead_s += time.perf_counter() - t
            return result

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def install(self) -> None:
        from hudi_spark_plus_spark.table import maintenance
        from hudi_spark_plus_spark.table.bloom import KeyBloom
        from hudi_spark_plus_spark.table.commit_log import CommitLog
        from hudi_spark_plus_spark.table.lake_table import LakeTable

        live_files = CommitLog.live_files

        def on_commit(s, args, kwargs, c):
            log = args[0]
            files = args[2] if len(args) > 2 else kwargs["files"]
            prev = {f.path for f in live_files(log, c.version - 1)} if c.version > 1 else set()
            added = [f for f in files if f.path not in prev]
            s.attrs.update(version=c.version, files_added=len(added),
                           bytes_added=sum(f.bytes or 0 for f in added))

        def on_read(s, args, kwargs, df):
            if self._op is None or self._op.name not in READ_OPS:
                return  # reads inside a merge or compaction
            lake = args[0]
            entries = {lake.log.abs_path(f.path): f for f in live_files(lake.log)}
            files = [entries.get(_local_path(p)) for p in df.inputFiles()]
            s.attrs.update(
                read_files=len(files),
                read_delta_files=sum(1 for f in files if f is not None and f.kind == "delta"),
                rows_in_files=sum(f.rows for f in files if f is not None),
            )

        def on_probe(s, args, kwargs, hit):
            s.attrs["pruned"] = 0 if hit else 1

        def on_compact(s, args, kwargs, res):
            s.attrs.update(buckets_compacted=res.get("buckets_compacted", 0),
                           files_rewritten=res.get("files_before", 0))

        self._wrap(LakeTable, "merge", "merge")
        self._wrap(LakeTable, "snapshot", "snapshot", on_read)
        self._wrap(LakeTable, "scan_for_keys", "scan_for_keys", on_read)
        self._wrap(CommitLog, "commit", "commit", on_commit)
        self._wrap(CommitLog, "live_files", "live_files")
        self._wrap(KeyBloom, "bulk_add", "bloom.bulk_add")
        self._wrap(KeyBloom, "might_contain_any", "bloom.probe", on_probe)
        self._wrap(maintenance, "maybe_compact", "maybe_compact", on_compact)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.to_json() for s in self.spans], fh)


def _local_path(uri: str) -> str:
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(uri).path) if uri.startswith("file:") else uri


# -- reporter ----------------------------------------------------------------


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(spans: list[Span], change_rows: int, overhead_s: float) -> dict:
    """Per-layer metrics of one traced run.

    Times and counts are medians per operation of the kind the layer
    serves: write-side layers over ``sync_batch`` operations (compaction
    over the batches that compacted), read-side layers over read
    operations and bloom probes over lookups. ``commit_log.commits``,
    ``.conflicts``, ``.versions`` and the ``maintenance`` counts are run
    totals. A ratio's base is its own metric (``bloom.files_probed``
    for ``bloom.files_pruned_frac``). A layer's self time is its span
    minus the union of its child spans."""
    by_id = {s.sid: s for s in spans}
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def op_of(s: Span) -> Span:
        while s.parent is not None:
            s = by_id[s.parent]
        return s

    def under(s: Span, name: str) -> bool:
        while s.parent is not None:
            s = by_id[s.parent]
            if s.name == name:
                return True
        return False

    ops = [s for s in spans if s.parent is None and s.name in OP_SPANS]
    syncs = [s for s in ops if s.name == "sync_batch"]
    reads = [s for s in ops if s.name in READ_OPS]
    per_op: dict[int, dict] = {s.sid: {} for s in ops}

    def add(s: Span, key: str, v: float) -> None:
        d = per_op.setdefault(op_of(s).sid, {})
        d[key] = d.get(key, 0.0) + v

    commits = [s for s in spans if s.name == "commit" and s.end is not None]
    probes = [s for s in spans if s.name == "bloom.probe"]
    compacts = [s for s in spans if s.name == "maybe_compact"]
    merge_bytes = 0
    for s in spans:
        if s.name == "merge":
            add(s, "merge_ms", s.ms)
            d = per_op[op_of(s).sid]
            d["merge_max_ms"] = max(d.get("merge_max_ms", 0.0), s.ms)
        elif s.name == "live_files":
            add(s, "live_files_ms", s.ms)
        elif s.name == "bloom.bulk_add":
            add(s, "bloom_build_ms", s.ms)
        elif s.name == "bloom.probe":
            add(s, "bloom_probe_ms", s.ms)
            add(s, "bloom_probed", 1)
        elif s.name == "commit" and under(s, "merge"):
            add(s, "files_added", s.attrs.get("files_added", 0))
            merge_bytes += s.attrs.get("bytes_added", 0)
        elif s.name == "maybe_compact":
            add(s, "compact_ms", s.ms)
            add(s, "compacted", s.attrs.get("buckets_compacted", 0))
        elif s.name in READ_SPANS and op_of(s).name in READ_OPS:
            for k in ("read_files", "read_delta_files", "rows_in_files"):
                add(s, k, s.attrs.get(k, 0))

    def med(group: list[Span], key: str) -> float:
        return _median(per_op[s.sid].get(key, 0.0) for s in group)

    def self_ms(s: Span) -> float:
        kids = children.get(s.sid, [])
        return s.ms - _union_ms([(k.start, k.end) for k in kids if k.end is not None])

    compacting = [s for s in syncs if per_op[s.sid].get("compacted", 0) > 0]
    lookups = [s for s in reads if s.name == "lookup"]
    hits = sum(s.attrs.get("hits", 0) for s in lookups)
    scanned = sum(per_op[s.sid].get("rows_in_files", 0) for s in lookups)
    lookup_ids = {s.sid for s in lookups}
    lookup_probes = [s for s in probes if op_of(s).sid in lookup_ids]
    probed = len(lookup_probes)
    pruned = sum(s.attrs.get("pruned", 0) for s in lookup_probes)
    return {
        "sync.spark_jobs": _median(s.attrs["jobs"] for s in syncs),
        "sync.self_ms": _median(self_ms(s) for s in syncs),
        "sync.task_ms": _median(s.attrs["task_ms"] for s in syncs),
        "sync.shuffle_bytes": _median(s.attrs["shuffle_bytes"] for s in syncs),
        "lake_table.merge_ms": med(syncs, "merge_ms"),
        "lake_table.merge_max_ms": med(syncs, "merge_max_ms"),
        "lake_table.files_added": med(syncs, "files_added"),
        "lake_table.bytes_written_per_row": merge_bytes / change_rows if change_rows else 0.0,
        "commit_log.commit_ms": _median(s.ms for s in commits),
        "commit_log.commits": float(len(commits)),
        "commit_log.conflicts": float(sum(1 for s in commits if s.attrs.get("error") == "CommitConflict")),
        "commit_log.live_files_ms": med(ops, "live_files_ms"),
        "commit_log.versions": float(max((s.attrs.get("version", 0) for s in commits), default=0)),
        "bloom.build_ms": med(syncs, "bloom_build_ms"),
        "bloom.probe_ms": med(lookups, "bloom_probe_ms"),
        "bloom.files_probed": med(lookups, "bloom_probed"),
        "bloom.files_pruned_frac": pruned / probed if probed else 0.0,
        "maintenance.compact_ms": med(compacting, "compact_ms"),
        "maintenance.compactions": float(sum(s.attrs.get("buckets_compacted", 0) for s in compacts)),
        "maintenance.files_rewritten": float(sum(s.attrs.get("files_rewritten", 0) for s in compacts)),
        "lake_table.read_files": med(reads, "read_files"),
        "lake_table.read_delta_files": med(reads, "read_delta_files"),
        "lake_table.rows_scanned_per_hit": scanned / hits if hits else 0.0,
        "lake_table.read_spark_jobs": _median(s.attrs["jobs"] for s in reads),
        "lake_table.read_task_ms": _median(s.attrs["task_ms"] for s in reads),
        "trace.overhead_ms": overhead_s * 1000.0 / len(ops) if ops else 0.0,
        "trace.sync_p50_ms": _median(s.ms for s in syncs),
    }
