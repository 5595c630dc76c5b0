"""Independent reference for the benchmark's results: a pure-Python
last-write-wins replay of the generator's own events.

Nothing here imports the engine or Spark. Events are applied in
(``timestamp``, ``seq``) order; a delete removes the key, any other
operation stores the full row image. Every comparison is
order-insensitive (multisets of row tuples, or exact integer
aggregates).
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable

from gen import ROUTES, Event

# Columns every comparison reads, in this order.
ROW_COLS = ("key_id", "seq", "qty", "tag")


def row_tuple(e: Event) -> tuple:
    return (e.key_id, e.seq, e.qty, e.tag)


class Replay:
    """Per-table LWW state: ``state[(db, table)][key_id] -> Event``."""

    def __init__(self):
        self.state: dict[tuple[str, str], dict[int, Event]] = {r: {} for r in ROUTES}
        self.last = (-1, -1)

    def apply(self, events: Iterable[Event]) -> None:
        for e in sorted(events, key=lambda e: (e.ts, e.seq)):
            if (e.ts, e.seq) < self.last:
                raise ValueError("events out of (timestamp, seq) order across batches")
            self.last = (e.ts, e.seq)
            table = self.state[(e.db, e.table)]
            if e.op == "delete":
                table.pop(e.key_id, None)
            else:
                table[e.key_id] = e

    def rows(self, route) -> Counter:
        return Counter(row_tuple(e) for e in self.state[route].values())

    def lookup(self, route, key_ids: Iterable[int]) -> Counter:
        t = self.state[route]
        return Counter(row_tuple(t[k]) for k in key_ids if k in t)

    def aggregate(self, route) -> tuple:
        return aggregate_rows(self.state[route].values())

    def live_rows(self) -> int:
        return sum(len(t) for t in self.state.values())


def aggregate_rows(events: Iterable[Event]) -> tuple:
    """(count, sum key_id, sum qty, max seq) — the scan ops' result."""
    n = sk = sq = 0
    mx = None
    for e in events:
        n += 1
        sk += e.key_id
        sq += e.qty
        mx = e.seq if mx is None else max(mx, e.seq)
    return (n, sk, sq, mx)


class Checker:
    """Counts operations and the ones that failed: raised, returned a
    ``skipped:`` status, or returned a result other than the replay's."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []

    def _record(self, ok: bool, what: str, detail) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.mismatches) < 5:
                detail = detail() if callable(detail) else detail
                self.mismatches.append(f"{what}: {detail}"[:400])

    def rows(self, what: str, got: Iterable[tuple], expected: Counter) -> None:
        got = Counter(tuple(r) for r in got)
        self._record(got == expected, what,
                     lambda: f"missing {list((expected - got).items())[:3]} "
                             f"unexpected {list((got - expected).items())[:3]}")

    def value(self, what: str, got, expected) -> None:
        self._record(got == expected, what, f"got {got!r} expected {expected!r}")

    def status(self, what: str, status: dict, tables: list[str]) -> None:
        ok = all(status.get(t) == "ok" for t in tables)
        self._record(ok, what, status)

    def error(self, what: str, ex: BaseException) -> None:
        self._record(False, what, repr(ex))

    @property
    def correct(self) -> bool:
        return self.failed == 0
