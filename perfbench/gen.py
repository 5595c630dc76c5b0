"""Seeded CDC envelope generator: plain Python, single process, no Spark.

Every workload's inputs are written as text files of JSON change
envelopes in the reference format (``databaseName``, ``tableName``,
``schema``, ``type``, ``timestamp``, ``rows``), one envelope per line, one
file per micro-batch, before any timing starts. The engine reads them with
``spark.read.text``, as the file-stream source does.

Ordering contract: ``seq`` is a global arrival counter and ``timestamp``
is a coarse function of it, so across batches ``timestamp`` never
decreases and within a batch equal timestamps are broken by ``seq`` (the
tables' dedup-order field). Last-write-wins order is therefore
(``timestamp``, ``seq``), which is what ``reference.Replay`` replays.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass

DBS = ("db1", "db2")
TABLES = ("t_user", "t_order")
ROUTES = tuple((db, t) for db in DBS for t in TABLES)
KEY_FIELD = "key_id"
ORDER_FIELD = "seq"
TS0 = 1_723_500_000
EVENTS_PER_TICK = 64  # events sharing one envelope timestamp
DELETE_FRAC = 1 / 7
NEW_KEY_FRAC = 0.1

# Row image: integer-valued payload so scan aggregates compare exactly.
ROW_FIELDS = (("seq", "long"), ("key_id", "long"), ("qty", "long"), ("tag", "string"))
ROW_SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": n, "type": t, "nullable": True, "metadata": {}}
            for n, t in ROW_FIELDS
        ],
    }
)
TAGS = tuple(f"tag-{i:02d}" for i in range(40))


@dataclass(frozen=True)
class Event:
    db: str
    table: str
    op: str  # "insert" | "update" | "delete"
    ts: int
    seq: int
    key_id: int
    qty: int
    tag: str

    def row(self) -> dict:
        return {"seq": self.seq, "key_id": self.key_id, "qty": self.qty, "tag": self.tag}


def record_key(db: str, table: str, key_id: int) -> str:
    """The engine's default (composite) record key for ``key_id``:
    md5 of ``{db}_{table}_{key_id}``."""
    return hashlib.md5(f"{db}_{table}_{key_id}".encode()).hexdigest()


class CdcStream:
    """Seeded change stream over ``ROUTES``.

    The first ``initial_keys`` ids of each table are inserted by
    :meth:`load_batch`; every later :meth:`next_batch` holds
    ``rows_per_batch`` change rows spread over the tables: about
    ``DELETE_FRAC`` deletes and ``NEW_KEY_FRAC`` inserts of fresh ids, the
    rest updates of ids drawn from the table's id range (an update of a
    deleted id re-inserts it, a delete of an absent id is a no-op).
    """

    def __init__(self, seed: int, initial_keys: int, rows_per_batch: int):
        self.rng = random.Random(seed)
        self.initial_keys = initial_keys
        self.rows_per_batch = rows_per_batch
        self.next_id = {r: 0 for r in ROUTES}
        self.seq = 0

    def _event(self, route, op: str, key_id: int) -> Event:
        self.seq += 1
        return Event(
            route[0], route[1], op, TS0 + self.seq // EVENTS_PER_TICK,
            self.seq, key_id, self.rng.randrange(1_000_000),
            self.rng.choice(TAGS),
        )

    def load_batch(self) -> list[Event]:
        out = []
        for route in ROUTES:
            for _ in range(self.initial_keys):
                out.append(self._event(route, "insert", self.next_id[route]))
                self.next_id[route] += 1
        return out

    def next_batch(self) -> list[Event]:
        rng = self.rng
        out = []
        for _ in range(self.rows_per_batch):
            route = ROUTES[rng.randrange(len(ROUTES))]
            u = rng.random()
            if u < NEW_KEY_FRAC:
                op, key_id = "insert", self.next_id[route]
                self.next_id[route] += 1
            else:
                op = "delete" if u < NEW_KEY_FRAC + DELETE_FRAC else "update"
                key_id = rng.randrange(self.next_id[route])
            out.append(self._event(route, op, key_id))
        return out


def envelopes(events: list[Event]) -> list[str]:
    """Group a batch's events into reference-format envelopes: one per
    (db, table, timestamp, type), rows in ``seq`` order."""
    groups: dict[tuple, list[Event]] = {}
    for e in events:
        groups.setdefault((e.db, e.table, e.ts, e.op), []).append(e)
    lines = []
    for (db, table, ts, op), evs in groups.items():
        lines.append(
            json.dumps(
                {
                    "databaseName": db,
                    "tableName": table,
                    "schema": ROW_SCHEMA_JSON,
                    "type": op,
                    "timestamp": ts,
                    "rows": [e.row() for e in evs],
                }
            )
        )
    return lines


def write_batch(path: str, events: list[Event]) -> str:
    """Write one micro-batch's envelopes to a directory read by
    ``spark.read.text``; returns the directory."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-00000.json"), "w") as fh:
        for line in envelopes(events):
            fh.write(line)
            fh.write("\n")
    return path

