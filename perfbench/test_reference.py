"""Tests of the benchmark's generator and reference checker (no Spark).

    python3 -m pytest perfbench/test_reference.py -q
"""

from __future__ import annotations

import json

from gen import ROUTES, CdcStream, envelopes
from reference import Checker, Replay


def _stream_replay(seed=1):
    s = CdcStream(seed, initial_keys=50, rows_per_batch=200)
    batches = [s.load_batch()] + [s.next_batch() for _ in range(5)]
    r = Replay()
    for b in batches:
        r.apply(b)
    return s, batches, r


def test_same_seed_same_inputs():
    a = [envelopes(b) for b in _stream_replay(7)[1]]
    b = [envelopes(b) for b in _stream_replay(7)[1]]
    c = [envelopes(b) for b in _stream_replay(8)[1]]
    assert a == b
    assert a != c


def test_envelopes_carry_every_event_in_reference_format():
    _, batches, _ = _stream_replay()
    for batch in batches:
        seen = []
        for line in envelopes(batch):
            env = json.loads(line)
            assert set(env) == {"databaseName", "tableName", "schema", "type", "timestamp", "rows"}
            assert (env["databaseName"], env["tableName"]) in ROUTES
            seen += [(env["timestamp"], row["seq"]) for row in env["rows"]]
        assert sorted(seen) == sorted((e.ts, e.seq) for e in batch)
    # timestamps never decrease across batches
    for prev, nxt in zip(batches, batches[1:]):
        assert max(e.ts for e in prev) <= min(e.ts for e in nxt)


def test_replay_is_last_write_wins_with_deletes():
    _, batches, r = _stream_replay()
    for route in ROUTES:
        last: dict[int, object] = {}
        for b in batches:
            for e in sorted(b, key=lambda e: (e.ts, e.seq)):
                if (e.db, e.table) == route:
                    last[e.key_id] = e
        live = {k: e for k, e in last.items() if e.op != "delete"}
        assert r.state[route] == live
    assert any(e.op == "delete" for b in batches for e in b)


def test_planted_wrong_row_is_caught():
    _, _, r = _stream_replay()
    route = ROUTES[0]
    expected = r.rows(route)
    engine_rows = list(expected.elements())[::-1]  # order must not matter

    ok = Checker()
    ok.rows("final_snapshot", engine_rows, expected)
    assert ok.correct and ok.attempted == 1

    planted = expected.copy()
    row = next(iter(planted))
    planted[row] -= 1
    planted[(row[0], row[1], row[2] + 1, row[3])] += 1
    bad = Checker()
    bad.rows("final_snapshot", engine_rows, +planted)
    assert not bad.correct
    assert (bad.attempted, bad.failed) == (1, 1)
    assert "final_snapshot" in bad.mismatches[0]


def test_skipped_status_and_wrong_aggregate_count_as_failed():
    c = Checker()
    tables = [f"{db}.{t}" for db, t in ROUTES]
    c.status("sync_batch", dict.fromkeys(tables, "ok"), tables)
    c.status("sync_batch", {**dict.fromkeys(tables, "ok"), tables[0]: "skipped: boom"}, tables)
    c.value("scan", (3, 6, 9, 4), (3, 6, 9, 4))
    c.value("scan", (3, 6, 9, 4), (3, 6, 8, 4))
    assert (c.attempted, c.failed) == (4, 2)
