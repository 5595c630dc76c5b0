"""Hypothesis property test: LakeTable merge == dict replay under
arbitrary generated upsert/delete schedules (SURVEY §5.2.3, deepening the
seeded replay test with shrinkable generated cases).

Spark jobs per example are expensive, so examples are few and small —
hypothesis still explores tie-heavy and delete-heavy corners and shrinks
failures to minimal schedules.
"""

import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAS_HYPOTHESIS = False

from hudi_spark_plus_spark.table.lake_table import LakeTable

pytestmark = pytest.mark.skipif(
    not HAS_HYPOTHESIS, reason="hypothesis not installed"
)

event = st.tuples(
    st.integers(min_value=0, max_value=5),   # key
    st.integers(min_value=0, max_value=3),   # ts (coarse -> many ties)
    st.booleans(),                           # is_delete
)
schedule = st.lists(event, min_size=1, max_size=12)
boundaries = st.lists(st.booleans(), min_size=12, max_size=12)


# per-batch write mode: drawn per example so schedules mix COW and MOR
# merges on ONE table (the modes share the LWW contract by design)
modes = st.lists(
    st.sampled_from(["cow", "mor"]), min_size=12, max_size=12
)


def _replay(spark, work, events, cut, batch_modes):
    """Drive a LakeTable through the generated schedule; return the set
    of live keys and the dict-model expectation."""
    best = {}
    for seq, (k, ts, is_del) in enumerate(events):
        if k not in best or (ts, seq) >= best[k][:2]:
            best[k] = (ts, seq, is_del)
    expect = {k for k, v in best.items() if not v[2]}

    # split into arrival-ordered batches at generated boundaries
    batches, cur = [], []
    for seq, e in enumerate(events):
        cur.append((seq, e))
        if cut[seq % len(cut)]:
            batches.append(cur)
            cur = []
    if cur:
        batches.append(cur)

    lake = LakeTable(spark, str(work / "t"), buckets=2)
    for i, batch in enumerate(batches):
        # within-batch LWW dedup by (ts, seq) — one survivor per key
        surv = {}
        for seq, (k, ts, is_del) in batch:
            if k not in surv or (ts, seq) >= surv[k][:2]:
                surv[k] = (ts, seq, is_del)
        rows = [
            (str(k), ts, "delete" if is_del else "upsert", f"v{seq}")
            for k, (ts, seq, is_del) in surv.items()
        ]
        lake.merge(
            spark.createDataFrame(
                rows, "_key string, _ts long, _op string, val string"
            ),
            batch_id=f"b{i}",
            mode=batch_modes[i % len(batch_modes)],
        )
    got = {int(r["_key"]) for r in lake.snapshot().collect()}
    return got, expect


@given(events=schedule, cut=boundaries)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_merge_matches_dict_replay(spark, tmp_path_factory, events, cut):
    # oracle: winner per key = max (ts, seq); deleted keys absent
    work = tmp_path_factory.mktemp("prop")
    got, expect = _replay(spark, work, events, cut, ["cow"] * 12)
    assert got == expect


@given(events=schedule, cut=boundaries, batch_modes=modes)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_mixed_mode_merge_matches_dict_replay(
    spark, tmp_path_factory, events, cut, batch_modes
):
    """The SAME schedule through a generated interleaving of COW and MOR
    batches must land on the dict-model state: delta resolution, mixed
    buckets, and whole-bucket consumption all under generated ties and
    delete storms."""
    work = tmp_path_factory.mktemp("prop_mixed")
    got, expect = _replay(spark, work, events, cut, batch_modes)
    assert got == expect


def _replay_partitioned(spark, work, events, cut, batch_modes):
    """Partitioned variant: record identity is (partition, key). The
    generated key space maps to partitions by key % 2 — stable per key
    like a real CDC source — and the dict model keys on (part, key)."""
    part_of = lambda k: f"p{k % 2}"
    best = {}
    for seq, (k, ts, is_del) in enumerate(events):
        ident = (part_of(k), k)
        if ident not in best or (ts, seq) >= best[ident][:2]:
            best[ident] = (ts, seq, is_del)
    expect = {i for i, v in best.items() if not v[2]}

    batches, cur = [], []
    for seq, e in enumerate(events):
        cur.append((seq, e))
        if cut[seq % len(cut)]:
            batches.append(cur)
            cur = []
    if cur:
        batches.append(cur)

    lake = LakeTable(
        spark, str(work / "t"), buckets=2, partition_fields=["d"]
    )
    for i, batch in enumerate(batches):
        surv = {}
        for seq, (k, ts, is_del) in batch:
            if k not in surv or (ts, seq) >= surv[k][:2]:
                surv[k] = (ts, seq, is_del)
        rows = [
            (str(k), ts, "delete" if is_del else "upsert",
             part_of(k), f"v{seq}")
            for k, (ts, seq, is_del) in surv.items()
        ]
        lake.merge(
            spark.createDataFrame(
                rows,
                "_key string, _ts long, _op string, d string, val string",
            ),
            batch_id=f"b{i}",
            mode=batch_modes[i % len(batch_modes)],
        )
    got = {
        (r["d"], int(r["_key"])) for r in lake.snapshot().collect()
    }
    return got, expect


@given(events=schedule, cut=boundaries, batch_modes=modes)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_partitioned_merge_matches_dict_replay(
    spark, tmp_path_factory, events, cut, batch_modes
):
    """Partition-path tables under generated schedules (mixed COW/MOR
    batches): (partition, key) identity must land on the dict-model
    state — partitioned writers, per-unit COW pruning, partition-scoped
    MOR resolution, and tombstones all under generated ties and delete
    storms."""
    work = tmp_path_factory.mktemp("prop_part")
    got, expect = _replay_partitioned(spark, work, events, cut, batch_modes)
    assert got == expect


if HAS_HYPOTHESIS:
    edge_lists = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),
            st.integers(min_value=0, max_value=60),
        ),
        min_size=0,
        max_size=80,
    )


@pytest.mark.skipif(not HAS_HYPOTHESIS, reason="hypothesis not installed")
@given(edges=edge_lists)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_connected_components_matches_union_find(spark, edges):
    """Distributed label propagation must agree with a driver-side
    union-find on generated graphs (self-loops, duplicate and reversed
    edges, disconnected singletons all fair game)."""
    from hudi_spark_plus_spark.functions.clustering import (
        connected_components,
    )

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    parent = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for e in edges for n in e}
    expect = {n: find(n) for n in nodes}
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(
            spark.createDataFrame(edges, "id_a long, id_b long"), max_iter=40
        ).collect()
    }
    assert got == expect
