"""Vectorized bloom build (r13 optimization) — bit-exactness vs the
scalar path.

The per-key ``add`` loop (md5 + num_hashes modular probes per key, pure
Python) runs on every file a commit writes (inside the write task,
``lake_table.emit_unit_files``). ``bulk_add`` vectorizes the
probe-position math and bit-sets in numpy; these tests pin that the
resulting filter is BYTE-identical to serial adds — the serde and every
stored manifest stay compatible by construction.
"""

import random
import string

import pytest

from hudi_spark_plus_spark.table.bloom import (
    KeyBloom,
    hash_key,
    hash_pairs,
    pairs_array,
)


def _rand_keys(n, seed):
    rng = random.Random(seed)
    return [
        "".join(rng.choices(string.printable, k=rng.randint(1, 40)))
        for _ in range(n)
    ]


@pytest.mark.parametrize("n,seed", [(1, 0), (7, 1), (100, 2), (5000, 3)])
def test_bulk_add_bit_identical_to_serial(n, seed):
    keys = _rand_keys(n, seed)
    serial = KeyBloom.sized(n)
    for k in keys:
        serial.add(k)
    bulk = KeyBloom.sized(n)
    bulk.bulk_add(keys)
    assert bytes(bulk.bits) == bytes(serial.bits)
    assert bulk.to_b64() == serial.to_b64()


def test_bulk_add_skips_none_and_handles_duplicates_and_unicode():
    keys = ["a", None, "a", "ключ-💡", "", None, "b" * 200]
    serial = KeyBloom.sized(5)
    for k in keys:
        if k is not None:
            serial.add(k)
    bulk = KeyBloom.sized(5)
    bulk.bulk_add(keys)
    assert bytes(bulk.bits) == bytes(serial.bits)


def test_bulk_add_empty_and_all_none_are_noops():
    bf = KeyBloom.sized(10)
    before = bytes(bf.bits)
    bf.bulk_add([])
    bf.bulk_add([None, None])
    assert bytes(bf.bits) == before


def test_tiny_bit_size_floor():
    # sized(1) hits the bit_size=8 floor with num_hashes ceil'd high —
    # the smallest geometry the vector math must still get exact.
    keys = _rand_keys(3, 7)
    serial = KeyBloom.sized(1)
    for k in keys:
        serial.add(k)
    bulk = KeyBloom.sized(1)
    bulk.bulk_add(keys)
    assert bytes(bulk.bits) == bytes(serial.bits)


def test_hash_pairs_matches_hash_key():
    keys = _rand_keys(200, 5)
    arr = hash_pairs(keys)
    assert arr.shape == (200, 2)
    for i, k in enumerate(keys):
        assert (int(arr[i, 0]), int(arr[i, 1])) == hash_key(k)


def test_vectorized_probe_matches_scalar_probe():
    members = _rand_keys(2000, 20)
    bf = KeyBloom.from_keys(members)
    rt = KeyBloom.from_b64(bf.to_b64())  # through serde, like real probes
    # all-member probe: must hit (no false negatives)
    assert rt.might_contain_any(hash_pairs(members))
    assert rt.might_contain_any(hash_pairs(members[:1]))
    # disjoint probe set: vector verdict == scalar verdict, pair by pair
    probes = _rand_keys(3000, 21)
    scalar = [rt.might_contain(k) for k in probes]
    arr = hash_pairs(probes)
    for i in range(0, 3000, 250):
        chunk = arr[i : i + 250]
        assert bool(rt.might_contain_any(chunk)) == any(
            scalar[i : i + 250]
        )
    # single-key agreement through pairs_array
    for k in probes[:50]:
        assert rt.might_contain_any(pairs_array([hash_key(k)])) == (
            rt.might_contain(k)
        )


def test_vectorized_probe_empty_is_false():
    bf = KeyBloom.from_keys(["a", "b"])
    assert bf.might_contain_any(hash_pairs([])) is False
    assert bf.might_contain_any(pairs_array([])) is False


def test_from_keys_roundtrip_probe_semantics():
    keys = _rand_keys(500, 11)
    bf = KeyBloom.from_keys(keys)
    rt = KeyBloom.from_b64(bf.to_b64())
    for k in keys:  # no false negatives, through serde
        assert rt.might_contain(k)
