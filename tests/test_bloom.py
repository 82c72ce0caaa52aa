"""Bloom shard property tests (SURVEY.md §5.4)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from politics_crawler_spark.plans.bloom import BloomShard

i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@settings(max_examples=50, deadline=None)
@given(st.lists(i64, max_size=500))
def test_no_false_negatives(keys):
    shard = BloomShard.sized_for(1000, 0.01)
    arr = np.array(keys, dtype=np.int64)
    shard.add(arr)
    assert shard.contains(arr).all()


def test_fpr_bound():
    rng = np.random.default_rng(7)
    n = 20_000
    shard = BloomShard.sized_for(n, 0.01)
    inserted = rng.integers(-(2**62), 2**62, size=n, dtype=np.int64)
    shard.add(inserted)
    probe = rng.integers(-(2**62), 2**62, size=n, dtype=np.int64)
    fresh = probe[~np.isin(probe, inserted)]
    fpr = shard.contains(fresh).mean()
    assert fpr < 0.03  # 3× margin over the 1% design point


def test_serialization_round_trip():
    shard = BloomShard.sized_for(100, 0.01)
    keys = np.array([1, -5, 2**40, -(2**55)], dtype=np.int64)
    shard.add(keys)
    back = BloomShard.from_bytes(shard.to_bytes())
    assert back.n_bits == shard.n_bits and back.k == shard.k
    assert back.n_keys == shard.n_keys
    assert back.contains(keys).all()
    assert bytes(back.bits) == bytes(shard.bits)


def test_empty_probe():
    shard = BloomShard.sized_for(10, 0.01)
    assert shard.contains(np.array([], dtype=np.int64)).shape == (0,)
