"""Bloom filter invariants: no false negatives, bounded FPR, merge,
sizing; plus the shared sharded-filter contract (tests/sharded_contract.py)
run against ``ShardedBloom``, where every equivalence is bit for bit."""

from __future__ import annotations

import numpy as np
import pytest

from tests.sharded_contract import (  # noqa: F401 (collected here)
    Backend,
    test_distributed_build_matches_local,
    test_incremental_distributed_fold_matches_rebuild,
    test_prefilter_split_is_exact_partition,
    test_sharded_membership_equals_monolith,
    test_sharded_negative_keys_route_consistently,
)
from whakoom_webscrapper_spark.operators import bloom
from whakoom_webscrapper_spark.operators.bloom import Bloom, ShardedBloom, build_bloom


@pytest.fixture(scope="module")
def backend():
    return Backend(
        ops=bloom,
        sharded=ShardedBloom,
        build=build_bloom,
        max_fpr=0.03,
        fpr_gap=0.01,
        state=lambda shard: shard.words.tobytes(),
    )


def test_no_false_negatives():
    b = Bloom.sized_for(10_000, 0.01)
    keys = np.random.default_rng(1).integers(-(2**62), 2**62, 10_000, dtype=np.int64)
    b.add_many(keys)
    assert b.may_contain_many(keys).all()


def test_fpr_bounded():
    b = Bloom.sized_for(10_000, 0.01)
    rng = np.random.default_rng(2)
    keys = rng.integers(-(2**62), 2**62, 10_000, dtype=np.int64)
    b.add_many(keys)
    probe = rng.integers(-(2**62), 2**62, 50_000, dtype=np.int64)
    fpr = b.may_contain_many(probe).mean()
    assert fpr < 0.03


def test_merge_is_union():
    a, b = Bloom(1 << 16, 5), Bloom(1 << 16, 5)
    ka = np.arange(100, dtype=np.int64)
    kb = np.arange(100, 200, dtype=np.int64)
    a.add_many(ka)
    b.add_many(kb)
    a.merge(b)
    assert a.may_contain_many(ka).all() and a.may_contain_many(kb).all()


def test_roundtrip_bytes():
    b = Bloom(1 << 12, 3)
    b.add_many(np.array([7, -9, 123456789], dtype=np.int64))
    c = Bloom.from_bytes(b.to_bytes(), b.m_bits, b.k)
    assert c.may_contain_many(np.array([7, -9, 123456789], dtype=np.int64)).all()


def test_sharded_sizing():
    sb = ShardedBloom.sized_for(1_000_000, 0.01, n_shards=16)
    assert sb.n_shards == 16
    total_bits = sum(s.m_bits for s in sb.shards)
    expect = Bloom.sized_for(1_000_000, 0.01).m_bits
    assert abs(total_bits - expect) / expect < 0.02  # per-shard 64-bit rounding
