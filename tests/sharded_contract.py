"""Contract tests of the shared sharded seen-filter layer
(``operators/bloom.py``: ``ShardedFilter``, ``build``,
``add_keys_distributed``, ``prefilter_maybe_seen``), written once and
run against both backends: ``tests/test_bloom.py`` and
``tests/test_cuckoo.py`` import these tests and each defines the
module's ``backend`` fixture (a ``Backend``).

``Backend.state`` maps one shard to a value that is equal for two shards
exactly when they hold the same keys' entries: Bloom compares its bit
array bit for bit; a cuckoo table stores each key's fingerprint in
either of its two buckets, depending on insertion order, so it compares
the multiset of (fingerprint, lower of the two buckets).
"""

from __future__ import annotations

from dataclasses import dataclass
from types import ModuleType
from typing import Callable

import numpy as np


@dataclass(frozen=True)
class Backend:
    ops: ModuleType  # backend module: add_keys_distributed, prefilter_maybe_seen
    sharded: type  # ShardedFilter subclass
    build: Callable  # the distributed (re)build, as the backend exports it
    max_fpr: float  # FPR ceiling at the default sizing
    fpr_gap: float  # allowed |sharded FPR - monolith FPR|
    state: Callable  # shard -> comparable content, see module docstring


def _keys(n, seed):
    return np.unique(
        np.random.default_rng(seed).integers(-(2**62), 2**62, n, dtype=np.int64)
    )


def _hashed(spark, lo, hi):
    return spark.range(lo, hi, 1, 8).selectExpr("xxhash64(id) as url_hash")


def _collected(df):
    return np.array([r[0] for r in df.collect()], dtype=np.int64)


def _same_states(backend, *filters):
    first = filters[0]
    for other in filters[1:]:
        for a, b in zip(first.shards, other.shards):
            assert backend.state(a) == backend.state(b)


def test_sharded_membership_equals_monolith(backend):
    """Sharding changes WHERE entries live, not membership semantics:
    every added key is contained (zero false negatives, same as the
    monolith) and the FPR stays in the monolith's band."""
    keys = _keys(20_000, 3)
    probe = _keys(50_000, 9)
    probe = probe[~np.isin(probe, keys)]
    mono = backend.sharded.shard_cls.sized_for(20_000, 0.01)
    sharded = backend.sharded.sized_for(20_000, 0.01, n_shards=16)
    mono.add_many(keys)
    sharded.add_many(keys)
    assert mono.may_contain_many(keys).all()
    assert sharded.may_contain_many(keys).all()
    fpr_m = mono.may_contain_many(probe).mean()
    fpr_s = sharded.may_contain_many(probe).mean()
    assert fpr_s < backend.max_fpr and abs(fpr_s - fpr_m) < backend.fpr_gap


def test_sharded_negative_keys_route_consistently(backend):
    filt = backend.sharded.sized_for(1000, 0.01, n_shards=8)
    keys = np.array([-1, -8, -9, -17, -(2**61), 7, 8, 0], dtype=np.int64)
    s = filt.shard_of(keys)
    assert (s >= 0).all() and (s < 8).all()
    filt.add_many(keys)
    assert filt.may_contain_many(keys).all()
    if hasattr(filt, "delete_many"):
        assert filt.delete_many(keys).all()


def test_distributed_build_matches_local(spark, backend):
    df = _hashed(spark, 0, 20_000)
    template = backend.sharded.sized_for(20_000, 0.01, n_shards=8)
    dist = backend.build(df, "url_hash", template)
    assert type(dist) is backend.sharded and dist is not template
    keys = _collected(df)
    assert dist.may_contain_many(keys).all()
    probe = _keys(100_000, 11)
    probe = probe[~np.isin(probe, keys)]
    assert dist.may_contain_many(probe).mean() < backend.max_fpr
    # distributed build ≡ local add_many on the same keys
    local = backend.sharded.sized_for(20_000, 0.01, n_shards=8)
    local.add_many(keys)
    assert local.may_contain_many(probe).mean() < backend.max_fpr
    _same_states(backend, dist, local)


def test_incremental_distributed_fold_matches_rebuild(spark, backend):
    """The crawl's per-epoch fold (add_keys_distributed on each epoch's
    slice) must equal a from-scratch rebuild over the union AND a local
    add_many of the collected keys."""
    e0, e1 = _hashed(spark, 0, 3000), _hashed(spark, 3000, 7000)
    both = e0.unionByName(e1)

    inc = backend.sharded.sized_for(7000, 0.01, n_shards=8)
    backend.ops.add_keys_distributed(inc, e0, "url_hash")
    backend.ops.add_keys_distributed(inc, e1, "url_hash")
    rebuilt = backend.build(
        both, "url_hash", backend.sharded.sized_for(7000, 0.01, n_shards=8)
    )
    loc = backend.sharded.sized_for(7000, 0.01, n_shards=8)
    keys = _collected(both)
    loc.add_many(keys)

    assert inc.may_contain_many(keys).all()
    _same_states(backend, inc, rebuilt, loc)


def test_prefilter_split_is_exact_partition(spark, backend):
    keys = _keys(5_000, 14)
    filt = backend.sharded.sized_for(5_000, 0.01, n_shards=4)
    filt.add_many(keys[:2_500])
    df = spark.createDataFrame([(int(k),) for k in keys], "url_hash long")
    new, maybe = backend.ops.prefilter_maybe_seen(df, "url_hash", filt, spark)
    assert new.count() + maybe.count() == len(keys)
    new_keys = {r.url_hash for r in new.collect()}
    maybe_keys = {r.url_hash for r in maybe.collect()}
    # an exact partition of the input: disjoint and covering
    assert not new_keys & maybe_keys
    assert new_keys | maybe_keys == {int(k) for k in keys}
    # every inserted key lands in maybe_seen (no false negatives)
    assert {int(k) for k in keys[:2_500]} <= maybe_keys
