"""Cuckoo-filter invariants: no false negatives, bounded FPR, deletion,
merge-as-union, distributed delete ≡ driver delete, crawl-backend
equivalence with the Bloom path (the north rule's "Bloom/cuckoo URL-seen
set" — SURVEY.md §1); plus the shared sharded-filter contract
(tests/sharded_contract.py) run against ``ShardedCuckoo``."""

from __future__ import annotations

import tempfile

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
from whakoom_webscrapper_spark.operators import cuckoo
from whakoom_webscrapper_spark.operators.cuckoo import (
    Cuckoo,
    ShardedCuckoo,
    build_cuckoo,
)


def _stored(shard: Cuckoo) -> list:
    """Sorted (fingerprint, lower of its two buckets) per stored entry:
    equal for two tables holding the same keys, whichever of its two
    buckets each key landed in."""
    b, _ = np.nonzero(shard.table)
    fps = shard.table[shard.table != 0]
    low = np.minimum(b, b ^ shard._offset_of(fps))
    return sorted(zip(fps.tolist(), low.tolist())) + sorted(
        zip(shard.stash_fp, shard.stash_bucket)
    )


@pytest.fixture(scope="module")
def backend():
    return Backend(
        ops=cuckoo,
        sharded=ShardedCuckoo,
        build=build_cuckoo,
        max_fpr=0.002,
        fpr_gap=0.002,
        state=_stored,
    )


def _keys(n, seed, lo=-(2**62), hi=2**62):
    return np.random.default_rng(seed).integers(lo, hi, n, dtype=np.int64)


def test_no_false_negatives():
    c = Cuckoo.sized_for(10_000)
    keys = np.unique(_keys(10_000, 1))
    c.add_many(keys)
    assert c.may_contain_many(keys).all()


def test_fpr_far_below_bloom_default():
    c = Cuckoo.sized_for(10_000)
    keys = np.unique(_keys(10_000, 2))
    c.add_many(keys)
    probe = _keys(200_000, 3)
    probe = probe[~np.isin(probe, keys)]
    fpr = c.may_contain_many(probe).mean()
    # 16-bit fp, 2 buckets x 4 slots: expected ~0.012%; assert well
    # under the Bloom default with slack for load variance
    assert fpr < 0.002


def test_insert_at_design_load():
    """Fill to 84% of slot capacity — bulk placement + eviction must
    succeed without overflowing the stash."""
    c = Cuckoo(1 << 12)  # 16384 slots
    keys = np.unique(_keys(20_000, 4))[: int(16384 * 0.84)]
    c.add_many(keys)
    assert c.may_contain_many(keys).all()
    assert len(c.stash_fp) <= 64


def test_delete_removes_membership():
    c = Cuckoo.sized_for(10_000)
    keys = np.unique(_keys(10_000, 5))
    c.add_many(keys)
    gone, kept = keys[: len(keys) // 2], keys[len(keys) // 2:]
    assert c.delete_many(gone).all()
    assert c.may_contain_many(kept).all()          # no collateral FNs
    # deleted keys drop to the false-positive floor, not to "all true"
    assert c.may_contain_many(gone).mean() < 0.01


def test_delete_then_reinsert_roundtrip():
    c = Cuckoo.sized_for(1_000)
    keys = np.unique(_keys(1_000, 6))
    c.add_many(keys)
    assert c.delete_many(keys).all()
    c.add_many(keys)
    assert c.may_contain_many(keys).all()


def test_merge_is_union():
    a, b = Cuckoo(1 << 12), Cuckoo(1 << 12)
    ka, kb = np.arange(2_000, dtype=np.int64), np.arange(2_000, 4_000, dtype=np.int64)
    a.add_many(ka)
    b.add_many(kb)
    a.merge(b)
    assert a.may_contain_many(ka).all() and a.may_contain_many(kb).all()


def test_roundtrip_bytes():
    c = Cuckoo.sized_for(5_000)
    keys = np.unique(_keys(5_000, 7))
    c.add_many(keys)
    c2 = Cuckoo.from_bytes(c.to_bytes(), c.n_buckets)
    assert (c2.table == c.table).all()
    assert c2.may_contain_many(keys).all()


def test_serialize_with_stash_refuses():
    c = Cuckoo(1 << 4)
    c.stash_fp, c.stash_bucket = [7], [3]
    with pytest.raises(ValueError):
        c.to_bytes()


def test_overload_raises():
    c = Cuckoo(1 << 4)  # 64 slots
    with pytest.raises(RuntimeError):
        c.add_many(np.arange(4_000, dtype=np.int64))


def test_distributed_delete_matches_driver_delete(spark):
    """delete_keys_distributed ≡ delete_many on the driver: same found
    count, identical post-delete membership on kept keys, deleted keys
    gone (no colliding-fp keeper in this keyspace) — the fold that
    replaced the O(|batch|) Row collect in re-crawl invalidation."""
    from whakoom_webscrapper_spark.operators.cuckoo import (
        delete_keys_distributed,
    )

    keys = np.unique(_keys(30_000, 15))
    dele, keep = keys[: len(keys) // 2], keys[len(keys) // 2:]
    a = ShardedCuckoo.sized_for(30_000, n_shards=4)
    a.add_many(keys)
    b = ShardedCuckoo.sized_for(30_000, n_shards=4)
    b.add_many(keys)

    df = spark.createDataFrame(
        [(int(k),) for k in dele], "url_hash long").repartition(8)
    found_dist, total = delete_keys_distributed(a, df, "url_hash")
    found_drv = int(b.delete_many(dele).sum())
    assert total == len(dele)
    assert found_dist == found_drv == len(dele)
    # bit-for-bit identical membership answers on both populations
    probe = np.concatenate([dele, keep, _keys(20_000, 16)])
    assert (a.may_contain_many(probe) == b.may_contain_many(probe)).all()
    assert a.may_contain_many(keep).all()


def test_crawl_with_cuckoo_matches_bloom_backend(spark):
    """Same world, seen_filter='cuckoo' vs 'bloom': identical pages
    fetched and identical seen membership — the approximate filter is a
    prefilter only, so the backend must never change crawl results."""
    from whakoom_webscrapper_spark import datagen
    from whakoom_webscrapper_spark.plans import frontier as FP

    world = tempfile.mkdtemp(prefix="ck_world_")
    datagen.write_world(spark, world, 200, 8, fanout=5, n_seeds=4,
                        partitions=4)
    results = {}
    for backend in ("bloom", "cuckoo"):
        d = tempfile.mkdtemp(prefix=f"ck_state_{backend}_")
        cfg = FP.CrawlConfig(state_dir=d, world_dir=world, max_epochs=12,
                             frontier_partitions=4, seen_filter=backend)
        FP.crawl(spark, cfg)
        pages = spark.read.parquet(f"{d}/pages")
        seen = spark.read.parquet(f"{d}/seen")
        results[backend] = (
            {r.url for r in pages.select("url").collect()},
            {r.url_hash for r in seen.select("url_hash").collect()},
        )
    assert results["bloom"][0] == results["cuckoo"][0]
    assert results["bloom"][1] == results["cuckoo"][1]
