"""Partitioned cuckoo filter — the deletion-capable alternative seen-set
backend named by the north rule ("partitioned Bloom/cuckoo URL-seen
set", SURVEY.md §1). The sharded layer — ``pmod(key, B)`` routing, the
distributed build and fold, the per-shard broadcast prefilter — is the
one in ``operators/bloom.py``, shared by both backends rather than
mirrored; this module supplies the per-shard ``Cuckoo`` table and
deletion, and the crawl picks a backend via ``CrawlConfig.seen_filter``.

Reference parity: the reference crawler's seen set is Scrapy's in-memory
request-fingerprint set (dupefilter) — unbounded exact membership on one
machine. This module is the approximate-membership replacement that
survives a 10^10-URL frontier, with the property Bloom lacks: deletion
(re-crawl invalidation, TTL'd politeness bans) without a rebuild.

Design (partial-key cuckoo hashing, Fan et al. 2014, public):
- buckets of 4 slots × 16-bit fingerprints (0 = empty; fp 0 remapped
  to 1), so FPR ≈ 2·4/2^16 ≈ 0.012% per lookup — far under the 1%
  Bloom default, at ~2.4 bytes/key at 0.84 load.
- fp(x)  = top 16 bits of splitmix64(x)
- i1(x)  = low bits of splitmix64(x)
- i2(x)  = i1 XOR (odd-forced splitmix64(fp) & mask)  — partial-key:
  either bucket is recoverable from the other + fp, which is what
  makes merge() (re-insert occupied slots) and eviction possible
  without the original keys.
- inserts are VECTORIZED in two bulk placement rounds (sort-by-bucket,
  rank-within-run, write where rank < free slots) — the eviction loop
  only sees the stragglers, a few % at ≤0.84 load. Eviction slot
  choice is deterministic ((kick + fp) % 4): same input ⇒ same table,
  which the resume/equivalence tests rely on.
- a tiny bounded stash absorbs eviction failures near capacity instead
  of silently dropping membership (lookup checks it); overflow raises —
  an undersized filter is an error, not a quiet FPR cliff.

Buckets keep the left-packed invariant (occupied slots first): bulk
placement appends at the occupancy offset, eviction swaps in place, and
delete compacts its bucket — so occupancy is always countable without
scanning for holes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, types as T

from whakoom_webscrapper_spark.operators.bloom import (
    ShardedFilter,
    _by_shard,
    _splitmix64,
    build,
)
# the shared distributed fold and prefilter, re-exported for callers
# that import the cuckoo backend as one module
from whakoom_webscrapper_spark.operators.bloom import (  # noqa: F401
    add_keys_distributed,
    prefilter_maybe_seen,
)

SLOTS = 4
MAX_KICKS = 500
STASH_MAX = 64


class Cuckoo:
    """Vectorized cuckoo filter over int64 keys."""

    def __init__(self, n_buckets: int, table: np.ndarray | None = None):
        assert n_buckets > 0 and (n_buckets & (n_buckets - 1)) == 0, \
            "n_buckets must be a power of two (XOR-partial-key addressing)"
        self.n_buckets = n_buckets
        self.mask = np.uint64(n_buckets - 1)
        self.table = (
            table if table is not None
            else np.zeros((n_buckets, SLOTS), dtype=np.uint16)
        )
        self.stash_fp: list[int] = []
        self.stash_bucket: list[int] = []

    # -- addressing ---------------------------------------------------
    def _offset_of(self, fp: np.ndarray) -> np.ndarray:
        """Alt-bucket XOR offset from the fingerprint alone; forced odd
        so i2 != i1 always (a zero offset would halve the fp's slots)."""
        return ((_splitmix64(fp.astype(np.uint64)) | np.uint64(1))
                & self.mask).astype(np.int64)

    def _fp_buckets(self, keys: np.ndarray):
        h = _splitmix64(keys.astype(np.int64).view(np.uint64))
        fp = (h >> np.uint64(48)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)
        i1 = (h & self.mask).astype(np.int64)
        i2 = i1 ^ self._offset_of(fp)
        return fp, i1, i2

    # -- insert -------------------------------------------------------
    def _place_round(self, fp: np.ndarray, buckets: np.ndarray,
                     pending: np.ndarray) -> np.ndarray:
        """Bulk-place pending items into free slots of their candidate
        buckets; returns the indices that did not fit. Sort by bucket,
        rank within each equal-bucket run, keep rank < free-slot count."""
        b = buckets[pending]
        order = np.argsort(b, kind="stable")
        bs = b[order]
        new_run = np.concatenate(([True], bs[1:] != bs[:-1]))
        run_start = np.flatnonzero(new_run)
        rank = np.arange(len(bs)) - run_start[np.cumsum(new_run) - 1]
        occ = (self.table[bs] != 0).sum(axis=1)
        can = rank < (SLOTS - occ)
        self.table[bs[can], occ[can] + rank[can]] = fp[pending][order][can]
        return pending[order][~can]

    def _insert_one(self, fp: int, i: int) -> None:
        for kick in range(MAX_KICKS):
            row = self.table[i]
            free = np.flatnonzero(row == 0)
            if len(free):
                row[free[0]] = fp
                return
            j = (kick + fp) % SLOTS  # deterministic, fp-dependent
            fp, row[j] = int(row[j]), fp
            i = int(i ^ self._offset_of(np.array([fp], dtype=np.uint16))[0])
        self.stash_fp.append(fp)
        self.stash_bucket.append(i)
        if len(self.stash_fp) > STASH_MAX:
            raise RuntimeError(
                "cuckoo filter overloaded (stash > %d): size it for the "
                "expected key count" % STASH_MAX)

    def _insert_fp(self, fp: np.ndarray, iA: np.ndarray,
                   iB: np.ndarray) -> None:
        pending = np.arange(len(fp))
        for cand in (iA, iB):
            if not len(pending):
                return
            pending = self._place_round(fp, cand, pending)
        for j in pending:
            self._insert_one(int(fp[j]), int(iA[j]))

    def add_many(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        fp, i1, i2 = self._fp_buckets(keys)
        self._insert_fp(fp, i1, i2)

    # -- lookup -------------------------------------------------------
    def may_contain_many(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        fp, i1, i2 = self._fp_buckets(keys)
        col = fp[:, None]
        hit = (self.table[i1] == col).any(axis=1) \
            | (self.table[i2] == col).any(axis=1)
        for f, b in zip(self.stash_fp, self.stash_bucket):
            hit |= (fp == f) & ((i1 == b) | (i2 == b))
        return hit

    # -- delete (the capability Bloom lacks) --------------------------
    def delete_many(self, keys: np.ndarray) -> np.ndarray:
        """Remove ONE stored copy per key; returns which were found.
        Only delete keys that were actually inserted — deleting an
        absent key can evict another key's colliding fingerprint (the
        standard cuckoo-filter contract)."""
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        fp, i1, i2 = self._fp_buckets(keys)
        out = np.zeros(len(keys), dtype=bool)
        for idx in range(len(keys)):
            for b in (int(i1[idx]), int(i2[idx])):
                row = self.table[b]
                m = np.flatnonzero(row == fp[idx])
                if len(m):
                    row[m[0]] = 0
                    occ = row[row != 0]          # re-pack: no holes
                    row[:] = 0
                    row[:len(occ)] = occ
                    out[idx] = True
                    break
            else:
                for s, (f, sb) in enumerate(
                        zip(self.stash_fp, self.stash_bucket)):
                    if f == fp[idx] and sb in (int(i1[idx]), int(i2[idx])):
                        del self.stash_fp[s], self.stash_bucket[s]
                        out[idx] = True
                        break
        return out

    # -- merge / io ---------------------------------------------------
    def merge(self, other: "Cuckoo") -> "Cuckoo":
        """Union by re-inserting the other's occupied slots: each stored
        (bucket, fp) pair's alternate bucket is recomputable from the
        fp alone (partial-key property), so no original keys needed."""
        assert self.n_buckets == other.n_buckets
        occ = other.table != 0
        if occ.any():
            b = np.nonzero(occ)[0].astype(np.int64)
            fps = other.table[occ]
            self._insert_fp(fps, b, b ^ self._offset_of(fps))
        for f, sb in zip(other.stash_fp, other.stash_bucket):
            self._insert_one(f, sb)
        return self

    @property
    def sizing(self) -> tuple[int]:
        return (self.n_buckets,)

    def to_bytes(self) -> bytes:
        if self.stash_fp:
            raise ValueError(
                "cannot serialize a cuckoo filter with a non-empty stash "
                "(filter is near overload — resize it)")
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, n_buckets: int) -> "Cuckoo":
        table = np.frombuffer(data, dtype=np.uint16).reshape(
            n_buckets, SLOTS).copy()
        return cls(n_buckets, table)

    @classmethod
    def sized_for(cls, n_keys: int, fpr: float = 0.01,
                  load: float = 0.84) -> "Cuckoo":
        """``fpr`` is accepted for Bloom-API parity; the 16-bit
        fingerprint delivers ≈0.012% regardless, under any requested
        rate ≥ that."""
        n_keys = max(n_keys, 1024)
        n_buckets = 1 << int(np.ceil(np.log2(n_keys / (SLOTS * load))))
        return cls(n_buckets)


class ShardedCuckoo(ShardedFilter):
    """Sharded cuckoo (routing, build, fold and prefilter shared with
    ``ShardedBloom``, docs/SCALE.md). At the 10^10-key design point a
    256-shard filter holds ~93 MB/shard (2 bytes/slot · slots/0.84) —
    same broadcast envelope as the Bloom shards, with 80× tighter FPR and
    deletion."""

    shard_cls = Cuckoo

    def delete_many(self, keys: np.ndarray) -> np.ndarray:
        return self._gather(keys, lambda shard, k: shard.delete_many(k))


build_cuckoo = build


_CUCKOO_KEYCELL_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("keys", T.BinaryType(), False),
        T.StructField("n_keys", T.LongType(), False),
    ]
)


def delete_keys_distributed(
    filt: ShardedCuckoo, df: DataFrame, key_col: str
) -> tuple[int, int]:
    """Bulk delete without an O(|batch|) driver collect: executors pack
    each partition's keys into per-shard int64 cells (mapInPandas, raw
    ``tobytes`` — no Row objects), and the driver STREAMS them with
    ``toLocalIterator``, deleting shard-by-shard as cells arrive. Peak
    driver residency is one partition's packed cells (8 bytes/key for
    that slice), not the whole batch — the delete-side mirror of
    ``add_keys_distributed``'s bounded-transfer contract. Deletion is
    information-theoretically O(|batch|) total bytes (unlike inserts,
    deleted keys are not re-derivable from folded tables), so the win
    here is the constant factor and the bounded residency; for batches
    large enough that even streamed transfer hurts, callers should skip
    live deletes entirely (ledger-only mode in plans/frontier.py) and
    let resume rebuild distributed.

    Caller contract (same as ``delete_many``): keys must be distinct and
    actually inserted — deleting an absent key can evict a colliding
    fingerprint. Returns (found, total) counts."""
    n_shards = filt.n_shards

    def per_partition(iterator):
        bufs: dict[int, list[np.ndarray]] = {}
        for pdf in iterator:
            kv = pdf[key_col].values.astype(np.int64)
            for b, mask in _by_shard(kv, n_shards):
                bufs.setdefault(b, []).append(kv[mask])
        if bufs:
            yield pd.DataFrame(
                [
                    {
                        "shard": b,
                        "keys": np.concatenate(parts).tobytes(),
                        "n_keys": int(sum(len(p) for p in parts)),
                    }
                    for b, parts in sorted(bufs.items())
                ]
            )

    cells = df.select(key_col).mapInPandas(per_partition, _CUCKOO_KEYCELL_SCHEMA)
    found = total = 0
    for row in cells.toLocalIterator():
        kv = np.frombuffer(row["keys"], dtype=np.int64)
        found += int(filt.shards[row["shard"]].delete_many(kv).sum())
        total += len(kv)
    return found, total
