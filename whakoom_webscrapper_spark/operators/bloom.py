"""Partitioned Bloom filter over 64-bit keys (the URL-seen structure).

The reference dedups with in-memory Python sets (reference:
pipelines.py:32-34) and DB UNIQUE keys (001_initial_schema.sql:4,19).
At 10^10 URLs neither works: the engine keeps the exact seen-set as a
partitioned table and uses a Bloom filter as a fast approximate
PRE-filter in front of the exact anti-join (J1 in SURVEY.md §2.4) —
the Bloom removes ~99% of definitely-new URLs from the seen-join's
shuffle; the anti-join then guarantees exactness for the rest.

Design for 10^10 keys at 1% FPR: m ≈ 9.6 bits/key ≈ 12 GB total —
too big for one broadcast OR one driver-held array, so the filter is
SHARDED (``ShardedBloom``): B sub-filters keyed ``pmod(key, B)``, each
built/folded/broadcast independently. No monolithic bitmap exists
anywhere in the lifecycle. At 1% FPR the bitmap is the only structure
that must scale with |seen|; everything else is per-epoch. In the
sandbox each shard is KBs–MBs.

The sharded layer (``ShardedFilter``: routing, distributed build and
fold, per-shard broadcast prefilter) is written once here and shared by
both seen-set backends; ``operators/cuckoo.py`` supplies only its
per-shard structure and deletion.

Hashing: double hashing over the already-computed ``url_hash`` int64 —
h_i(x) = h1(x) + i*h2(x) mod m, with h1 = splitmix64(x) and h2 = odd
mix of h1. h1 MUST be a real mix, not identity: the sharded filter
routes by ``x mod B``, and with identity h1 every key in a shard is
congruent mod B — when B divides m_bits (it typically does, both being
powers-of-two-ish), i=0 positions would collapse onto 1/B of the bitmap
(measured FPR 0.41 instead of 0.01). All numpy-vectorized.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MIX = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Fibonacci/splitmix64 finalizer — full-avalanche 64-bit mix."""
    with np.errstate(over="ignore"):
        x = (x + _MIX).astype(np.uint64)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


class Bloom:
    """Vectorized Bloom filter over int64 keys."""

    def __init__(self, m_bits: int, k: int = 7, bits: np.ndarray | None = None):
        if m_bits % 64:
            m_bits += 64 - (m_bits % 64)
        self.m_bits = m_bits
        self.k = k
        self.words = (
            bits if bits is not None else np.zeros(m_bits // 64, dtype=np.uint64)
        )

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        """(k, n) array of bit positions for each key."""
        with np.errstate(over="ignore"):
            h1 = _splitmix64(keys.astype(np.int64).view(np.uint64))
            h2 = (h1 * _MIX) | np.uint64(1)
            i = np.arange(self.k, dtype=np.uint64).reshape(-1, 1)
            return (h1 + i * h2) % np.uint64(self.m_bits)

    def add_many(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        pos = self._positions(keys).ravel()
        np.bitwise_or.at(
            self.words, (pos >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (pos & np.uint64(63)),
        )

    def may_contain_many(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(keys)
        word = self.words[(pos >> np.uint64(6)).astype(np.int64)]
        hit = (word >> (pos & np.uint64(63))) & np.uint64(1)
        return hit.all(axis=0).astype(bool)

    def merge(self, other: "Bloom") -> "Bloom":
        assert self.m_bits == other.m_bits and self.k == other.k
        self.words |= other.words
        return self

    @property
    def sizing(self) -> tuple[int, int]:
        return self.m_bits, self.k

    def to_bytes(self) -> bytes:
        return self.words.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, m_bits: int, k: int) -> "Bloom":
        return cls(m_bits, k, np.frombuffer(data, dtype=np.uint64).copy())

    @classmethod
    def sized_for(cls, n_keys: int, fpr: float = 0.01) -> "Bloom":
        n_keys = max(n_keys, 1024)
        m = int(-n_keys * np.log(fpr) / (np.log(2) ** 2))
        k = max(int(round(m / n_keys * np.log(2))), 1)
        return cls(m, k)


def _by_shard(keys: np.ndarray, n_shards: int):
    """Yield ``(shard, mask)`` for every shard the int64 ``keys`` touch.
    Vectorized ``pmod(key, B)``: numpy's % on int64 is floor-mod
    (non-negative for positive B), matching Spark's pmod exactly."""
    s = keys % np.int64(n_shards)
    for b in np.unique(s):
        yield int(b), s == b


class ShardedFilter:
    """B sub-filters keyed ``pmod(url_hash, B)`` — the 10^10-key design
    (docs/SCALE.md): no single monolithic filter ever exists. Each shard
    is an independent ``shard_cls`` over the keys whose ``key mod B``
    selects it; a key's membership is decided entirely by its home shard.

    Why sharding (vs one filter):
    - at 10^10 keys / 1% FPR a Bloom bitmap is ~12 GB — over Spark's
      single-broadcast ceiling and a driver-memory hazard. B=256 shards
      are ~47 MB each: individually broadcastable (torrent-style, driver
      egress bounded) and individually fold-able.
    - the per-epoch incremental fold touches only the shards that got new
      keys, and each shard can be (re)broadcast independently.
    - at the design point, executors can own shard ranges: repartition
      the candidate frontier by ``pmod(key, B)`` and each task reads
      exactly ONE shard (one extra shuffle buys O(total/B) memory per
      executor). In the sandbox the frontier is small enough that
      broadcasting all shards is faster, so that variant stays documented
      rather than default.

    Shard contract (``Bloom``, ``cuckoo.Cuckoo``): ``sized_for(n, fpr)``,
    ``add_many``, ``may_contain_many``, ``merge``, a ``sizing`` tuple with
    ``cls(*sizing)`` an empty shard, ``to_bytes()`` and
    ``cls.from_bytes(data, *sizing)``.
    """

    shard_cls: type

    def __init__(self, n_shards: int, shards: list):
        assert len(shards) == n_shards
        self.n_shards = n_shards
        self.shards = shards

    @classmethod
    def sized_for(cls, n_keys: int, fpr: float = 0.01, n_shards: int = 16):
        per = max(n_keys // n_shards, 64)
        return cls(
            n_shards, [cls.shard_cls.sized_for(per, fpr) for _ in range(n_shards)]
        )

    def shard_of(self, keys: np.ndarray) -> np.ndarray:
        return keys.astype(np.int64) % np.int64(self.n_shards)

    def add_many(self, keys: np.ndarray) -> None:
        keys = keys.astype(np.int64)
        for b, mask in _by_shard(keys, self.n_shards):
            self.shards[b].add_many(keys[mask])

    def _gather(self, keys: np.ndarray, op) -> np.ndarray:
        """``op(shard, shard_keys)`` on each key's home shard; the boolean
        answers come back in key order."""
        keys = keys.astype(np.int64)
        out = np.zeros(len(keys), dtype=bool)
        for b, mask in _by_shard(keys, self.n_shards):
            out[mask] = op(self.shards[b], keys[mask])
        return out

    def may_contain_many(self, keys: np.ndarray) -> np.ndarray:
        return self._gather(keys, lambda shard, k: shard.may_contain_many(k))

    def merge(self, other: "ShardedFilter") -> "ShardedFilter":
        assert self.n_shards == other.n_shards
        for mine, theirs in zip(self.shards, other.shards):
            mine.merge(theirs)
        return self


class ShardedBloom(ShardedFilter):
    """Sharded Bloom: the default crawl seen-set prefilter."""

    shard_cls = Bloom


_SHARD_ROW_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("data", T.BinaryType(), False),
        T.StructField("n_keys", T.LongType(), False),
    ]
)


def _shard_rows(df: DataFrame, key_col: str, template: ShardedFilter) -> list:
    """Distributed map phase shared by ``build`` and
    ``add_keys_distributed``: each partition builds sub-filters PER SHARD
    with mapInPandas (one row per (partition, shard) actually touched) and
    ships only those to the driver. Transfer is Σ touched-shard filters —
    at the design point each shard row is 1/B of the filter, so no single
    transfer object exceeds the shard size, and (unlike a raw-key collect)
    the total is bounded by the filter size, not by |keys|.

    The closure captures classes and sizing tuples only — never a filter,
    which would ship the whole structure inside every task."""
    sharded_cls, shard_cls = type(template), template.shard_cls
    n_shards = template.n_shards
    sizing = [s.sizing for s in template.shards]

    def per_partition(iterator):
        local = sharded_cls(n_shards, [shard_cls(*z) for z in sizing])
        counts = np.zeros(n_shards, dtype=np.int64)
        touched = False
        for pdf in iterator:
            keys = pdf[key_col].values.astype(np.int64)
            if len(keys):
                touched = True
                local.add_many(keys)
                np.add.at(counts, local.shard_of(keys), 1)
        if touched:
            yield pd.DataFrame(
                [
                    {
                        "shard": b,
                        "data": local.shards[b].to_bytes(),
                        "n_keys": int(counts[b]),
                    }
                    for b in range(n_shards)
                    if counts[b] > 0
                ]
            )

    return df.select(key_col).mapInPandas(per_partition, _SHARD_ROW_SCHEMA).collect()


def _merge_shard_rows(filt: ShardedFilter, rows: list) -> ShardedFilter:
    for row in rows:
        shard = filt.shards[row["shard"]]
        shard.merge(filt.shard_cls.from_bytes(row["data"], *shard.sizing))
    return filt


def build(df: DataFrame, key_col: str, template: ShardedFilter) -> ShardedFilter:
    """Distributed (re)build from scratch (used on resume): map-side
    per-shard filters, driver merge per shard. Returns a new filter of
    ``template``'s class and sizing; ``template`` itself is not touched."""
    empty = type(template)(
        template.n_shards, [template.shard_cls(*s.sizing) for s in template.shards]
    )
    return _merge_shard_rows(empty, _shard_rows(df, key_col, template))


build_bloom = build


def add_keys_distributed(
    filt: ShardedFilter, df: DataFrame, key_col: str
) -> ShardedFilter:
    """Incremental epoch fold, distributed: executors hash the epoch's
    resolved keys into per-shard filters; the driver merges only the
    touched shards into the live filter. Membership-identical to adding
    the same keys driver-side (for Bloom bit-exact: same sizing → same
    positions), but the driver transfer is bounded by the FILTER size
    instead of O(|keys|) — at the 10^10-URL design point an epoch can
    resolve ~10^8 keys (~1 GB as raw int64s through the driver, every
    epoch); shard filters cap that at Σ touched-shard bytes regardless
    of key count."""
    return _merge_shard_rows(filt, _shard_rows(df, key_col, filt))


def prefilter_maybe_seen(
    df: DataFrame, key_col: str, filt: ShardedFilter, spark
) -> tuple[DataFrame, DataFrame]:
    """Split df into (definitely_new, maybe_seen) using per-shard
    broadcast filters. ``definitely_new`` rows skip the exact seen
    anti-join entirely — at scale that is the whole point (the
    anti-join's shuffle only carries the ~FPR fraction + true dups).

    Each shard is its own broadcast object: no single broadcast exceeds
    the shard size, and Spark's torrent broadcast distributes the chunks
    peer-to-peer. The UDF rebuilds shard views lazily from the broadcast
    bytes and routes each key to its home shard, vectorized."""
    sc = spark.sparkContext
    shard_cls, n_shards = filt.shard_cls, filt.n_shards
    sizing = [s.sizing for s in filt.shards]
    bcs = [sc.broadcast(s.to_bytes()) for s in filt.shards]

    @F.pandas_udf(T.BooleanType())
    def maybe_seen(keys: pd.Series) -> pd.Series:
        kv = keys.values.astype(np.int64)
        out = np.zeros(len(kv), dtype=bool)
        for b, mask in _by_shard(kv, n_shards):
            shard = shard_cls.from_bytes(bcs[b].value, *sizing[b])
            out[mask] = shard.may_contain_many(kv[mask])
        return pd.Series(out)

    flagged = df.withColumn("_maybe_seen", maybe_seen(F.col(key_col)))
    return (
        flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen"),
        flagged.filter(F.col("_maybe_seen")).drop("_maybe_seen"),
    )
