"""Seeded inputs for the crawl benchmark.

Worlds (link graph, image store, robots) depend only on their shape and
are generated once per checkout with ``datagen.write_world``; everything
that depends on ``--seed`` (the seed-URL list, the invalidation batch,
the dedup corpus) is small and written here with pyarrow, without Spark,
so neither world generation nor input generation is timed.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import asdict, dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from whakoom_webscrapper_spark import datagen


@dataclass(frozen=True)
class WorldShape:
    n_urls: int
    n_hosts: int
    fanout: int
    budget_scale: int

    @property
    def key(self) -> str:
        return (
            f"world_u{self.n_urls}_h{self.n_hosts}_f{self.fanout}"
            f"_b{self.budget_scale}"
        )


def world_dir(work: str, shape: WorldShape) -> str:
    return os.path.join(work, "worlds", shape.key)


def ensure_world(spark, work: str, shape: WorldShape, partitions: int) -> str:
    """Generate the world for ``shape`` unless a complete one is cached.
    A ``_DONE`` marker written last makes an interrupted generation
    regenerate instead of being read half-written."""
    d = world_dir(work, shape)
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    datagen.write_world(
        spark, d, shape.n_urls, shape.n_hosts, fanout=shape.fanout,
        partitions=partitions, budget_scale=shape.budget_scale,
    )
    with open(os.path.join(d, "_DONE"), "w") as f:
        json.dump(asdict(shape), f)
    return d


def page_of(url: str) -> int:
    return int(url.rsplit("/", 1)[1])


def seed_urls(seed: int, shape: WorldShape, n: int) -> list[str]:
    """``n`` distinct seed URLs drawn uniformly from the world's pages."""
    rng = random.Random(f"seeds/{seed}/{shape.key}")
    ids = rng.sample(range(shape.n_urls), n)
    return [datagen.url_of(i, shape.n_hosts) for i in ids]


def write_run_world(work: str, shape: WorldShape, urls: list[str], d: str) -> str:
    """World directory ``d`` for one run: the cached world's tables
    linked in, plus this run's own ``seeds`` table (``crawl`` reads the
    seed list from ``<world>/seeds``)."""
    src = world_dir(work, shape)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "seeds"))
    for table in ("linkgraph", "images", "robots"):
        os.symlink(os.path.join(src, table), os.path.join(d, table))
    pq.write_table(
        pa.table(
            {
                "url": pa.array(urls, pa.string()),
                "priority": pa.array(
                    [datagen.priority_of(page_of(u)) for u in urls],
                    pa.int32(),
                ),
            }
        ),
        os.path.join(d, "seeds", "part-0.parquet"),
    )
    return d


def invalidation_batch(seed: int, fetched_urls: list[str], n: int) -> list[str]:
    """A seeded sample of ``n`` already-fetched URLs to revoke."""
    rng = random.Random(f"invalidate/{seed}")
    return sorted(rng.sample(sorted(fetched_urls), n))


# Same shape as the documents table of the repository's test data: each
# text is a uniform draw of 10-100 words from this 30-word vocabulary.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


@dataclass(frozen=True)
class CorpusShape:
    n_docs: int = 20000
    n_families: int = 1000
    max_copies: int = 4
    min_family_words: int = 40
    edit_frac: float = 0.04


def make_corpus(seed: int, shape: CorpusShape) -> tuple[list[tuple[int, str]], list[list[int]]]:
    """``(docs, families)``: ``n_docs`` background documents plus planted
    near-duplicate families. Each family is one background document with
    at least ``min_family_words`` words and 1..``max_copies`` copies, each
    with ``edit_frac`` of its words substituted. ``families`` lists the
    doc ids of each family, original first."""
    rng = random.Random(f"corpus/{seed}")
    docs = [
        (i, " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100))))
        for i in range(shape.n_docs)
    ]
    long_ids = [i for i, t in docs if len(t.split()) >= shape.min_family_words]
    families = []
    next_id = shape.n_docs
    for base in rng.sample(long_ids, shape.n_families):
        words = docs[base][1].split()
        fam = [base]
        for _ in range(rng.randint(1, shape.max_copies)):
            w = list(words)
            for pos in rng.sample(range(len(w)), max(1, int(len(w) * shape.edit_frac))):
                w[pos] = rng.choice([v for v in VOCAB if v != w[pos]])
            docs.append((next_id, " ".join(w)))
            fam.append(next_id)
            next_id += 1
        families.append(fam)
    return docs, families


def write_corpus(path: str, docs: list[tuple[int, str]]) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d for d, _ in docs], pa.int64()),
                "text": pa.array([t for _, t in docs], pa.string()),
            }
        ),
        os.path.join(path, "part-0.parquet"),
    )
