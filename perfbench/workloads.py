"""The benchmark's workloads.

Each workload is a closed loop of jobs run from one driver process: the
next job starts only after the previous one has finished and been
checked. A job calls the public functions of ``whakoom_webscrapper_spark``
on the inputs that ``inputs`` generates from the run's seed, and reports its
wall time, the items it committed, the wall time of each of its steps,
the bytes it committed, and the mismatches its correctness gate found.

In a traced job (``ctx.tracer.on``) every committed crawl epoch is
followed by a replay of each crawl layer's public function on that
epoch's committed inputs, forced with one action, so per-layer busy
time can be read off the spans (see ``replay_epoch``).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from whakoom_webscrapper_spark import datagen
from whakoom_webscrapper_spark.functions import urls as U
from whakoom_webscrapper_spark.operators import bloom as BL
from whakoom_webscrapper_spark.operators import components as C
from whakoom_webscrapper_spark.operators import cuckoo as CK
from whakoom_webscrapper_spark.operators import dedup as D
from whakoom_webscrapper_spark.operators import extract, politeness
from whakoom_webscrapper_spark.operators.fetch import validate_images
from whakoom_webscrapper_spark.plans import frontier as FP

import checks
import inputs
from tracing import Tracer


@dataclass
class Ctx:
    spark: object
    work: str
    partitions: int
    tracer: Tracer


@dataclass
class Job:
    wall_s: float
    items: int
    steps: list[float]
    state_bytes: int
    errors: list[str] = field(default_factory=list)


def du(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, not following links."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.lstat(os.path.join(d, n)).st_size
            files += 1
    return total, files


def _crawl(ctx: Ctx, cfg: FP.CrawlConfig, resume: bool) -> tuple[dict, list[float]]:
    """``FP.crawl`` with ``FP.run_epoch`` wrapped at module level: each
    epoch's wall time is recorded as a step and, when tracing, the
    epoch's layers are replayed once it has committed."""
    tr = ctx.tracer
    steps: list[float] = []
    orig = FP.run_epoch
    call = time.time()

    def run_epoch(spark, cfg_, epoch, linkgraph, images, robots, filt):
        if not steps:
            tr.add("crawl.lead_s", time.time() - call)
        with tr.span("frontier.run_epoch") as sp:
            stats = orig(spark, cfg_, epoch, linkgraph, images, robots, filt)
        steps.append(sp["end"] - sp["start"])
        if tr.on:
            replay_epoch(ctx, cfg_, epoch, linkgraph, images, robots, filt)
        return stats

    FP.run_epoch = run_epoch
    try:
        result = FP.crawl(ctx.spark, cfg, resume=resume, overwrite=not resume)
    finally:
        FP.run_epoch = orig
    if tr.on:
        _record_epochs(ctx, cfg, result)
    return result, steps


def replay_epoch(ctx: Ctx, cfg, epoch: int, linkgraph, images, robots, filt) -> None:
    """Re-run each crawl layer's public function on the inputs epoch
    ``epoch`` committed, forcing each with one action inside a span."""
    spark, tr = ctx.spark, ctx.tracer

    def path(*parts):
        return os.path.join(cfg.state_dir, *parts)

    # politeness: admission over the epoch's eligible frontier
    eligible = spark.read.parquet(path("frontier", f"epoch={epoch}")).filter(
        F.col("eligible_epoch") <= epoch
    )
    tokens = None
    if cfg.token_carryover:
        prev = path("hosttokens", f"epoch={epoch - 1}")
        carry = spark.read.parquet(prev) if epoch > 0 and os.path.isdir(prev) else None
        tokens = politeness.accrue_tokens(robots, carry, cfg.burst_factor)
    admitted, _ = politeness.admit_per_host(
        eligible, robots, cfg.n_salts, cfg.default_budget, tokens
    )
    with tr.span("politeness.admit_per_host"):
        tr.add("politeness.admitted", admitted.count())
    tr.add("politeness.eligible", eligible.count())

    # extract: out-links of the pages the epoch fetched
    pages = spark.read.parquet(path("pages", f"epoch={epoch}"))
    with tr.span("extract.extracted_hrefs"):
        hrefs = (
            pages.select("url")
            .join(linkgraph.select("url", "html"), "url")
            .select(F.explode(extract.extracted_hrefs(F.col("html"))).alias("url"))
            .localCheckpoint(eager=True)
        )
    tr.add("extract.links", hrefs.count())

    # urls: canonicalize, hash and bucket the discovered links
    with tr.span("urls.canonicalize"):
        host = U.url_host(F.col("url"))
        hrefs.select(
            F.xxhash64(U.canonicalize_url(F.col("url"))).alias("h"),
            U.host_bucket(host, cfg.host_buckets).alias("b"),
        ).agg(F.max("h"), F.max("b")).collect()

    # seen filter: probe the discovered keys against the live Bloom filter
    cand = (
        FP.make_frontier_rows(hrefs, cfg, epoch + 1, epoch + 1)
        .select("url_hash")
        .distinct()
        .localCheckpoint(eager=True)
    )
    _, maybe = BL.prefilter_maybe_seen(cand, "url_hash", filt, spark)
    maybe = maybe.localCheckpoint(eager=True)
    seen = FP.read_seen(spark, cfg).select("url_hash")
    tr.add("seen_filter.probes", cand.count())
    tr.add("seen_filter.maybe_seen", maybe.count())
    tr.add("seen_filter.useful", maybe.join(seen, "url_hash", "left_semi").count())
    tr.counts["seen_filter.bytes"] = sum(len(s.to_bytes()) for s in filt.shards)

    # fetch: decode and validate the epoch's payloads again
    fetched = pages.select("page_id", "image_id").join(
        images.select("image_id", "bytes", "fmt", "phash", "caption"), "image_id"
    )
    with tr.span("fetch.validate_images"):
        tr.add("fetch.pages", validate_images(fetched).count())


def _record_epochs(ctx: Ctx, cfg, result: dict) -> None:
    """Per-epoch phases from the commit markers, committed bytes and
    files per epoch, and the committed ``decode_ms`` column."""
    tr = ctx.tracer
    for s in result["stats"]:
        for phase, secs in s.get("phases", {}).items():
            tr.add(f"frontier.phase.{phase}_s", secs)
        for sub in ("pages", "seen", "frontier", "lineage", "hosttokens"):
            b, n = du(os.path.join(cfg.state_dir, sub, f"epoch={s['epoch']}"))
            tr.add("state.bytes", b)
            tr.add("state.files", n)
    tr.add("epochs", len(result["stats"]))
    row = (
        ctx.spark.read.parquet(os.path.join(cfg.state_dir, "pages"))
        .filter(F.col("epoch").isin([s["epoch"] for s in result["stats"]]))
        .agg(F.sum("decode_ms"), F.count(F.lit(1)))
        .first()
    )
    tr.add("fetch.decode_ms_sum", row[0] or 0.0)
    tr.add("fetch.decode_rows", row[1])


def _fetch_log(spark, cfg, after: int) -> list[tuple]:
    """(epoch, host, host rank, url, priority, discovery time) of every
    page fetched after epoch ``after``."""
    pages = spark.read.parquet(os.path.join(cfg.state_dir, "pages"))
    cols = ("fetch_epoch", "host", "host_rank", "url", "priority", "discovery_time")
    return [
        tuple(r) for r in pages.filter(F.col("fetch_epoch") > after).select(*cols).collect()
    ]


def _invalid_pages(spark, cfg, after: int) -> int:
    """Pages fetched after epoch ``after`` whose payload failed
    validation (pHash, pixels or caption)."""
    pages = spark.read.parquet(os.path.join(cfg.state_dir, "pages"))
    ok = F.col("phash_match") & F.col("pixel_ok") & F.col("caption_match")
    return pages.filter((F.col("fetch_epoch") > after) & ~ok).count()


def _seen_set(spark, cfg) -> set[tuple[str, str]]:
    return {
        (r["url"], r["status"])
        for r in FP.read_seen(spark, cfg).select("url", "status").collect()
    }


class Recrawl:
    """Revoke a seeded batch of fetched URLs from a restored crawl state
    and resume the crawl until the batch is fetched again.

    The job builds a live cuckoo filter of the effective seen set
    (``build_cuckoo``) so ``invalidate_urls`` deletes the batch from it
    (``delete_keys_distributed``) besides appending to the revocation
    ledger and upserting the next frontier (``upsert_parquet``). The
    resume cleans up, rebuilds a Bloom filter from the effective seen set
    (the ledger subtraction in ``read_seen``) and runs the epochs: robots
    and token-bucket admission, the fetch join, payload decode and
    validation, HTML link extraction, URL canonicalization, the Bloom
    probe and fold, and the epoch's writes."""

    name = "recrawl"
    why = (
        "closed loop, one job at a time from a fresh driver: revoke a seeded "
        "batch of fetched URLs and resume the crawl; every crawl layer, both "
        "seen filters, decode on"
    )
    shape = inputs.WorldShape(n_urls=3000, n_hosts=600, fanout=12, budget_scale=5)
    snapshot_seeds = 200
    batch = 800
    # timed jobs include the driver's first, as `jobs/invalidate.py` and
    # `jobs/crawl.py --resume` run it; only the traced run warms up first
    warm_up = False
    warm_batch = 50
    max_epochs = 100

    def _cfg(self, ctx: Ctx, state: str, seen_filter: str, profile: bool = False):
        return FP.CrawlConfig(
            state_dir=state,
            world_dir=os.path.join(self.snap, "world"),
            max_epochs=self.max_epochs,
            frontier_partitions=ctx.partitions,
            seen_filter=seen_filter,
            bloom_capacity=10 * self.shape.n_urls,
            profile_phases=profile,
        )

    def build(self, ctx: Ctx) -> None:
        """Crawl the world to exhaustion once with the cuckoo filter,
        check it against the golden model and keep it as the snapshot
        every run restores."""
        inputs.ensure_world(ctx.spark, ctx.work, self.shape, ctx.partitions)
        self.snap = os.path.join(ctx.work, "snapshots", f"recrawl_{self.shape.key}")
        if os.path.exists(os.path.join(self.snap, "_DONE")):
            return
        shutil.rmtree(self.snap, ignore_errors=True)
        urls = inputs.seed_urls(0, self.shape, self.snapshot_seeds)
        inputs.write_run_world(
            ctx.work, self.shape, urls, os.path.join(self.snap, "world")
        )
        cfg = self._cfg(ctx, os.path.join(self.snap, "state"), "cuckoo")
        result = FP.crawl(ctx.spark, cfg, overwrite=True)
        log = [r[:4] for r in _fetch_log(ctx.spark, cfg, -1)]
        seen = _seen_set(ctx.spark, cfg)
        golden = checks.golden_crawl(self.shape, urls, self.max_epochs)
        errors = checks.crawl_vs_golden(
            seen, log, *golden, _invalid_pages(ctx.spark, cfg, -1)
        )
        if errors:
            raise RuntimeError(f"recrawl snapshot crawl is wrong: {errors}")
        with open(os.path.join(self.snap, "snapshot.json"), "w") as f:
            json.dump(
                {
                    "last_epoch": result["last_epoch"],
                    "seen": sorted(seen),
                    "fetched": sorted({r[3] for r in log}),
                },
                f,
            )
        open(os.path.join(self.snap, "_DONE"), "w").close()

    def prepare(self, ctx: Ctx, seed: int) -> None:
        self.snap = os.path.join(ctx.work, "snapshots", f"recrawl_{self.shape.key}")
        with open(os.path.join(self.snap, "snapshot.json")) as f:
            snap = json.load(f)
        self.last_epoch = snap["last_epoch"]
        self.seen_before = {tuple(r) for r in snap["seen"]}
        # pages that fetch at the first attempt, so the resume re-fetches
        # the whole batch in one epoch
        clean = [
            u for u in snap["fetched"]
            if not datagen.fail_attempts_of(inputs.page_of(u))
        ]
        self.urls = inputs.invalidation_batch(seed, clean, self.batch)
        self.state = os.path.join(ctx.work, "runs", self.name, "state")
        self.snap_bytes = du(os.path.join(self.snap, "state"))[0]

    def restore(self, ctx: Ctx) -> None:
        shutil.rmtree(self.state, ignore_errors=True)
        shutil.copytree(os.path.join(self.snap, "state"), self.state)

    def warmup(self, ctx: Ctx) -> Job:
        job = self._run(ctx, self.urls[: self.warm_batch])
        self.restore(ctx)
        return job

    def job(self, ctx: Ctx) -> Job:
        return self._run(ctx, self.urls)

    def _run(self, ctx: Ctx, urls: list[str]) -> Job:
        spark, tr = ctx.spark, ctx.tracer
        cfg = self._cfg(ctx, self.state, "bloom", profile=tr.on)
        t0 = time.perf_counter()
        with tr.span("recrawl.invalidate"):
            live = CK.build_cuckoo(
                FP.read_seen(spark, cfg),
                "url_hash",
                CK.ShardedCuckoo.sized_for(
                    cfg.bloom_capacity, cfg.bloom_fpr, cfg.bloom_shards
                ),
            )
            res = FP.invalidate_urls(
                spark, cfg, spark.createDataFrame([(u,) for u in urls], ["url"]),
                filt=live,
            )
        result, steps = _crawl(ctx, cfg, resume=True)
        wall = time.perf_counter() - t0
        errors = []
        if res["invalidated"] != len(urls) or res["filter"] != f"deleted:{len(urls)}":
            errors.append(f"invalidate_urls returned {res}")
        invalid = _invalid_pages(spark, cfg, self.last_epoch)
        tr.add("fetch.invalid_pages", invalid)
        errors += checks.recrawl(
            _fetch_log(spark, cfg, self.last_epoch), urls,
            _seen_set(spark, cfg), self.seen_before, invalid,
        )
        state_bytes = du(self.state)[0] - self.snap_bytes
        return Job(wall, result["total_fetched"], steps, state_bytes, errors)


class CorpusDedup:
    """The crawl's downstream consumer: near-duplicate removal over a
    seeded corpus with planted families. Uses no crawl layer."""

    name = "corpus_dedup"
    why = (
        "closed loop, one job at a time after a warm-up job: MinHash-LSH, "
        "Jaccard verify and connected components on a seeded corpus with "
        "planted duplicates; no crawl layer"
    )
    shape = inputs.CorpusShape()
    tau = 0.5
    shingle_k = 3
    recall_floor = 0.8
    # a cold first dedup job is ~80% JVM and Spark start-up, which would
    # hide the dedup layers, so timed jobs follow a small warm-up job
    warm_up = True
    warm_shape = inputs.CorpusShape(n_docs=300, n_families=20)

    def build(self, ctx: Ctx) -> None:
        pass

    def prepare(self, ctx: Ctx, seed: int) -> None:
        run = os.path.join(ctx.work, "runs", self.name)
        self.inputs = {}
        for name, shape in (("job", self.shape), ("warmup", self.warm_shape)):
            docs, families = inputs.make_corpus(seed, shape)
            corpus = os.path.join(run, name, "corpus")
            shutil.rmtree(corpus, ignore_errors=True)
            inputs.write_corpus(corpus, docs)
            self.inputs[name] = (
                corpus,
                os.path.join(run, name, "survivors"),
                {d: checks.shingles(t, self.shingle_k) for d, t in docs},
                families,
            )

    def restore(self, ctx: Ctx) -> None:
        pass

    def warmup(self, ctx: Ctx) -> Job:
        return self._run(ctx, *self.inputs["warmup"])

    def job(self, ctx: Ctx) -> Job:
        return self._run(ctx, *self.inputs["job"])

    def _run(self, ctx: Ctx, corpus: str, out: str, sh: dict, families: list) -> Job:
        spark, tr = ctx.spark, ctx.tracer
        t0 = time.perf_counter()
        docs = spark.read.parquet(corpus)
        with tr.span("dedup.lsh_candidate_pairs_fast"):
            cand = D.lsh_candidate_pairs_fast(docs, shingle_k=self.shingle_k)
            if tr.on:
                cand = cand.localCheckpoint(eager=True)
        with tr.span("dedup.verify_pairs_jaccard"):
            pairs = D.verify_pairs_jaccard(
                docs, cand, shingle_k=self.shingle_k, tau=self.tau
            ).localCheckpoint(eager=True)
        with tr.span("components.connected_components"):
            cc = C.connected_components(pairs, src="id_a", dst="id_b")
        with tr.span("components.dedup_canonical"):
            C.dedup_canonical(
                docs, pairs, "doc_id", src="id_a", dst="id_b", components=cc
            ).write.mode("overwrite").parquet(out)
        wall = time.perf_counter() - t0
        verified = [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs.collect()]
        survivors = {
            r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
        }
        errors = checks.dedup(sh, verified, survivors, self.tau)
        recall = checks.planted_recall(
            families, sh, [(a, b) for a, b, _ in verified], self.tau
        )
        if recall < self.recall_floor:
            errors.append(f"planted-family recall {recall:.3f} < {self.recall_floor}")
        if tr.on:
            tr.add("dedup.recall", recall)
            tr.add("dedup.verified", len(verified))
            tr.add("dedup.candidates", cand.count())
            tr.add("components.clusters", cc.select("component").distinct().count())
        return Job(wall, len(sh), [wall], du(out)[0], errors)


WORKLOADS = {w.name: w for w in (Recrawl, CorpusDedup)}
