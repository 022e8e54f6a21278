"""The crawl frontier: an iterative, checkpointed Spark dataflow.

This replaces the reference's sequential crawl loop — Scrapy scheduler +
dupefilter + robots middleware + AutoThrottle + retry pipeline
(reference: spiders/lists.py:19-55, settings.py:68,119-139,
pipelines.py:88-122) — with a driver loop of bounded DataFrame jobs
(SURVEY.md §2.8: epochs, not Structured Streaming, so checkpoint and
lineage stay explicit).

One epoch K:

    frontier(K) ──eligible(K)──► admit_per_host (priority, discovery_time,
        │                        url order; budget tokens per host)
        │                               │
        │                        fetch = join linkgraph ⋈ images
        │                               │
        │                ┌── retryable fail (attempt+1, backoff 2^a epochs)
        │                ├── permanent fail / missing ──► seen(status=failed)
        │                └── success ──validate UDF──► pages + seen(fetched)
        │                               │
        │                        discovered out-links
        │                        (robots entry filter → disallowed → seen)
        └── carry/deferred ─────────────┤
                                        ▼
          union → window-dedup(url_hash) → Bloom prefilter → exact
          anti-join vs seen  ══►  frontier(K+1)

Durability contract (reference analog: scrape_status + scraping_log,
001_initial_schema.sql:8,97-106): every epoch writes pages/epoch=K,
seen/epoch=K, frontier/epoch=K+1, lineage/epoch=K, THEN the commit
marker. Resume = max committed epoch + cleanup of uncommitted dirs →
re-running an interrupted epoch is idempotent (all writes are
deterministic overwrites of epoch-scoped paths).

Why the epoch-marker protocol and not the snapshot-pointer tables of
operators/upsert.py (VERDICT r3 task 7 — one commit protocol for crawl
state, decided deliberately): crawl state is APPEND-ONLY per epoch —
pages/seen/lineage gain an epoch=K partition and never rewrite earlier
ones, and the epoch number is itself the version. A snapshot-pointer
table would re-merge and re-write the full accumulated table every
epoch (O(total state) per commit — exactly the write amplification
Iceberg's fast-append avoids by adding manifests, which is what the
marker emulates here), for no isolation gain: the one marker file per
epoch already gives readers all-or-nothing visibility, the four
epoch-K writes commute (any prefix is invisible until the marker), and
re-running an uncommitted epoch is a deterministic overwrite.
``snapshot_upsert`` remains the protocol for MUTABLE merge tables
(K1/K4 upserts), where rewriting is the semantics. The crash window —
die after some epoch-K writes, before the marker — is pinned by
tests/test_frontier.py::test_crash_between_writes_and_marker_resumes_exact.

Scale notes (10^10 design point):
- frontier(K+1) is written ``repartitionByRange`` over (priority,
  host_bucket, url) — global priority order across files, hot hosts
  spread by bucket salt (BASELINE.json:6,14).
- the seen set is the only monotonically-growing state; its anti-join is
  pre-filtered by the incrementally-maintained broadcast Bloom
  (operators/bloom.py) so the shuffle carries ~FPR of the frontier.
- all counts come from cached epoch DataFrames; nothing iterates
  driver-side over rows.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from whakoom_webscrapper_spark.functions import text as TXT
from whakoom_webscrapper_spark.functions import urls as U
from whakoom_webscrapper_spark.operators import cuckoo as CK
from whakoom_webscrapper_spark.operators import extract, politeness
from whakoom_webscrapper_spark.operators.bloom import (
    ShardedBloom,
    ShardedFilter,
    add_keys_distributed,
    build_bloom,
    prefilter_maybe_seen,
)
from whakoom_webscrapper_spark.operators.fetch import (
    fail_attempts_expr,
    page_id,
    validate_images,
)
from whakoom_webscrapper_spark.operators.upsert import upsert_parquet

MAX_ATTEMPTS = 3  # reference: pipelines.py:88-89

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("host_bucket", T.IntegerType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("discovery_time", T.LongType(), False),
        T.StructField("attempt", T.IntegerType(), False),
        T.StructField("eligible_epoch", T.IntegerType(), False),
    ]
)


@dataclass
class CrawlConfig:
    state_dir: str
    world_dir: str
    max_epochs: int = 50
    n_salts: int = 8
    host_buckets: int = 256
    token_carryover: bool = True  # U6: unspent tokens accrue (cap burst x budget)
    burst_factor: int = politeness.BURST_FACTOR
    # approximate seen-set prefilter: "bloom" (default), "cuckoo"
    # (operators/cuckoo.py — deletion-capable, ~80x tighter FPR at ~2.4
    # bytes/key; the north rule names both; one shared sharding/broadcast/
    # fold layer either way) or "none" (every candidate faces the exact
    # anti-join against seen)
    seen_filter: str = "bloom"
    bloom_fpr: float = 0.01
    bloom_capacity: int = 1_000_000
    bloom_shards: int = 16  # B in pmod(url_hash, B); 256 at the design point
    frontier_partitions: int = 32
    validate: bool = True  # decode/phash/caption checks on every fetched row
    default_budget: int = politeness.DEFAULT_BUDGET
    collect_stats: bool = True  # False → skip non-essential per-epoch counts
    # fetch-join strategy (sources/bucketed.py): "broadcast" | "bucketed" |
    # "auto" (auto = broadcast while the admitted set stays under
    # broadcast_fetch_max rows, bucketed beyond — requires the bucketed_*
    # tables to have been ingested via sources.bucketed.write_bucketed_world)
    fetch_join: str = "auto"
    broadcast_fetch_max: int = 2_000_000
    bucketed_linkgraph: str | None = None
    bucketed_images: str | None = None
    # True → force each phase's persisted frame at its mark() boundary so
    # the per-epoch phase timers attribute EXECUTION time to the phase
    # that did the work. Execution is lazy by default, so without this
    # nearly all wall lands in the phase holding the first action (the
    # frontier count) — the default keys are therefore plan_*/exec_*
    # (honest names for "driver time between plan-construction points").
    # Profiling adds one count() job per phase and removes the
    # write-thread overlap of compute, so it changes throughput: keep it
    # OFF for scaling campaigns, ON only for decomposition probes.
    profile_phases: bool = False
    stats: list = field(default_factory=list)


# ---------------------------------------------------------------------------
# State paths + commit protocol
# ---------------------------------------------------------------------------
def _p(cfg: CrawlConfig, *parts: str) -> str:
    return os.path.join(cfg.state_dir, *parts)


def _commit_path(cfg: CrawlConfig, epoch: int) -> str:
    return _p(cfg, "lineage", f"_commit_epoch_{epoch}.json")


def committed_epochs(cfg: CrawlConfig) -> list[int]:
    return sorted(
        int(os.path.basename(p).split("_")[-1].split(".")[0])
        for p in glob.glob(_p(cfg, "lineage", "_commit_epoch_*.json"))
    )


def cleanup_uncommitted(cfg: CrawlConfig) -> None:
    """Remove partial writes from an interrupted epoch so a re-run is a
    clean overwrite (the Spark analog of the reference's transaction
    rollback, sqlmanager.py:249-264).

    Negative epochs are init-time state (seen/epoch=-1 holds
    robots-disallowed seeds, written by init_state before any commit
    marker exists) — they are durable by construction and must survive
    cleanup, otherwise a resumed crawl diverges from an uninterrupted
    one whenever a seed is disallowed."""
    done = set(committed_epochs(cfg))
    nxt = (max(done) + 1) if done else 0
    for sub in ("pages", "seen", "lineage", "hosttokens"):
        for d in glob.glob(_p(cfg, sub, "epoch=*")):
            e = int(d.rsplit("=", 1)[1])
            if e < 0 or e in done:
                continue
            shutil.rmtree(d, ignore_errors=True)
    for d in glob.glob(_p(cfg, "frontier", "epoch=*")):
        if int(d.rsplit("=", 1)[1]) > nxt:
            shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Frontier row construction (entry point for seeds and discovered URLs)
# ---------------------------------------------------------------------------
def make_frontier_rows(
    urls_df: DataFrame, cfg: CrawlConfig, discovery_time: int, eligible_epoch: int
) -> DataFrame:
    """Canonicalize → hash → host/bucket → frontier schema. ``urls_df``
    needs a ``url`` column; ``priority`` is derived from the page id (a
    pure function both the engine and the golden simulator share,
    datagen.priority_of)."""
    canon = U.canonicalize_url(F.col("url"))
    host = U.url_host(F.col("url"))
    pid = page_id(F.col("url"))
    # page_id regexp-extracts /page/(\d+)$; a URL outside that shape yields
    # NULL, which would violate the non-null FRONTIER_SCHEMA and corrupt
    # admission ordering downstream. Coalesce to the lowest priority (9)
    # so foreign URLs still crawl (last), never silently NULL-propagate.
    return urls_df.select(
        F.xxhash64(canon).alias("url_hash"),
        canon.alias("url"),
        host.alias("host"),
        U.host_bucket(host, cfg.host_buckets).alias("host_bucket"),
        F.coalesce(((pid * 40503) % 10).cast("int"), F.lit(9)).alias("priority"),
        F.lit(discovery_time).cast("long").alias("discovery_time"),
        F.lit(0).cast("int").alias("attempt"),
        F.lit(eligible_epoch).cast("int").alias("eligible_epoch"),
    )


def dedup_frontier(df: DataFrame) -> DataFrame:
    """Frontier invariant: unique url_hash. Keep the earliest discovery
    (then highest attempt, so a retrying row wins over a rediscovery) —
    deterministic total order (J1, SURVEY.md §2.4)."""
    w = Window.partitionBy("url_hash").orderBy(
        F.asc("discovery_time"), F.desc("attempt"), F.asc("eligible_epoch")
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# The epoch step
# ---------------------------------------------------------------------------
def _read_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    if not glob.glob(os.path.join(path, "*.parquet")) and not glob.glob(
        os.path.join(path, "*", "*.parquet")
    ):
        return None
    return spark.read.parquet(path)


def read_seen(
    spark: SparkSession, cfg: CrawlConfig, effective: bool = True
) -> DataFrame | None:
    """The URL-seen set. ``effective=True`` (every crawl consumer)
    subtracts the ``invalidations`` ledger: a seen row is dead once a
    later-or-equal-epoch revocation exists for its hash, so invalidated
    URLs become crawlable again WITHOUT rewriting any append-only seen
    partition — a re-fetch lands at a later epoch and survives the
    subtraction. The common case (no ledger) costs one glob."""
    seen = _read_or_none(spark, _p(cfg, "seen"))
    if seen is None or not effective:
        return seen
    inv = _read_or_none(spark, _p(cfg, "invalidations"))
    if inv is None:
        return seen
    latest = inv.groupBy("url_hash").agg(
        F.max("revoked_epoch").alias("_revoked_epoch")
    )
    # ledger is small vs seen → Spark broadcasts the anti-join build side
    return seen.join(
        latest,
        (seen["url_hash"] == latest["url_hash"])
        & (seen["epoch"] <= latest["_revoked_epoch"]),
        "left_anti",
    )


def invalidate_urls(
    spark: SparkSession,
    cfg: CrawlConfig,
    urls_df: DataFrame,
    filt: ShardedFilter | None = None,
    discovery_time: int = 0,
    max_live_delete: int = 5_000_000,
) -> dict:
    """Re-crawl invalidation — the deletion use-case the cuckoo backend
    exists for (U7; reference parity: Scrapy can only re-crawl by
    restarting with ``dont_filter`` — there is no per-URL dupefilter
    removal). Removes previously crawled URLs from the EFFECTIVE seen
    set and re-enqueues them, so ``crawl(resume=True)`` fetches them
    again. Offline, single-writer — same assumption as every state
    mutation in this module.

    Mechanics:
      1. canonicalize+hash the input ``url`` column; keep only hashes in
         the effective seen set (never-seen URLs belong in the seed path;
         already-revoked ones must not be revoked twice, which would
         double-delete colliding fingerprints from a live cuckoo filter)
      2. append ``(url_hash, revoked_epoch=last committed epoch)`` to the
         ledger — a distributed write to a temp dir renamed atomically
         into ``invalidations/batch=<uuid>``; crash before the rename
         leaves no ledger entry and no frontier row (step 3 runs after),
         i.e. the invalidation simply didn't happen
      3. upsert frontier rows into ``frontier/epoch=<next>`` via the
         rename-swap protocol; rows still pending in the frontier keep
         their existing entry (ordering determinism unchanged)
      4. maintain the live filter: cuckoo deletes the keys via the
         distributed per-shard fold (``CK.delete_keys_distributed`` —
         executors pack per-shard key cells, the driver streams and
         deletes shard-by-shard; peak driver residency is one
         partition's packed cells, never the whole batch) as long as
         the batch is ≤ ``max_live_delete``. Above that, ledger-only
         mode: skip live deletes (``filter: ledger_only``) — the cuckoo
         then over-approximates exactly like Bloom until a resume
         rebuild, which is safe because the prefilter's maybe-seen rows
         always face the exact anti-join against the EFFECTIVE seen set
         (read_seen subtracts this ledger), so re-enqueued URLs crawl
         again in either mode. Bloom cannot delete at all →
         ``filter: rebuild_required`` (same over-approximation story).
    """
    import uuid as _uuid

    # sweep stale temp dirs from interrupted prior invalidations
    for stale in glob.glob(_p(cfg, "__invtmp_*")):
        shutil.rmtree(stale, ignore_errors=True)

    done = committed_epochs(cfg)
    last = max(done) if done else -1
    nxt = last + 1
    seen = read_seen(spark, cfg)
    if seen is None:
        return {"invalidated": 0, "revoked_epoch": last, "filter": "none"}
    # SNAPSHOT the row set to disk before touching the ledger: `rows`
    # derives from the effective seen view, so a lazy recompute after the
    # ledger batch lands (cache eviction) would see its own revocations
    # and silently produce an empty re-enqueue set — break the lineage
    tmp_rows = _p(cfg, f"__invtmp_rows_{_uuid.uuid4().hex[:8]}")
    dedup_frontier(
        make_frontier_rows(urls_df.select("url"), cfg, discovery_time, nxt)
    ).join(
        seen.select("url_hash").distinct(), "url_hash", "left_semi"
    ).write.mode("overwrite").parquet(tmp_rows)
    rows = spark.read.parquet(tmp_rows)
    n = rows.count()
    if n == 0:
        shutil.rmtree(tmp_rows, ignore_errors=True)
        return {"invalidated": 0, "revoked_epoch": last, "filter": "none"}

    filter_mode = "none"
    if isinstance(filt, CK.ShardedCuckoo):
        if n <= max_live_delete:
            found, _total = CK.delete_keys_distributed(filt, rows, "url_hash")
            filter_mode = f"deleted:{found}"
        else:
            # bulk revocation: even streamed O(|batch|) key transfer is
            # not worth it — leave the filter over-approximate (the
            # exact anti-join vs the effective seen set keeps
            # correctness) and let resume rebuild distributed
            filter_mode = "ledger_only"
    elif filt is not None:
        filter_mode = "rebuild_required"

    ledger = rows.select(
        "url_hash", F.lit(last).cast("int").alias("revoked_epoch")
    )
    inv_dir = _p(cfg, "invalidations")
    os.makedirs(inv_dir, exist_ok=True)
    tmp = _p(cfg, f"__invtmp_{_uuid.uuid4().hex[:8]}")
    ledger.write.mode("overwrite").parquet(tmp)
    os.rename(tmp, os.path.join(inv_dir, f"batch={_uuid.uuid4().hex[:8]}"))

    fpath = _p(cfg, "frontier", f"epoch={nxt}")
    existing = _read_or_none(spark, fpath)
    if existing is None:
        rows.write.mode("overwrite").parquet(fpath)
    else:
        add = rows.join(existing.select("url_hash"), "url_hash", "left_anti")
        upsert_parquet(spark, fpath, add, keys=["url_hash"])
    shutil.rmtree(tmp_rows, ignore_errors=True)
    return {"invalidated": n, "revoked_epoch": last, "filter": filter_mode}


def compact_invalidations(spark: SparkSession, cfg: CrawlConfig) -> int:
    """Fold the revocation ledger's ``batch=*`` partitions into one
    (keeping per-hash max revoked_epoch), so ``read_seen``'s per-epoch
    subtraction reads one compact batch instead of one dir per
    historical ``invalidate_urls`` call. Crash-safe without multi-dir
    atomicity: the compacted batch lands FIRST (atomic rename), and
    only then are the source batches removed — any crash leaves a
    ledger whose union still aggregates to the same per-hash max
    (duplicate rows are idempotent under ``max``). Offline,
    single-writer. Returns the number of source batches folded."""
    import uuid as _uuid

    for stale in glob.glob(_p(cfg, "__invtmp_*")):
        shutil.rmtree(stale, ignore_errors=True)
    inv_dir = _p(cfg, "invalidations")
    old = sorted(glob.glob(os.path.join(inv_dir, "batch=*")))
    if len(old) <= 1:
        return 0
    compacted = (
        spark.read.parquet(inv_dir)
        .groupBy("url_hash")
        .agg(F.max("revoked_epoch").alias("revoked_epoch"))
    )
    tmp = _p(cfg, f"__invtmp_compact_{_uuid.uuid4().hex[:8]}")
    compacted.write.mode("overwrite").parquet(tmp)
    os.rename(tmp, os.path.join(inv_dir, f"batch={_uuid.uuid4().hex[:8]}"))
    for d in old:
        shutil.rmtree(d, ignore_errors=True)
    return len(old)


def _observed_n(obs: Observation, df: DataFrame) -> int:
    """The ``n`` row count ``obs`` collected on the persisted ``df``.

    Spark completes an Observation with the first query whose plan holds
    it even if that query skipped the observed node (AQE drops the side
    of an anti-join whose other side is empty — an epoch whose pages all
    fail their last attempt). The observation then holds an empty row
    that ``Observation.get`` cannot convert; only then is ``df`` counted,
    from its cache."""
    row = obs._jo.getRow()
    return int(row.getLong(0)) if row.length() else df.count()


def run_epoch(
    spark: SparkSession,
    cfg: CrawlConfig,
    epoch: int,
    linkgraph: DataFrame,
    images: DataFrame,
    robots: DataFrame,
    filt: ShardedFilter | None,
) -> dict:
    t0 = time.perf_counter()
    phases: dict[str, float] = {}
    _last = [t0]
    # Lazy-mode keys say what the interval actually contains: plan
    # construction for the first three (execution hasn't happened yet),
    # execution of the whole upstream chain for the frontier count, and
    # the write jobs. Profiled mode forces each phase's persisted frame
    # at its boundary, so the plain names are then truthful.
    _lazy_names = {
        "admit": "plan_admit",
        "fetch_validate": "plan_fetch_validate",
        "resolve": "plan_resolve",
        "frontier_build": "exec_frontier_build",
        "writes": "exec_writes",
    }

    def mark(name: str) -> None:
        now = time.perf_counter()
        key = name if cfg.profile_phases else _lazy_names[name]
        phases[key] = round(now - _last[0], 3)
        _last[0] = now

    def force(df: DataFrame) -> None:
        # materialization boundary: populate the persisted frame NOW so
        # the enclosing phase timer owns its execution cost
        if cfg.profile_phases:
            df.count()

    frontier = spark.read.parquet(_p(cfg, "frontier", f"epoch={epoch}"))

    eligible = frontier.filter(F.col("eligible_epoch") <= epoch)
    carry = frontier.filter(F.col("eligible_epoch") > epoch)

    # ---- token-bucket accrual (U6): unspent tokens from the previous
    # epoch carry over, capped at burst x budget; persisted per epoch so
    # resume reproduces the exact admission sequence ----
    tokens = None
    if cfg.token_carryover:
        prev_tokens = (
            _read_or_none(spark, _p(cfg, "hosttokens", f"epoch={epoch - 1}"))
            if epoch > 0
            else None
        )
        tokens = politeness.accrue_tokens(
            robots, prev_tokens, cfg.burst_factor
        ).persist()

    admitted, _ = politeness.admit_per_host(
        eligible, robots, cfg.n_salts, cfg.default_budget, tokens
    )
    # Per-epoch counts ride Observations attached to the plans the epoch
    # already executes — zero extra driver actions (each count() was a
    # full serial job; at 4x cores those serial seconds are exactly the
    # Amdahl fraction the scaling gate pays for).
    obs_admitted = Observation()
    admitted = admitted.observe(
        obs_admitted, F.count(F.lit(1)).alias("n")
    ).persist()
    # deferred anti-joins the PERSISTED admitted (cache hit), against the
    # raw eligible input — the robots/window chain is never recomputed
    deferred = politeness.deferred_of(eligible, admitted)

    # the auto fetch-join choice is the one consumer that needs the
    # admitted count BEFORE the join is built — only then pay an eager
    # count (it doubles as cache materialization, so it isn't wasted)
    n_admitted = -1
    if cfg.fetch_join == "auto" and cfg.bucketed_linkgraph is not None:
        n_admitted = admitted.count()
    else:
        force(admitted)
    mark("admit")

    # ---- fetch: lookup into the synthetic world (S2) ----
    # The admitted set is politeness-bounded (budget x hosts per epoch), so
    # it is normally the small side: broadcast it and STREAM the multi-GB
    # image store — a shuffling SortMergeJoin here would move the whole
    # binary table every epoch (measured as the dominant cost). When the
    # admitted set outgrows broadcast (hosts x budget beyond
    # broadcast_fetch_max — 10^7+ hosts at the design point), switch to
    # the BUCKETED join: linkgraph/images were bucketed on their join keys
    # at ingest (sources/bucketed.py), so the SortMergeJoin exchanges ONLY
    # the admitted side; the bucketed side never shuffles.
    use_bucketed = cfg.fetch_join == "bucketed" or (
        cfg.fetch_join == "auto"
        and cfg.bucketed_linkgraph is not None
        and n_admitted > cfg.broadcast_fetch_max
    )
    adm = admitted.withColumn("page_id", page_id(F.col("url")))
    lg = linkgraph.withColumnRenamed("priority", "_lg_priority")
    missing = adm.join(lg.select("url"), "url", "left_anti")  # 404 analog
    if use_bucketed:
        # hint("merge") pins SortMergeJoin so AQE cannot re-broadcast the
        # (large) admitted side; the bucketed scan side carries no Exchange
        fetched = adm.join(lg.hint("merge"), "url", "inner")
    else:
        fetched = F.broadcast(adm).join(lg, "url", "inner")
    fetched = fetched.withColumn(
        "fail_attempts", fail_attempts_expr(F.col("page_id"))
    )
    failing = fetched.filter(F.col("attempt") < F.col("fail_attempts"))
    retryable = failing.filter(F.col("attempt") + 1 < MAX_ATTEMPTS)
    permfail = failing.filter(F.col("attempt") + 1 >= MAX_ATTEMPTS)
    success = fetched.filter(F.col("attempt") >= F.col("fail_attempts")).persist()

    # ---- discovered URLs (J7): REAL HTML extraction (P4/P5/P7/U3) — the
    # h3-structural parse of the fetched page's markup, mirroring the
    # reference's lists.py:39-47 selector chain. Runs on the successful
    # rows only, before the binary join, so html never rides along with
    # image bytes ----
    discovered_urls = (
        success.select(extract.extracted_hrefs(F.col("html")).alias("hrefs"))
        .select(F.explode("hrefs").alias("url"))
        .dropDuplicates(["url"])
    )

    # ---- extract + validate payload (U4/U5) ----
    success_keys = success.select(
        "url_hash",
        "url",
        "host",
        "host_bucket",
        "priority",
        "discovery_time",
        "host_rank",
        "page_id",
        "image_id",
    )
    if use_bucketed:
        pages = success_keys.join(images.hint("merge"), "image_id", "inner")
    else:
        pages = F.broadcast(success_keys).join(images, "image_id", "inner")
    pages = pages.select(
        "url_hash",
        "url",
        "host",
        "host_bucket",
        "priority",
        "discovery_time",
        "host_rank",
        "page_id",
        "image_id",
        "caption",
        "phash",
        "fmt",
        "bytes",
    )
    if cfg.validate:
        pages = validate_images(pages)  # consumes (and drops) bytes
    else:
        pages = pages.drop("bytes")
    obs_pages = Observation()
    pages = (
        pages.withColumn("fetch_epoch", F.lit(epoch))
        # schema v2 (migrations.py): caption token count written natively
        .withColumn("caption_tokens", TXT.token_count(F.col("caption")).cast("int"))
        .observe(obs_pages, F.count(F.lit(1)).alias("n"))
        .persist()
    )
    force(pages)
    mark("fetch_validate")
    discovered = make_frontier_rows(
        discovered_urls, cfg, discovery_time=epoch + 1, eligible_epoch=epoch + 1
    )
    allowed_new, disallowed = politeness.apply_robots(discovered, robots)

    # ---- resolved rows → seen (status per reference scrape_status) ----
    def as_seen(df: DataFrame, status: str) -> DataFrame:
        return df.select(
            "url_hash", "url", F.lit(status).alias("status")
        )

    seen_prev = read_seen(spark, cfg)
    # fetched/failed/missing rows came out of the frontier, which is
    # disjoint from seen by construction — only rediscovered-disallowed
    # URLs can already be resolved, so only that slice pays the anti-join
    disallowed_new = disallowed.dropDuplicates(["url_hash"])
    if seen_prev is not None:
        disallowed_new = disallowed_new.join(seen_prev, "url_hash", "left_anti")
    resolved = (
        as_seen(pages, "fetched")
        .unionByName(as_seen(permfail, "failed"))
        .unionByName(as_seen(missing, "missing"))
        .unionByName(as_seen(disallowed_new, "disallowed"))
    )
    obs_resolved = Observation()
    resolved = (
        resolved.dropDuplicates(["url_hash"])
        .observe(obs_resolved, F.count(F.lit(1)).alias("n"))
        .persist()
    )
    force(resolved)
    mark("resolve")

    # ---- next frontier: carry ∪ deferred ∪ retries ∪ discovered ----
    retry_rows = retryable.select(
        "url_hash",
        "url",
        "host",
        "host_bucket",
        "priority",
        "discovery_time",
        (F.col("attempt") + 1).cast("int").alias("attempt"),
        (F.lit(epoch) + F.pow(F.lit(2), F.col("attempt").cast("double")).cast("int"))
        .cast("int")
        .alias("eligible_epoch"),
    )
    fcols = [f.name for f in FRONTIER_SCHEMA.fields]
    nxt = (
        carry.select(*fcols)
        .unionByName(deferred.select(*fcols))
        .unionByName(retry_rows.select(*fcols))
        .unionByName(allowed_new.select(*fcols))
    )
    nxt_deduped = dedup_frontier(nxt).persist()
    nxt = nxt_deduped
    n_before_seen_filter = nxt.count() if cfg.collect_stats else -1

    # seen-filter prefilter (J1) then exact anti-join (J6) against
    # seen ∪ resolved
    seen_all = (
        resolved.select("url_hash")
        if seen_prev is None
        else seen_prev.select("url_hash").unionByName(resolved.select("url_hash"))
    )
    if filt is not None:
        definitely_new, maybe_seen = prefilter_maybe_seen(nxt, "url_hash", filt, spark)
        # resolved-this-epoch keys are not in the filter yet → always anti-join
        survivors = maybe_seen.join(seen_all, "url_hash", "left_anti")
        nxt = definitely_new.join(
            resolved.select("url_hash"), "url_hash", "left_anti"
        ).unionByName(survivors)
    else:
        nxt = nxt.join(seen_all, "url_hash", "left_anti")

    # materialize the filtered frontier ONCE: repartitionByRange's range
    # sampling would otherwise recompute the seen-filter UDF + anti-join
    # chain a second time (measured ~2x the write phase)
    nxt = nxt.persist()
    n_next = nxt.count()

    # salted range partitioning: global (priority, host_bucket) order (O3)
    nxt_ranged = nxt.repartitionByRange(
        cfg.frontier_partitions, F.asc("priority"), F.asc("host_bucket"), F.asc("url")
    )
    mark("frontier_build")

    # ---- durable writes, commit marker last ----
    # The four writes + seen-filter fold are independent (all read persisted
    # DataFrames) — submit them from separate driver threads so their
    # fixed job-scheduling costs overlap instead of serializing (Spark's
    # scheduler is thread-safe; this halves per-epoch driver overhead).
    # Note: the epoch=K directory name IS the partition column on read —
    # the data files must not repeat it.
    lineage = (
        pages.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("rows_fetched"))
        .withColumn(
            "rows_deduped",
            F.lit((n_before_seen_filter - n_next) if cfg.collect_stats else -1),
        )
        .withColumn("status", F.lit("committed"))
        .withColumn(
            "duration_ms", F.lit(int((time.perf_counter() - t0) * 1000))
        )
    )
    tasks = [
        lambda: pages.write.mode("overwrite").parquet(
            _p(cfg, "pages", f"epoch={epoch}")
        ),
    ]
    if tokens is not None:
        # new carry = accrued available - admitted spend, per robots host
        spent = admitted.groupBy("host").agg(F.count(F.lit(1)).alias("_spent"))
        new_carry = (
            tokens.join(spent, "host", "left")
            .select(
                "host",
                (F.col("available") - F.coalesce(F.col("_spent"), F.lit(0)))
                .cast("int")
                .alias("carry"),
            )
        )
        tasks.append(
            lambda: new_carry.write.mode("overwrite").parquet(
                _p(cfg, "hosttokens", f"epoch={epoch}")
            )
        )
    tasks += [
        lambda: resolved.write.mode("overwrite").parquet(
            _p(cfg, "seen", f"epoch={epoch}")
        ),
        lambda: nxt_ranged.write.mode("overwrite").parquet(
            _p(cfg, "frontier", f"epoch={epoch + 1}")
        ),
        lambda: lineage.write.mode("overwrite").parquet(
            _p(cfg, "lineage", f"epoch={epoch}")
        ),
    ]
    if filt is not None:
        # distributed fold: executors hash the resolved keys into per-shard
        # filters (reads the persisted `resolved`, so it overlaps the seen
        # write); driver transfer is bounded by filter size, not key count
        tasks.append(lambda: add_keys_distributed(filt, resolved, "url_hash"))
    with ThreadPoolExecutor(max_workers=len(tasks)) as ex:
        futures = [ex.submit(t) for t in tasks]
        for f in futures:
            f.result()  # propagate failures BEFORE the commit marker
    mark("writes")

    # observation reads block until their plan has executed once — all
    # three executed inside the write jobs above, so these are lookups
    stats = {
        "epoch": epoch,
        "admitted": (
            _observed_n(obs_admitted, admitted) if n_admitted < 0 else n_admitted
        ),
        "fetched": _observed_n(obs_pages, pages),
        "resolved": _observed_n(obs_resolved, resolved),
        "frontier_next": n_next,
        "duration_s": round(time.perf_counter() - t0, 3),
        "phases": phases,
        "phases_profiled": cfg.profile_phases,
    }
    with open(_commit_path(cfg, epoch), "w") as f:
        json.dump(stats, f)
    admitted.unpersist()
    if tokens is not None:
        tokens.unpersist()
    success.unpersist()
    pages.unpersist()
    resolved.unpersist()
    nxt_deduped.unpersist()
    nxt.unpersist()
    return stats


# ---------------------------------------------------------------------------
# Crawl driver: init / run / resume
# ---------------------------------------------------------------------------
def init_state(spark: SparkSession, cfg: CrawlConfig, seeds: DataFrame, robots: DataFrame) -> None:
    from whakoom_webscrapper_spark import catalog

    os.makedirs(cfg.state_dir, exist_ok=True)
    catalog.write_version(cfg.state_dir)  # K4 — versioned state schema
    frontier0 = make_frontier_rows(
        seeds.select("url"), cfg, discovery_time=0, eligible_epoch=0
    )
    frontier0, disallowed = politeness.apply_robots(frontier0, robots)
    frontier0 = dedup_frontier(frontier0)
    frontier0.write.mode("overwrite").parquet(_p(cfg, "frontier", "epoch=0"))
    # written unconditionally: an empty seen/epoch=-1 is harmless on read,
    # and the existence pre-check was a whole extra job re-running the
    # robots-join chain (measured seconds of serial driver time)
    disallowed.select(
        "url_hash", "url", F.lit("disallowed").alias("status")
    ).dropDuplicates(["url_hash"]).write.mode("overwrite").parquet(
        _p(cfg, "seen", "epoch=-1")
    )


def crawl(
    spark: SparkSession,
    cfg: CrawlConfig,
    resume: bool = False,
    overwrite: bool = False,
) -> dict:
    """Run the crawl to frontier exhaustion (or max_epochs). With
    ``resume=True``, continue from the last committed epoch.

    A fresh (non-resume) run over a state dir holding committed epochs is
    destructive — it requires ``overwrite=True``; otherwise we refuse
    rather than silently rmtree prior crawl state."""
    # cache the link graph (small, hit every epoch). The binary images
    # table is deliberately NOT cached: multi-GB binary blobs in executor
    # storage cause GC/eviction thrash (measured 2x slowdown at high
    # parallelism) — the parquet scan with column pruning is cheaper.
    # Column-prune BEFORE persist: the crawl consumes the raw html (links
    # are EXTRACTED, not read from the pre-structured out_links column,
    # which exists only as test ground truth) — don't cache what the
    # crawl never reads.
    if cfg.bucketed_linkgraph is not None:
        # bucketed scans must come from the catalog table (bucket metadata
        # lives in the metastore) and must NOT be persisted — caching
        # would hide the bucketed output partitioning from the join
        lg = spark.table(cfg.bucketed_linkgraph).select(
            "url", "image_id", "html", "priority"
        )
    else:
        # repartition before persist: the parquet scan bin-packs the small
        # linkgraph into ~defaultParallelism splits, and every downstream
        # per-epoch stage (fetch join output, html-extraction UDF) inherits
        # that parallelism — pinning it to frontier_partitions keeps the
        # extraction stage fully parallel at any core count (one 140 MB
        # shuffle, paid once at first materialization)
        lg = (
            spark.read.parquet(os.path.join(cfg.world_dir, "linkgraph"))
            .select("url", "image_id", "html", "priority")
            .repartition(cfg.frontier_partitions, "url")
            .persist()
        )
    if cfg.bucketed_images is not None:
        im = spark.table(cfg.bucketed_images)
    else:
        im = spark.read.parquet(os.path.join(cfg.world_dir, "images"))
    rb = spark.read.parquet(os.path.join(cfg.world_dir, "robots"))

    start_epoch = 0
    if resume:
        from whakoom_webscrapper_spark import catalog

        # refuse to resume across an incompatible state-schema version —
        # the analog of an unapplied migration (sqlmanager.py:236-264)
        catalog.check_version(cfg.state_dir)
        cleanup_uncommitted(cfg)
        done = committed_epochs(cfg)
        start_epoch = (max(done) + 1) if done else 0
    else:
        if os.path.exists(cfg.state_dir):
            if committed_epochs(cfg) and not overwrite:
                raise RuntimeError(
                    f"state dir {cfg.state_dir} holds committed crawl epochs; "
                    "pass resume=True to continue or overwrite=True to destroy it"
                )
            shutil.rmtree(cfg.state_dir)
        seeds = spark.read.parquet(os.path.join(cfg.world_dir, "seeds"))
        init_state(spark, cfg, seeds, rb)

    filt = None
    if cfg.seen_filter != "none":
        cls = {"bloom": ShardedBloom, "cuckoo": CK.ShardedCuckoo}[cfg.seen_filter]
        filt = cls.sized_for(cfg.bloom_capacity, cfg.bloom_fpr, cfg.bloom_shards)
        seen = read_seen(spark, cfg)
        if resume and seen is not None:
            # build_bloom is the one distributed build, for either backend
            filt = build_bloom(seen, "url_hash", filt)

    epoch = start_epoch
    # first-epoch existence check; afterwards each epoch's stats carry the
    # next frontier size, so no extra read-and-count per iteration
    fr = _read_or_none(spark, _p(cfg, "frontier", f"epoch={epoch}"))
    nonempty = fr is not None and fr.limit(1).count() > 0
    while epoch < cfg.max_epochs and nonempty:
        stats = run_epoch(spark, cfg, epoch, lg, im, rb, filt)
        cfg.stats.append(stats)
        nonempty = stats["frontier_next"] > 0
        epoch += 1

    total_fetched = sum(s["fetched"] for s in cfg.stats)
    return {
        "epochs_run": len(cfg.stats),
        "last_epoch": epoch - 1,
        "total_fetched": total_fetched,
        "stats": cfg.stats,
    }
