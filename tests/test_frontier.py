"""Golden end-to-end + resume + invariant tests for the crawl engine
(SURVEY.md §5.2-5.3,5.6; correctness criteria from BASELINE.json:6:
identical per-host crawl ordering, identical URL-seen membership,
pixel/caption validation per row)."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tests import golden_sim
from whakoom_webscrapper_spark import datagen
from whakoom_webscrapper_spark.plans import frontier as FP

N_URLS, N_HOSTS, FANOUT, N_SEEDS = 300, 10, 5, 4
MAX_EPOCHS = 30


@pytest.fixture(scope="module")
def world(spark):
    d = tempfile.mkdtemp(prefix="world_")
    datagen.write_world(
        spark, d, N_URLS, N_HOSTS, fanout=FANOUT, n_seeds=N_SEEDS, partitions=8
    )
    return d


@pytest.fixture(scope="module")
def crawl_result(spark, world):
    d = tempfile.mkdtemp(prefix="state_")
    cfg = FP.CrawlConfig(state_dir=d, world_dir=world, max_epochs=MAX_EPOCHS,
                         frontier_partitions=8)
    result = FP.crawl(spark, cfg)
    return cfg, result


def _sim():
    step = max(N_URLS // N_SEEDS, 1)
    seeds = [datagen.url_of((k * step) % N_URLS, N_HOSTS) for k in range(N_SEEDS)]
    return golden_sim.simulate(N_URLS, N_HOSTS, FANOUT, seeds, MAX_EPOCHS)


def test_url_seen_membership_matches_golden(spark, crawl_result):
    cfg, _ = crawl_result
    sim_seen, _ = _sim()
    engine = {
        (r["url"], r["status"])
        for r in spark.read.parquet(f"{cfg.state_dir}/seen").collect()
    }
    golden = set(sim_seen.items())
    assert engine == golden


def test_per_host_crawl_ordering_matches_golden(spark, crawl_result):
    cfg, _ = crawl_result
    _, sim_log = _sim()
    pages = spark.read.parquet(f"{cfg.state_dir}/pages")
    engine = sorted(
        (r["fetch_epoch"], r["host"], r["host_rank"], r["url"])
        for r in pages.select("fetch_epoch", "host", "host_rank", "url").collect()
    )
    assert engine == sorted(sim_log)


def test_pages_unique_and_validated(spark, crawl_result):
    cfg, _ = crawl_result
    pages = spark.read.parquet(f"{cfg.state_dir}/pages")
    n = pages.count()
    assert n > 0
    assert pages.select("image_id").distinct().count() == n
    assert pages.select("url_hash").distinct().count() == n
    bad = pages.filter(
        ~F.col("phash_match") | ~F.col("pixel_ok") | ~F.col("caption_match")
    ).count()
    assert bad == 0
    # lossy rows must clear the PSNR gate (BASELINE.json:15)
    assert pages.filter((F.col("fmt") == "jpeg") & (F.col("psnr_db") < 40)).count() == 0


def test_seen_unique(spark, crawl_result):
    cfg, _ = crawl_result
    seen = spark.read.parquet(f"{cfg.state_dir}/seen")
    assert seen.count() == seen.select("url_hash").distinct().count()


def test_lineage_committed_every_epoch(spark, crawl_result):
    cfg, result = crawl_result
    assert FP.committed_epochs(cfg) == list(range(result["epochs_run"]))
    lineage = spark.read.parquet(f"{cfg.state_dir}/lineage")
    fetched_by_lineage = lineage.agg(F.sum("rows_fetched")).collect()[0][0]
    assert fetched_by_lineage == result["total_fetched"]


def test_resume_matches_uninterrupted(spark, world, crawl_result):
    cfg_full, _ = crawl_result
    d = tempfile.mkdtemp(prefix="state_resume_")
    # run only 3 epochs, then resume to completion
    cfg = FP.CrawlConfig(state_dir=d, world_dir=world, max_epochs=3,
                         frontier_partitions=8)
    FP.crawl(spark, cfg)
    cfg2 = FP.CrawlConfig(state_dir=d, world_dir=world, max_epochs=MAX_EPOCHS,
                          frontier_partitions=8)
    FP.crawl(spark, cfg2, resume=True)

    def snapshot(state_dir):
        seen = {
            (r["url"], r["status"])
            for r in spark.read.parquet(f"{state_dir}/seen").collect()
        }
        pages = {
            (r["fetch_epoch"], r["host"], r["host_rank"], r["url"])
            for r in spark.read.parquet(f"{state_dir}/pages")
            .select("fetch_epoch", "host", "host_rank", "url")
            .collect()
        }
        return seen, pages

    assert snapshot(d) == snapshot(cfg_full.state_dir)


def test_resume_with_disallowed_seed(spark, world):
    """Regression: init_state writes robots-disallowed seeds to seen/epoch=-1
    (no commit marker exists for it); cleanup_uncommitted must NOT delete
    negative epochs on resume, or the resumed crawl loses those URL-seen
    entries and diverges from an uninterrupted run."""
    robots = golden_sim.robots_of(N_HOSTS)
    dis_url = "https://host0.test/admin"  # every host disallows /admin
    assert golden_sim._disallowed(dis_url, robots)
    d = tempfile.mkdtemp(prefix="world_dis_")
    for sub in ("linkgraph", "images", "robots"):
        os.symlink(f"{world}/{sub}", f"{d}/{sub}")
    spark.createDataFrame(
        [(dis_url,), (datagen.url_of(1, N_HOSTS),)], "url string"
    ).write.mode("overwrite").parquet(f"{d}/seeds")

    full = tempfile.mkdtemp(prefix="state_disfull_")
    FP.crawl(spark, FP.CrawlConfig(state_dir=full, world_dir=d, max_epochs=6,
                                   frontier_partitions=8))
    part = tempfile.mkdtemp(prefix="state_dispart_")
    FP.crawl(spark, FP.CrawlConfig(state_dir=part, world_dir=d, max_epochs=2,
                                   frontier_partitions=8))
    FP.crawl(spark, FP.CrawlConfig(state_dir=part, world_dir=d, max_epochs=6,
                                   frontier_partitions=8), resume=True)

    def seen(sd):
        return {
            (r["url"], r["status"])
            for r in spark.read.parquet(f"{sd}/seen").collect()
        }

    assert (dis_url, "disallowed") in seen(part)
    assert seen(part) == seen(full)


def test_fresh_run_refuses_committed_state(spark, world, crawl_result):
    cfg, _ = crawl_result
    clobber = FP.CrawlConfig(state_dir=cfg.state_dir, world_dir=world,
                             max_epochs=1, frontier_partitions=8)
    with pytest.raises(RuntimeError, match="committed crawl epochs"):
        FP.crawl(spark, clobber)  # resume=False, overwrite=False → refuse


def test_epoch_with_only_last_retry_failures_fetches_nothing(spark, world):
    """An epoch whose frontier holds only pages at their last attempt
    that fail again fetches no page: it must commit with fetched == 0,
    every row resolved as failed, and an empty next frontier."""
    last = FP.MAX_ATTEMPTS - 1
    ids = [i for i in range(N_URLS) if datagen.fail_attempts_of(i) > last]
    assert ids
    d = tempfile.mkdtemp(prefix="state_lastretry_")
    cfg = FP.CrawlConfig(state_dir=d, world_dir=world, frontier_partitions=8)
    urls = spark.createDataFrame(
        [(datagen.url_of(i, N_HOSTS),) for i in ids], "url string"
    )
    FP.make_frontier_rows(urls, cfg, 0, 0).withColumn(
        "attempt", F.lit(last)
    ).write.parquet(os.path.join(d, "frontier", "epoch=0"))
    read = lambda t: spark.read.parquet(os.path.join(world, t))  # noqa: E731
    stats = FP.run_epoch(
        spark, cfg, 0, read("linkgraph"), read("images"), read("robots"), None
    )
    assert stats["fetched"] == 0
    assert stats["admitted"] == stats["resolved"] == len(ids)
    assert stats["frontier_next"] == 0
    seen = spark.read.parquet(os.path.join(d, "seen", "epoch=0"))
    assert {r.status for r in seen.select("status").collect()} == {"failed"}
    shutil.rmtree(d, ignore_errors=True)


def test_foreign_url_priority_coalesced(spark):
    cfg = FP.CrawlConfig(state_dir="/tmp/na", world_dir="/tmp/na")
    rows = FP.make_frontier_rows(
        spark.createDataFrame([("https://ex.test/not-a-page",)], "url string"),
        cfg, discovery_time=0, eligible_epoch=0,
    ).collect()
    assert rows[0]["priority"] == 9  # lowest priority, never NULL


def test_budget_respected_per_host_per_epoch(spark, crawl_result):
    """Token bucket invariant: per-epoch spend never exceeds the burst
    cap (burst x budget); epoch-0 spend never exceeds one interval's
    budget (bucket starts empty + one accrual)."""
    cfg, _ = crawl_result
    pages = spark.read.parquet(f"{cfg.state_dir}/pages")
    counts = (
        pages.groupBy("fetch_epoch", "host")
        .agg(F.max("host_rank").alias("max_rank"))
        .collect()
    )
    budgets = golden_sim.robots_of(N_HOSTS)
    for r in counts:
        cap = budgets[r["host"]][0] * (1 if r["fetch_epoch"] == 0 else 2)
        assert r["max_rank"] <= cap


def test_disallowed_never_fetched(spark, crawl_result):
    cfg, _ = crawl_result
    pages = spark.read.parquet(f"{cfg.state_dir}/pages")
    robots = golden_sim.robots_of(N_HOSTS)
    for r in pages.select("host", "url").collect():
        assert not golden_sim._disallowed(r["url"], robots)


def test_crash_between_writes_and_marker_resumes_exact(spark, world, crawl_result):
    """The crash window of the epoch-marker commit protocol (VERDICT r3
    task 7): die AFTER some epoch-K durable writes but BEFORE the commit
    marker. Resume must treat epoch K as never-happened — sweep the
    partial outputs, re-run K idempotently — and converge to exactly the
    uninterrupted run's state. This is the protocol's whole claim; the
    snapshot-pointer protocol (operators/upsert.py) covers mutable MERGE
    tables, while crawl state is append-only per epoch, so the marker
    protocol is the single commit path for the crawl (see
    plans/frontier.py module docstring)."""
    cfg_full, _ = crawl_result
    d = tempfile.mkdtemp(prefix="state_crash_")
    cfg = FP.CrawlConfig(state_dir=d, world_dir=world, max_epochs=3,
                         frontier_partitions=8)
    FP.crawl(spark, cfg)
    assert FP.committed_epochs(cfg) == [0, 1, 2]

    # simulate the crash inside epoch 2's write phase: remove its commit
    # marker, fully delete one output, PARTIALLY delete another, and leave
    # the next frontier half-written
    os.remove(FP._commit_path(cfg, 2))
    shutil.rmtree(f"{d}/seen/epoch=2")
    pages2 = sorted(glob.glob(f"{d}/pages/epoch=2/*.parquet"))
    assert pages2
    os.remove(pages2[0])

    cfg2 = FP.CrawlConfig(state_dir=d, world_dir=world, max_epochs=MAX_EPOCHS,
                          frontier_partitions=8)
    FP.crawl(spark, cfg2, resume=True)

    def snapshot(state_dir):
        seen = {
            (r["url"], r["status"])
            for r in spark.read.parquet(f"{state_dir}/seen").collect()
        }
        pages = {
            (r["fetch_epoch"], r["host"], r["host_rank"], r["url"])
            for r in spark.read.parquet(f"{state_dir}/pages")
            .select("fetch_epoch", "host", "host_rank", "url")
            .collect()
        }
        return seen, pages

    assert snapshot(d) == snapshot(cfg_full.state_dir)


def test_crawl_output_feeds_the_ann_index_job(spark, crawl_result, capsys):
    """Crawl → index → search, end-to-end across jobs: the pages table's
    64-d image features are a real embedding corpus, so jobs/ann.py must
    build a persisted IVFADC index from a crawl's output and answer
    queries from disk — each queried page finds ITSELF at rank 1 with
    cos_sim ~= 1 (the self-vector is in the corpus, its home cell is
    always probed)."""
    import ann as ann_job

    from tests.conftest import run_job

    cfg, _ = crawl_result
    d = tempfile.mkdtemp(prefix="crawl_ann_")
    pages = spark.read.parquet(f"{cfg.state_dir}/pages").where(
        F.col("embedding").isNotNull()
    )
    pages.select("page_id", "embedding").write.parquet(f"{d}/corpus")
    qids = [r["page_id"] for r in pages.select("page_id").orderBy("page_id").limit(3).collect()]
    pages.where(F.col("page_id").isin(qids)).select(
        F.col("page_id").alias("query_id"), "embedding"
    ).write.parquet(f"{d}/queries")

    stats = run_job(
        ann_job,
        ["build", "--input", f"{d}/corpus", "--out", f"{d}/ix",
         "--id-col", "page_id", "--n-centroids", "16"],
        capsys,
    )
    assert stats["rows_indexed"] == pages.count()
    run_job(
        ann_job,
        ["query", "--index", f"{d}/ix", "--queries", f"{d}/queries",
         "--k", "3", "--nprobe", "4", "--id-col", "page_id",
         "--out", f"{d}/hits"],
        capsys,
    )
    top1 = {
        r["query_id"]: (r["page_id"], r["cos_sim"])
        for r in spark.read.parquet(f"{d}/hits").where(F.col("rank") == 1).collect()
    }
    assert set(top1) == set(qids)
    for qid, (pid, sim) in top1.items():
        assert pid == qid
        assert sim > 0.9999
    shutil.rmtree(d, ignore_errors=True)


def test_phase_timers_lazy_names_and_profiled_attribution(spark, world,
                                                          crawl_result):
    """Phase-timer honesty (r4 verdict: 99% of wall landed in
    'frontier_build' because execution is lazy). Default mode now names
    the intervals for what they contain (plan_*/exec_*); profiled mode
    forces each phase's persisted frame at its mark() boundary, so the
    plain-named timers tile the epoch wall and fetch_validate owns its
    real (decode/validate) share instead of ~0."""
    _, lazy_result = crawl_result
    lazy0 = lazy_result["stats"][0]
    assert not lazy0["phases_profiled"]
    assert set(lazy0["phases"]) == {
        "plan_admit", "plan_fetch_validate", "plan_resolve",
        "exec_frontier_build", "exec_writes",
    }

    d = tempfile.mkdtemp(prefix="state_prof_")
    cfg = FP.CrawlConfig(state_dir=d, world_dir=world,
                         max_epochs=MAX_EPOCHS, frontier_partitions=8,
                         profile_phases=True)
    result = FP.crawl(spark, cfg)
    # profiling must not change WHAT is crawled, only when plans execute
    assert result["total_fetched"] == lazy_result["total_fetched"]
    assert [s["fetched"] for s in result["stats"]] == [
        s["fetched"] for s in lazy_result["stats"]
    ]
    for s in result["stats"]:
        assert s["phases_profiled"]
        assert set(s["phases"]) == {
            "admit", "fetch_validate", "resolve", "frontier_build", "writes",
        }
        # the timers tile t0→writes; only post-write stats bookkeeping
        # may fall outside
        assert sum(s["phases"].values()) >= 0.8 * s["duration_s"]
    # with attribution forced, the epoch-0 fetch/validate phase performs
    # the decode work — it can no longer be the ~0s sliver the lazy mode
    # recorded while frontier_build held every job
    prof0 = result["stats"][0]["phases"]
    assert prof0["fetch_validate"] > 0.0
    assert prof0["fetch_validate"] >= 0.05 * sum(prof0.values())
    shutil.rmtree(d, ignore_errors=True)
