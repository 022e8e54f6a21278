"""Crawl job entry point — the ``scrapy crawl lists`` analog.

Run locally or via spark-submit (the engine package ships with
``--py-files whakoom_webscrapper_spark.zip``; see BENCH/BASELINE.md):

    python jobs/crawl.py --n-urls 100000 --hosts 1000 --out /tmp/run1
    spark-submit --master ... --py-files engine.zip jobs/crawl.py ...

Generates the deterministic synthetic world if missing, runs the
frontier crawl to exhaustion, prints one JSON line of results
(URLs fetched+deduped/sec is the BASELINE.json:2 metric).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from whakoom_webscrapper_spark import datagen
from whakoom_webscrapper_spark.plans import frontier as FP
from whakoom_webscrapper_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-urls", type=int, default=10_000)
    ap.add_argument("--hosts", type=int, default=100)
    ap.add_argument("--fanout", type=int, default=8)
    ap.add_argument("--seeds", type=int, default=16)
    ap.add_argument("--out", required=True, help="state+world directory")
    ap.add_argument("--max-epochs", type=int, default=100)
    ap.add_argument("--master", default=None, help="e.g. local[8]")
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--overwrite", action="store_true",
                    help="allow a fresh run to destroy committed crawl state")
    ap.add_argument("--budget-scale", type=int, default=1,
                    help="politeness budget multiplier (fixed per experiment)")
    ap.add_argument("--lean", action="store_true",
                    help="skip non-essential per-epoch stat counts")
    ap.add_argument("--no-validate", action="store_true",
                    help="skip decode/phash checks (bench the frontier only)")
    ap.add_argument("--seen-filter", default="bloom",
                    choices=["bloom", "cuckoo", "none"],
                    help="approximate seen-set prefilter (cuckoo = "
                         "deletion-capable, operators/cuckoo.py; none = "
                         "exact anti-join only)")
    ap.add_argument("--no-carryover", action="store_true",
                    help="disable token-bucket carry-over (fixed per-epoch budgets)")
    ap.add_argument("--fetch-join", default="auto",
                    choices=["auto", "broadcast", "bucketed"],
                    help="bucketed = ingest linkgraph/images as bucketed "
                         "catalog tables (once per state dir) and pin the "
                         "SortMergeJoin fallback — the beyond-broadcast "
                         "path benched next to the default")
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--profile-phases", action="store_true",
                    help="force each phase at its timer boundary so the "
                         "per-epoch decomposition attributes execution "
                         "cost truthfully (adds jobs — decomposition "
                         "probes only, not throughput campaigns)")
    args = ap.parse_args()

    spark = get_spark(
        "crawl", master=args.master, shuffle_partitions=args.partitions
    )
    world = os.path.join(args.out, "world")
    if not os.path.exists(os.path.join(world, "linkgraph")):
        t0 = time.perf_counter()
        datagen.write_world(
            spark, world, args.n_urls, args.hosts,
            fanout=args.fanout, n_seeds=args.seeds,
            partitions=args.partitions, budget_scale=args.budget_scale,
        )
        print(f"world generated in {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    bucketed_lg = bucketed_im = None
    if args.fetch_join == "bucketed":
        from whakoom_webscrapper_spark.sources import bucketed as B

        # table names scoped by pid: separate JVMs have separate in-memory
        # catalogs but SHARE the cwd spark-warehouse dir — concurrent runs
        # must not collide on the managed table location
        bucketed_lg, bucketed_im = f"lg_bkt_{os.getpid()}", f"im_bkt_{os.getpid()}"
        B.write_bucketed_world(
            spark, world, bucketed_lg, bucketed_im, n_buckets=args.buckets
        )

    cfg = FP.CrawlConfig(
        state_dir=os.path.join(args.out, "state"),
        world_dir=world,
        max_epochs=args.max_epochs,
        frontier_partitions=args.partitions,
        validate=not args.no_validate,
        seen_filter=args.seen_filter,
        token_carryover=not args.no_carryover,
        collect_stats=not args.lean,
        fetch_join=args.fetch_join,
        bucketed_linkgraph=bucketed_lg,
        bucketed_images=bucketed_im,
        profile_phases=args.profile_phases,
    )
    t0 = time.perf_counter()
    result = FP.crawl(spark, cfg, resume=args.resume, overwrite=args.overwrite)
    wall = time.perf_counter() - t0

    total_resolved = (
        sum(s["resolved"] for s in cfg.stats) if not args.lean else None
    )
    print(
        json.dumps(
            {
                "epochs": result["epochs_run"],
                "fetched": result["total_fetched"],
                "resolved": total_resolved,
                "wall_s": round(wall, 2),
                "urls_per_sec": round(result["total_fetched"] / wall, 1),
                "master": spark.sparkContext.master,
                # per-epoch decomposition straight from the commit
                # markers. Default keys are plan_*/exec_* — honest names
                # for lazy execution (almost all wall lands in
                # exec_frontier_build, which holds the first action);
                # --profile-phases forces each phase at its boundary so
                # admit/fetch_validate/resolve/frontier_build/writes
                # carry their true execution share
                "epoch_stats": [
                    {
                        "epoch": s["epoch"],
                        "fetched": s["fetched"],
                        "duration_s": s["duration_s"],
                        "phases": s.get("phases", {}),
                    }
                    for s in result["stats"]
                ],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
