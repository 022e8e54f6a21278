"""A/B bench: Bloom vs cuckoo seen-set backend on the same crawl.

The north rule names a "partitioned Bloom/cuckoo URL-seen set"; both
backends exist behind `CrawlConfig.seen_filter` and share one sharded
broadcast/prefilter/distributed-fold layer (operators/bloom.py); only
the per-shard structure differs (the Bloom bit array vs the cuckoo
table of operators/cuckoo.py). Crawl OUTPUT is identical either way — neither
filter has false negatives and maybe-seen rows are confirmed by exact
anti-join — so this measures pure engine cost: the cuckoo's ~80x
tighter FPR sends fewer rows through the confirm anti-join, while its
insert path (bulk placement + eviction stragglers) costs more per key
than Bloom's pure bit-ors.

    python tools/seen_filter_ab.py --out /tmp/sfab --master local[16] --reps 3

Interleaved bloom/cuckoo x reps on one pre-generated world, fresh
state per run; writes BENCH/seen_filter_ab.json with per-run numbers
and per-mode medians, and asserts fetched-row determinism across modes.
The no-prefilter control is a plain crawl with `--seen-filter none`
(`jobs/crawl.py`; every candidate then faces the exact anti-join).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(args, mode: str, tag: str) -> dict:
    state = os.path.join(args.out, f"ab_{tag}")
    subprocess.run(["rm", "-rf", state])
    os.makedirs(state, exist_ok=True)
    # the shared world dir must exist BEFORE the symlink: the first crawl
    # run generates the world through the link, later runs reuse it
    os.makedirs(os.path.join(args.out, "world"), exist_ok=True)
    world_link = os.path.join(state, "world")
    if not os.path.exists(world_link):
        os.symlink(os.path.join(args.out, "world"), world_link)
    subprocess.run(
        f"cat {os.path.join(args.out, 'world')}/*/*.parquet > /dev/null",
        shell=True, timeout=1200,
    )
    cmd = [
        sys.executable, os.path.join(REPO, "jobs", "crawl.py"),
        "--n-urls", str(args.n_urls), "--hosts", str(args.hosts),
        "--fanout", str(args.fanout), "--seeds", str(args.seeds),
        "--budget-scale", str(args.budget_scale),
        "--out", state, "--max-epochs", str(args.max_epochs),
        "--master", args.master, "--partitions", str(args.partitions),
        "--lean", "--seen-filter", mode,
    ]
    t0 = time.perf_counter()
    out = subprocess.run(
        cmd, capture_output=True, text=True, timeout=7200,
        env=dict(os.environ, SPARK_GRAFT_DRIVER_MEM="12g"),
    )
    total = time.perf_counter() - t0
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"no JSON from {mode}:\n{out.stderr[-2000:]}")
    r = json.loads(lines[-1])
    r["proc_wall_s"] = round(total, 2)
    r["mode"] = mode
    return r


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-urls", type=int, default=300_000)
    ap.add_argument("--hosts", type=int, default=8000)
    ap.add_argument("--fanout", type=int, default=12)
    ap.add_argument("--seeds", type=int, default=40_000)
    ap.add_argument("--budget-scale", type=int, default=4)
    ap.add_argument("--max-epochs", type=int, default=2)
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--master", default="local[16]")
    ap.add_argument("--out", default="/tmp/sfab")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--json",
                    default=os.path.join(REPO, "BENCH", "seen_filter_ab.json"))
    args = ap.parse_args()

    result = {
        "protocol": "same world, same master, fresh state per run, "
                    "interleaved bloom/cuckoo x reps; median per mode",
        "master": args.master,
        "world": {"n_urls": args.n_urls, "hosts": args.hosts,
                  "fanout": args.fanout, "seeds": args.seeds,
                  "budget_scale": args.budget_scale,
                  "max_epochs": args.max_epochs},
        "runs": [],
        "status": "in-progress",
    }

    def flush() -> None:
        by = {}
        for r in result["runs"]:
            by.setdefault(r["mode"], []).append(r["urls_per_sec"])
        for mode, vals in by.items():
            result[f"{mode}_urls_per_sec_median"] = statistics.median(vals)
        tmp = args.json + ".tmp"
        with open(tmp, "w") as f:
            json.dump(result, f, indent=2)
        os.replace(tmp, args.json)

    flush()
    for rep in range(args.reps):
        for mode in ("bloom", "cuckoo"):
            r = run(args, mode, f"{mode}_{rep}")
            r["rep"] = rep
            result["runs"].append(r)
            flush()
            print(f"rep {rep} {mode}: {r['urls_per_sec']} urls/s "
                  f"(crawl {r['wall_s']}s, proc {r['proc_wall_s']}s)",
                  file=sys.stderr)
    fetched = {r["fetched"] for r in result["runs"]}
    assert len(fetched) == 1, f"nondeterminism across modes: {fetched}"
    result["status"] = "complete"
    flush()
    print(json.dumps(result, indent=2))


if __name__ == "__main__":
    main()
