"""Crawl benchmark: one workload, one seed, closed loop, one JSON line.

    python3 perfbench/run.py --workload recrawl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first run in a
checkout builds the cached inputs (worlds, the recrawl snapshot) under
``perfbench/_work``. Spark is sized to the machine from here: all cores
(``--cores`` overrides, e.g. ``--cores 1`` for the single-core
baseline), a driver heap well under RAM, and scratch space inside the
checkout.

With ``--trace 0`` the last line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics of a traced job, run
between two untraced jobs on the same inputs so tracing overhead can be
reported. Spans go to ``perfbench/_work/traces``. The exit code is
non-zero when any job fails or any output is wrong. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
SETUP_REPS = 7

# name -> (unit, better), in printing order
END_TO_END = {
    "setup_s": ("s", "lower"),
    "items_per_s": ("1/s", "higher"),
    "step_s.p50": ("s", "lower"),
    "state_bytes_per_item": ("B", "lower"),
}

SPARK_LAYERS = ("frontier", "invalidate", "dedup", "components")
# name -> (unit, better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "crawl.lead_s": ("s", "lower"),
    "invalidate.busy_s": ("s", "lower"),
    "frontier.epochs": ("count", "lower"),
    "frontier.jobs_per_epoch": ("count", "lower"),
    "frontier.tasks_per_epoch": ("count", "lower"),
    **{
        f"frontier.phase.{p}_s": ("s", "lower")
        for p in ("admit", "fetch_validate", "resolve", "frontier_build", "writes")
    },
    "politeness.busy_s": ("s", "lower"),
    "politeness.admit_ratio": ("ratio", "higher"),
    "urls.busy_s": ("s", "lower"),
    "fetch.busy_s": ("s", "lower"),
    "fetch.pages_per_busy_s": ("1/s", "higher"),
    "fetch.decode_ms": ("ms", "lower"),
    "fetch.invalid_pages": ("count", "lower"),
    "extract.busy_s": ("s", "lower"),
    "extract.links": ("count", "higher"),
    "seen_filter.probes": ("count", "lower"),
    "seen_filter.maybe_seen": ("count", "lower"),
    "seen_filter.useful_ratio": ("ratio", "higher"),
    "seen_filter.fold_s": ("s", "lower"),
    "seen_filter.rebuild_s": ("s", "lower"),
    "seen_filter.delete_s": ("s", "lower"),
    "seen_filter.bytes": ("B", "lower"),
    "upsert.busy_s": ("s", "lower"),
    "state.bytes_per_epoch": ("B", "lower"),
    "state.files_per_epoch": ("count", "lower"),
    "dedup.candidates": ("count", "lower"),
    "dedup.verified": ("count", "higher"),
    "dedup.verify_ratio": ("ratio", "higher"),
    "dedup.recall": ("ratio", "higher"),
    "dedup.signatures_s": ("s", "lower"),
    "dedup.verify_s": ("s", "lower"),
    "components.busy_s": ("s", "lower"),
    "components.clusters": ("count", "higher"),
    **{
        f"spark.{layer}.{m}": (unit, "lower")
        for layer in SPARK_LAYERS
        for m, unit in (
            ("executor_run_s", "s"),
            ("gc_s", "s"),
            ("shuffle_write_bytes", "B"),
            ("shuffle_read_bytes", "B"),
            ("spill_bytes", "B"),
            ("failed_tasks", "count"),
        )
    },
}


def traced_calls():
    """Engine functions that run eagerly and are timed directly when
    tracing: (module, attribute, span name)."""
    from whakoom_webscrapper_spark.operators import cuckoo as CK
    from whakoom_webscrapper_spark.plans import frontier as FP

    return [
        (FP, "add_keys_distributed", "seen_filter.fold"),
        (CK, "add_keys_distributed", "seen_filter.fold"),
        (FP, "build_bloom", "seen_filter.rebuild"),
        (CK, "build_cuckoo", "seen_filter.rebuild"),
        (CK, "delete_keys_distributed", "seen_filter.delete"),
        (FP, "upsert_parquet", "upsert.upsert_parquet"),
        (FP, "invalidate_urls", "frontier.invalidate_urls"),
    ]


# spans whose Spark jobs make up each layer of the spark.* metrics
SPARK_LAYER_SPANS = {
    "frontier": ("frontier.run_epoch",),
    "invalidate": ("recrawl.invalidate",),
    "dedup": ("dedup.lsh_candidate_pairs_fast", "dedup.verify_pairs_jaccard"),
    "components": ("components.connected_components", "components.dedup_canonical"),
}


def machine_settings(cores: int | None) -> dict:
    """Spark sizing for this machine, exported before Spark starts."""
    cores = cores or len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        ram_gb = int(f.readline().split()[1]) // (1024 * 1024)
    heap_gb = max(1, min(4, ram_gb // 4))
    tmp = os.path.join(WORK, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        # every JVM Spark starts, its launcher included, keeps its
        # scratch files in the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }


def session_confs(trace: bool) -> dict:
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    return confs


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_job(wl, ctx, job=None):
    """One job; an exception or a correctness mismatch makes it failed."""
    from workloads import Job

    try:
        result = (job or wl.job)(ctx)
    except Exception:
        traceback.print_exc()
        result = Job(0.0, 0, [], 0, ["job raised"])
    for e in result.errors:
        print(f"MISMATCH {wl.name}: {e}", file=sys.stderr)
    return result


def run_jobs(wl, ctx, seconds: float) -> list:
    """Closed loop: jobs back to back until ``seconds`` have passed (at
    least one); a failed job ends the loop."""
    jobs = []
    t0 = time.perf_counter()
    while True:
        if jobs:
            wl.restore(ctx)
        jobs.append(run_job(wl, ctx))
        if jobs[-1].errors or time.perf_counter() - t0 >= seconds:
            return jobs


def run_traced(wl, ctx, run_id: str) -> tuple[list, object]:
    """An untraced, a traced and another untraced job on the same
    inputs; returns the three jobs and the traced job's tracer."""
    from tracing import Tracer, wrapped

    tracer = Tracer(True, run_id, ctx.spark)
    jobs = []
    for on in (False, True, False):
        wl.restore(ctx)
        ctx.tracer = tracer if on else Tracer(False, run_id)
        with wrapped(ctx.tracer, traced_calls() if on else []):
            jobs.append(run_job(wl, ctx))
        if jobs[-1].errors:
            break
    return jobs, tracer


def end_to_end(jobs: list, setup: list[float]) -> dict:
    """Medians over the timed jobs, so one slow job moves no metric."""
    return {
        "setup_s": statistics.median(setup),
        "items_per_s": statistics.median(j.items / j.wall_s for j in jobs),
        "step_s.p50": statistics.median(s for j in jobs for s in j.steps),
        "state_bytes_per_item": statistics.median(j.state_bytes / j.items for j in jobs),
    }


def with_units(values: dict, table: dict) -> dict:
    """The result's ``metrics`` object: every metric of ``table``, each
    value with its unit."""
    return {k: {"value": values[k], "unit": table[k][0]} for k in table}


def per_layer(tr, session_start: float, overhead: float) -> dict:
    from tracing import attribute, read_event_log

    c = tr.counts
    epochs = c.get("epochs", 0)

    def per_epoch(v):
        return v / epochs if epochs else 0.0

    def ratio(a, b):
        return a / b if b else 0.0

    jobs, tasks = read_event_log(os.path.join(WORK, "eventlog"))
    spark = {
        layer: attribute(
            [s for n in names for s in tr.named(n)], jobs, tasks
        )
        for layer, names in SPARK_LAYER_SPANS.items()
    }
    fetch_busy = tr.total("fetch.validate_images")
    out = {
        "session.start_s": session_start,
        "trace.overhead_s": overhead,
        "crawl.lead_s": c.get("crawl.lead_s", 0.0),
        "invalidate.busy_s": tr.total("frontier.invalidate_urls"),
        "frontier.epochs": epochs,
        "frontier.jobs_per_epoch": per_epoch(spark["frontier"]["jobs"]),
        "frontier.tasks_per_epoch": per_epoch(spark["frontier"]["tasks"]),
        **{
            f"frontier.phase.{p}_s": per_epoch(c.get(f"frontier.phase.{p}_s", 0.0))
            for p in ("admit", "fetch_validate", "resolve", "frontier_build", "writes")
        },
        "politeness.busy_s": tr.total("politeness.admit_per_host"),
        "politeness.admit_ratio": ratio(
            c.get("politeness.admitted", 0), c.get("politeness.eligible", 0)
        ),
        "urls.busy_s": tr.total("urls.canonicalize"),
        "fetch.busy_s": fetch_busy,
        "fetch.pages_per_busy_s": ratio(c.get("fetch.pages", 0), fetch_busy),
        "fetch.decode_ms": ratio(
            c.get("fetch.decode_ms_sum", 0.0), c.get("fetch.decode_rows", 0)
        ),
        "fetch.invalid_pages": c.get("fetch.invalid_pages", 0),
        "extract.busy_s": tr.total("extract.extracted_hrefs"),
        "extract.links": c.get("extract.links", 0),
        "seen_filter.probes": c.get("seen_filter.probes", 0),
        "seen_filter.maybe_seen": c.get("seen_filter.maybe_seen", 0),
        "seen_filter.useful_ratio": ratio(
            c.get("seen_filter.useful", 0), c.get("seen_filter.maybe_seen", 0)
        ),
        "seen_filter.fold_s": tr.total("seen_filter.fold"),
        "seen_filter.rebuild_s": tr.total("seen_filter.rebuild"),
        "seen_filter.delete_s": tr.total("seen_filter.delete"),
        "seen_filter.bytes": c.get("seen_filter.bytes", 0),
        "upsert.busy_s": tr.total("upsert.upsert_parquet"),
        "state.bytes_per_epoch": per_epoch(c.get("state.bytes", 0)),
        "state.files_per_epoch": per_epoch(c.get("state.files", 0)),
        "dedup.candidates": c.get("dedup.candidates", 0),
        "dedup.verified": c.get("dedup.verified", 0),
        "dedup.verify_ratio": ratio(
            c.get("dedup.verified", 0), c.get("dedup.candidates", 0)
        ),
        "dedup.recall": c.get("dedup.recall", 0.0),
        "dedup.signatures_s": tr.total("dedup.lsh_candidate_pairs_fast"),
        "dedup.verify_s": tr.total("dedup.verify_pairs_jaccard"),
        "components.busy_s": tr.total("components.connected_components")
        + tr.total("components.dedup_canonical"),
        "components.clusters": c.get("components.clusters", 0),
    }
    for layer, agg in spark.items():
        for m in ("executor_run_s", "gc_s", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "failed_tasks"):
            out[f"spark.{layer}.{m}"] = agg[m]
    return out


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="Spark local cores (default: all available)")
    args = ap.parse_args(argv)

    settings = machine_settings(args.cores)
    os.environ.update(settings)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    sys.path[:0] = [ROOT, HERE]

    # the engine is imported only now, so a directory that holds the
    # benchmark alone fails here, before any result is printed
    from tracing import Tracer
    from whakoom_webscrapper_spark.session import get_spark
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    print("settings " + json.dumps({**settings, "workload": args.workload,
                                    "seed": args.seed, "trace": args.trace}))
    shutil.rmtree(os.path.join(WORK, "eventlog"), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "eventlog"))

    def start():
        return get_spark("perfbench", extra_confs=session_confs(bool(args.trace)))

    t = time.perf_counter()
    spark = start()
    session_start = time.perf_counter() - t

    partitions = max(int(settings["SPARK_GRAFT_CPUS"]), 8)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    ctx = Ctx(spark, WORK, partitions, Tracer(False, run_id))
    try:
        # the build covers every workload, so only the first run in a
        # checkout pays for it
        wls = {name: cls() for name, cls in WORKLOADS.items()}
        for w in wls.values():
            w.build(ctx)
        wl = wls[args.workload]
        log("built")
        wl.prepare(ctx, args.seed)
        log("prepared")

        setup = []
        for _ in range(SETUP_REPS):
            ctx.spark.stop()
            t = time.perf_counter()
            ctx.spark = start()
            wl.restore(ctx)
            setup.append(time.perf_counter() - t)

        log("set up")
        # a small untimed job of the same kind first, where the workload
        # measures warm jobs: they then run with the JIT warm, their plans
        # compiled and the Python workers up
        warm = [run_job(wl, ctx, wl.warmup)] if (args.trace or wl.warm_up) else []
        timed, tracer = [], None
        if not any(j.errors for j in warm):
            if args.trace:
                timed, tracer = run_traced(wl, ctx, run_id)
            else:
                timed = run_jobs(wl, ctx, args.seconds)
        jobs = warm + timed
        log("jobs " + " ".join(f"{j.wall_s:.1f}s" for j in jobs))
    finally:
        shutdown(ctx.spark)
    log("stopped")

    attempted = len(jobs)
    failed = sum(1 for j in jobs if j.errors)
    if failed:
        metrics = {}
    elif args.trace:
        overhead = timed[1].wall_s - (timed[0].wall_s + timed[2].wall_s) / 2
        tracer.write(os.path.join(WORK, "traces", f"{run_id}.jsonl"))
        metrics = with_units(per_layer(tracer, session_start, overhead), PER_LAYER)
    else:
        metrics = with_units(end_to_end(timed, setup), END_TO_END)
    steps = sum(len(j.steps) for j in timed)
    print(f"jobs {attempted} ({len(warm)} warm-up) failed {failed} timed steps {steps}")
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
