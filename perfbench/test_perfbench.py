"""Tiny-scale tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The gates are checked on plain Python inputs, and once end to end on a
tiny corpus through Spark; the metric names, units and directions are
checked against ``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
from tracing import Tracer, attribute  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)

SHAPE = inputs.WorldShape(n_urls=120, n_hosts=6, fanout=4, budget_scale=1)


def test_metric_names_units_and_directions_match_benchmark_json():
    assert [(m["name"], m["unit"], m["better"]) for m in BENCHMARK["end_to_end"]] == [
        (k, u, b) for k, (u, b) in run.END_TO_END.items()
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in BENCHMARK["per_layer"]] == [
        (k, u, b) for k, (u, b) in run.PER_LAYER.items()
    ]


def test_workloads_match_benchmark_json():
    from workloads import WORKLOADS

    assert [(w["name"], w["why"]) for w in BENCHMARK["workloads"]] == [
        (w.name, w.why) for w in WORKLOADS.values()
    ]


def test_every_end_to_end_metric_is_reported():
    from workloads import Job

    jobs = [Job(2.0, 100, [1.5], 5000), Job(4.0, 100, [3.0], 5000)]
    got = run.end_to_end(jobs, [0.1, 0.3, 0.2])
    assert list(got) == list(run.END_TO_END)
    assert got["setup_s"] == 0.2
    assert got["items_per_s"] == pytest.approx(37.5)
    assert got["step_s.p50"] == pytest.approx(2.25)
    assert got["state_bytes_per_item"] == 50


def test_every_per_layer_metric_is_reported(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "WORK", str(tmp_path))
    (tmp_path / "eventlog").mkdir()
    tr = Tracer(False, "t")
    with tr.span("frontier.run_epoch"):
        pass
    tr.add("epochs", 1)
    got = run.per_layer(tr, 1.0, 0.5)
    assert list(got) == list(run.PER_LAYER)
    assert got["session.start_s"] == 1.0 and got["trace.overhead_s"] == 0.5


def test_printed_metrics_carry_their_units():
    values = {k: 1.0 for k in run.END_TO_END}
    assert {k: m["unit"] for k, m in run.with_units(values, run.END_TO_END).items()} == {
        m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]
    }
    with pytest.raises(KeyError):
        run.with_units({}, run.PER_LAYER)


def test_fails_without_a_result_where_only_the_benchmark_is(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "recrawl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_event_log_attribution_counts_a_reused_stage_once():
    spans = [{"start": 10.0, "end": 20.0}]
    jobs = [
        {"id": 0, "submit": 11.0, "stages": [0, 1]},
        {"id": 1, "submit": 12.0, "stages": [1, 2]},  # stage 1 skipped here
        {"id": 2, "submit": 30.0, "stages": [3]},  # outside the span
    ]
    ok = {"Task Info": {"Failed": False}, "Task End Reason": {"Reason": "Success"},
          "Task Metrics": {"Executor Run Time": 1000}}
    tasks = {0: [ok], 1: [ok, ok], 2: [ok], 3: [ok]}
    got = attribute(spans, jobs, tasks)
    assert got["jobs"] == 2 and got["tasks"] == 4
    assert got["executor_run_s"] == pytest.approx(4.0)


def _golden():
    urls = inputs.seed_urls(7, SHAPE, 5)
    return urls, checks.golden_crawl(SHAPE, urls, 50)


def test_seeded_inputs_repeat():
    assert inputs.seed_urls(3, SHAPE, 5) == inputs.seed_urls(3, SHAPE, 5)
    assert inputs.seed_urls(3, SHAPE, 5) != inputs.seed_urls(4, SHAPE, 5)
    docs, fams = inputs.make_corpus(3, inputs.CorpusShape(n_docs=50, n_families=5))
    assert (docs, fams) == inputs.make_corpus(3, inputs.CorpusShape(n_docs=50, n_families=5))
    assert all(t.strip() for _, t in docs)


def test_crawl_gate_passes_the_golden_crawl():
    _, (seen, log) = _golden()
    assert checks.crawl_vs_golden(set(seen.items()), log, seen, log, 0) == []


def test_tampered_seen_set_trips_the_crawl_gate():
    _, (seen, log) = _golden()
    tampered = set(seen.items())
    tampered.pop()
    assert checks.crawl_vs_golden(tampered, log, seen, log, 0)
    url, status = next(iter(seen.items()))
    flipped = (set(seen.items()) - {(url, status)}) | {(url, "failed" if status != "failed" else "fetched")}
    assert checks.crawl_vs_golden(flipped, log, seen, log, 0)


def test_reordered_host_fetches_trip_the_crawl_gate():
    _, (seen, log) = _golden()
    a = next(r for r in log if r[2] == 1)
    b = next(r for r in log if r[1] == a[1] and r[0] == a[0] and r[2] == 2)
    swapped = [r for r in log if r not in (a, b)] + [a[:3] + b[3:], b[:3] + a[3:]]
    assert checks.crawl_vs_golden(set(seen.items()), swapped, seen, log, 0)
    assert checks.crawl_vs_golden(set(seen.items()), log, seen, log, 1)


def test_recrawl_gate():
    before = {("u1", "fetched"), ("u2", "fetched"), ("u3", "fetched")}
    log = [(5, "h", 1, "u1", 0, 0), (5, "h", 2, "u2", 3, 0)]
    assert checks.recrawl(log, ["u1", "u2"], before, before, 0) == []
    # a tampered seen set after resume
    assert checks.recrawl(log, ["u1", "u2"], before - {("u3", "fetched")}, before, 0)
    # a batch URL not fetched again, a URL fetched that was not revoked
    assert checks.recrawl(log[:1], ["u1", "u2"], before, before, 0)
    assert checks.recrawl(log, ["u1"], before, before, 0)
    # host rank against (priority, discovery time, url) order
    bad = [(5, "h", 2, "u1", 0, 0), (5, "h", 1, "u2", 3, 0)]
    assert checks.recrawl(bad, ["u1", "u2"], before, before, 0)
    assert checks.recrawl(log, ["u1", "u2"], before, before, 2)


def _corpus():
    docs = [
        (0, "spark join filter data small big hash key query scan batch row"),
        (1, "spark join filter data small big hash key query scan batch line"),
        (2, "window merge table column vector stream value the agg order sort"),
        (3, "fast slow part customer group a row key scan the data value"),
    ]
    return {d: checks.shingles(t, 3) for d, t in docs}


def test_dedup_gate():
    sh = _corpus()
    j = checks.jaccard(sh[0], sh[1])
    assert j >= 0.5
    verified = [(0, 1, j)]
    assert checks.dedup(sh, verified, {1, 2, 3}, 0.5) == []
    assert checks.planted_recall([[0, 1]], sh, [(0, 1)], 0.5) == 1.0
    assert checks.planted_recall([[0, 1]], sh, [], 0.5) == 0.0


def test_tampered_survivors_trip_the_dedup_gate():
    sh = _corpus()
    verified = [(0, 1, checks.jaccard(sh[0], sh[1]))]
    assert checks.dedup(sh, verified, {0, 1, 2, 3}, 0.5)  # duplicate kept
    assert checks.dedup(sh, verified, {0, 2, 3}, 0.5)  # wrong survivor
    assert checks.dedup(sh, verified, {1, 2}, 0.5)  # a unique doc dropped
    # a verified pair below the threshold
    assert checks.dedup(sh, verified + [(2, 3, 0.9)], {1, 3}, 0.5)


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("PYTHONPATH", os.path.dirname(HERE))
    from whakoom_webscrapper_spark.session import get_spark

    s = get_spark("perfbench-tests", extra_confs={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_dedup_job_end_to_end_and_a_tampered_survivor_set(spark, monkeypatch):
    from pyspark.sql import functions as F

    import workloads
    from workloads import CorpusDedup, Ctx

    work = tempfile.mkdtemp(prefix="perfbench_")
    try:
        wl = CorpusDedup()
        wl.shape = inputs.CorpusShape(n_docs=150, n_families=10)
        ctx = Ctx(spark, work, 4, Tracer(False, "t"))
        wl.prepare(ctx, 1)
        job = wl.job(ctx)
        assert job.errors == [] and job.items > 150 and job.state_bytes > 0

        # an engine that loses one survivor must fail the gate
        real = workloads.C.dedup_canonical
        monkeypatch.setattr(
            workloads.C, "dedup_canonical",
            lambda *a, **k: real(*a, **k).filter(F.col("doc_id") != 0),
        )
        assert any("survivor set differs" in e for e in wl.job(ctx).errors)
    finally:
        shutil.rmtree(work, ignore_errors=True)
