"""Smoke test of the benchmark at its smallest size.

    python -m pytest perfbench/test_smoke.py -q

Runs every workload of BENCHMARK.json on the tiny generator, untraced and
traced, in one Spark session, and checks the reporting contract and the
gold gate.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402  (puts the repository root on sys.path)
import workloads  # noqa: E402
from feed import gold_mismatches  # noqa: E402
from tracing import Tracer  # noqa: E402

SPEC = run._spec()
WORKLOAD_NAMES = [w["name"] for w in SPEC["workloads"]]


@pytest.fixture(scope="module")
def env():
    work = os.path.join(run.ROOT, ".perfbench_run", f"smoke-{os.getpid()}")
    os.makedirs(work)
    saved = dict(os.environ)
    run._isolate(work)
    spark, _ = run.start_session()
    try:
        yield spark, work
    finally:
        run.stop_session(spark)
        os.environ.clear()
        os.environ.update(saved)
        shutil.rmtree(work, ignore_errors=True)


def _run(env, workload: str, trace: bool, tag: str):
    spark, work = env
    wdir = os.path.join(work, f"{workload}-{tag}")
    os.makedirs(wdir)
    spans = os.path.join(wdir, "spans.json")
    result = workloads.run(spark, workload, seed=3, seconds=0.5, trace=trace, work_dir=wdir,
                           session_s=0.0, size="tiny", spans_path=spans)
    return result, spans


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_every_metric_is_reported_with_its_unit(env, workload):
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        result, _ = _run(env, workload, trace, key)
        assert result["correct"] and result["failed"] == 0
        assert result["attempted"] >= 1
        reported = run.with_units(result["metrics"], SPEC[key])
        assert [(k, v["unit"]) for k, v in reported.items()] == [
            (m["name"], m["unit"]) for m in SPEC[key]
        ]
        assert all(math.isfinite(v["value"]) for v in reported.values())
        if not trace:
            assert all(v["value"] > 0 for v in reported.values())


def test_tick_time_is_its_child_self_times_plus_residue(env):
    _, spans_path = _run(env, "pipeline_incremental", True, "selftime")
    with open(spans_path, encoding="utf-8") as f:
        spans = json.load(f)["spans"]
    ticks = [s for s in spans if s["name"] == "round"]
    assert ticks
    for tick in ticks:
        below, frontier = [], [tick["id"]]
        while frontier:
            kids = [s for s in spans if s["parent"] in frontier]
            below.extend(kids)
            frontier = [s["id"] for s in kids]
        names = {s["name"] for s in below}
        assert {"pipeline.run_once", "sources.fetch", "bronze.write", "merge.silver",
                "merge.gold", "watermark.persist"} <= names
        total = tick["self_s"] + sum(s["self_s"] for s in below)
        assert total == pytest.approx(tick["dur_s"], abs=1e-6)
        assert tick["jobs"] > 0


def test_gold_gate_fails_when_one_event_is_withheld(env):
    spark, work = env
    wdir = os.path.join(work, "gate")
    os.makedirs(wdir)
    wl = workloads.PipelineIncremental(spark, Tracer(spark, enabled=False), 5, wdir,
                                       workloads.SIZES["tiny"])
    wl.make_inputs()
    wl.prepare()
    wl.round(0)
    gold = os.path.join(wl.root, "gold")
    assert gold_mismatches(gold, wl.feed) == 0
    assert gold_mismatches(gold, wl.feed, withhold=1) == 1
