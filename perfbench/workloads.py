"""The benchmark workloads and the metrics they report.

Every workload is a closed loop with one client: a round starts only after
the previous one returned, as a scheduler drives ``run_once`` and as an
analyst runs one query at a time. A round is

- ``pipeline_incremental``: one tick, from the feed update to ``run_once``
  returning;
- ``queries_scan``: one pass over the query list in a seeded order, each
  query built and executed to the noop sink.

README.md in this directory gives the reason for each workload and which
layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback
from collections import Counter
from contextlib import contextmanager

import duckdb
import numpy as np

import tables
from feed import FakeWistia, gold_mismatches
from tools.check_correctness import _hash
from tracing import Tracer
from wistia_etl_pipeline_spark import pipeline as pipeline_mod
from wistia_etl_pipeline_spark import registry
from wistia_etl_pipeline_spark.incremental.watermark import JsonStateStore
from wistia_etl_pipeline_spark.sources.rest_source import PullConfig

SCAN_QUERIES = (
    "gold_daily_rollup",
    "silver_dedup_latest_wins",
    "sessionize_events",
    "retention_7d",
    "percentile_engagement",
    "star_join_revenue",
    "unshipped_orders_q3",
    "large_volume_customers_q18",
)

#: Input sizes. ``tiny`` is the smoke test's.
SIZES = {
    "full": {"media": 16, "mean_events": 300, "tick_media": 3, "tick_events": 20,
             "warmup_ticks": 2, "sf": 0.01, "warmup_passes": 2},
    "tiny": {"media": 4, "mean_events": 40, "tick_media": 1, "tick_events": 5,
             "warmup_ticks": 1, "sf": 0.001, "warmup_passes": 1},
}
#: Input generation is repeated this many times and its median counted
#: in ``setup_s``; session start and warm-up run once.
INPUT_REPEATS = 3
#: What :class:`HostClock` takes on the quiet 4-core host the benchmark was
#: written on; ``round_ref_s.p50`` is round time scaled to that speed.
CALIB_REF_S = 0.167
_MERGE_TARGETS = ("silver", "dim", "gold")
_TABLE_DIRS = ("bronze", "silver", "dim", "gold")


def _release_cached(spark) -> None:
    """Drop what the previous query left pinned: persisted DataFrames and
    ``localCheckpoint`` RDDs (which ``clearCache`` does not reach)."""
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()


def _tree(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


@contextmanager
def _patched(obj, attr: str, wrapper):
    orig = getattr(obj, attr)
    setattr(obj, attr, wrapper(orig))
    try:
        yield
    finally:
        setattr(obj, attr, orig)


class Workload:
    name = ""

    def __init__(self, spark, tracer: Tracer, seed: int, work_dir: str, size: dict):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work_dir = work_dir
        self.size = size
        self.attempted = 0
        self.failed = 0
        self.new_events: list[int] = []

    def make_inputs(self) -> None:
        raise NotImplementedError

    def prepare(self) -> float:
        """Warm up; returns the seconds that count as set-up."""
        raise NotImplementedError

    def round(self, i: int) -> float:
        raise NotImplementedError

    @contextmanager
    def instrumented(self):
        yield

    def verify(self) -> None:
        pass

    def storage_bytes_per_event(self) -> float:
        return 0.0


# --------------------------------------------------------------------------
# Pipeline workload
# --------------------------------------------------------------------------


class PipelineIncremental(Workload):
    name = "pipeline_incremental"

    def make_inputs(self) -> None:
        self.feed = FakeWistia(self.seed, self.size["media"], self.size["mean_events"])

    def _pipeline(self, max_pages: int):
        root = self.root
        return pipeline_mod.BatchPipeline(
            spark=self.spark,
            api=pipeline_mod.WistiaApi(
                transport=self.feed.transport, events_url=self.feed.events_url,
                metadata=self.feed.metadata,
            ),
            bronze_path=f"{root}/bronze",
            silver_path=f"{root}/silver",
            dim_path=f"{root}/dim",
            gold_path=f"{root}/gold",
            state_store=JsonStateStore(f"{root}/watermarks.json"),
            # no time budget: the page cap alone decides where a pull stops
            config=PullConfig(per_page=self.feed.per_page, max_pages=max_pages,
                              time_budget_seconds=3600.0),
        )

    def _run_once(self, pipe) -> list[str]:
        with self.tracer.span("pipeline.run_once") as rec:
            summary = pipe.run_once(self.feed.media_ids)
        actions = [v.get("action") for v in summary.values()]
        rec["actions"] = dict(Counter(actions))
        self.attempted += sum(a != "skip" for a in actions)
        self.failed += actions.count("error")
        for media_id, v in summary.items():
            if v.get("action") == "error":
                print(f"media {media_id} failed: {v.get('error')}", file=sys.stderr)
        return actions

    def _tick(self) -> int:
        new = self.feed.append(self.size["tick_media"], self.size["tick_events"])
        self._run_once(self.pipe)
        return new

    def prepare(self) -> float:
        """Preload the history, then run the discarded warm-up ticks.

        The preload is a backfill into empty tables with the page cap at
        half the largest feed, so big media checkpoint and resume once.
        Ticks run without a reachable cap: each tick's pull completes in
        one ``run_once``."""
        t0 = time.perf_counter()
        self.root = os.path.join(self.work_dir, "tables")
        backfill = self._pipeline(max_pages=math.ceil(self.feed.max_pages() / 2))
        for _ in range(100):
            if all(a == "skip" for a in self._run_once(backfill)):
                break
        else:
            raise RuntimeError("the preload did not converge within 100 runs")
        self.pipe = self._pipeline(max_pages=1_000_000)
        for _ in range(self.size["warmup_ticks"]):
            self._tick()
        return time.perf_counter() - t0

    def round(self, i: int) -> float:
        t0 = time.perf_counter()
        self.new_events.append(self._tick())
        return time.perf_counter() - t0

    def verify(self) -> None:
        bad = gold_mismatches(f"{self.root}/gold", self.feed)
        if bad:
            print(f"gold differs from the reference on {bad} media", file=sys.stderr)
        self.failed += bad

    def storage_bytes_per_event(self) -> float:
        stored = sum(_tree(os.path.join(self.root, d))[1] for d in _TABLE_DIRS)
        return stored / self.feed.distinct_events()

    @contextmanager
    def instrumented(self):
        """Spans around fetch, bronze write, each MERGE and the watermark
        persist of the tick pipeline."""
        tracer, feed, pipe = self.tracer, self.feed, self.pipe

        def fetch(orig):
            def wrapped(*args, **kwargs):
                before = feed.transport_s
                with tracer.span("sources.fetch") as rec:
                    result = orig(*args, **kwargs)
                rec["transport_s"] = feed.transport_s - before
                rec["pages"] = len(result.pages)
                rec["rows"] = sum(len(rows) for _page, rows in result.pages)
                return result
            return wrapped

        def merge(orig):
            def wrapped(spark, stage, path, keys, **kwargs):
                target = os.path.basename(path.rstrip("/"))
                with tracer.span(f"merge.{target}"):
                    return orig(spark, stage, path, keys, **kwargs)
            return wrapped

        def bronze(orig):
            def wrapped(batches):
                files_before = _tree(pipe.bronze_path)[0]
                with tracer.span("bronze.write") as rec:
                    orig(batches)
                rec["files"] = _tree(pipe.bronze_path)[0] - files_before
            return wrapped

        def persist(orig):
            def wrapped(states):
                with tracer.span("watermark.persist"):
                    orig(states)
            return wrapped

        with _patched(pipeline_mod, "fetch_pages", fetch), \
                _patched(pipeline_mod, "merge_into_path", merge), \
                _patched(pipe, "_write_bronze_batch", bronze), \
                _patched(pipe.state_store, "write", persist):
            yield


# --------------------------------------------------------------------------
# Query workload
# --------------------------------------------------------------------------


class QueriesScan(Workload):
    name = "queries_scan"

    def make_inputs(self) -> None:
        self.data_dir = os.path.join(self.work_dir, "tables")
        tables.generate(self.seed, self.size["sf"], self.data_dir)

    def prepare(self) -> float:
        """Warm-up passes. The first also checks every query against its
        DuckDB oracle; only builds and executions count as set-up."""
        fns, oracles = registry.queries(), registry.oracle_sql()
        self.fns = {n: fns[n] for n in SCAN_QUERIES}
        self.order_rng = np.random.default_rng(self.seed)
        con = duckdb.connect()
        try:
            for t in tables.TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            counted = 0.0
            for name in SCAN_QUERIES:
                self.attempted += 1
                try:
                    t0 = time.perf_counter()
                    df = self.fns[name](self.spark, self.data_dir)
                    df.write.format("noop").mode("overwrite").save()
                    counted += time.perf_counter() - t0
                    if not self._matches(df, oracles[name], con):
                        print(f"{name}: result differs from its oracle", file=sys.stderr)
                        self.failed += 1
                except Exception:
                    traceback.print_exc()
                    self.failed += 1
                _release_cached(self.spark)
        finally:
            con.close()
        for i in range(1, self.size["warmup_passes"]):
            counted += self.round(-i)
        return counted

    @staticmethod
    def _matches(df, oracle: str, con) -> bool:
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        cur = con.execute(oracle)
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        return (
            len(rows) == len(orows)
            and sorted(cols) == sorted(ocols)
            and _hash(rows, cols) == _hash(orows, ocols)
        )

    def round(self, i: int) -> float:
        order = [SCAN_QUERIES[k] for k in self.order_rng.permutation(len(SCAN_QUERIES))]
        t0 = time.perf_counter()
        for name in order:
            self.attempted += 1
            try:
                with self.tracer.span("query", trace_id=f"{name}#{i}") as rec:
                    rec["query"] = name
                    with self.tracer.span("query.build"):
                        df = self.fns[name](self.spark, self.data_dir)
                    with self.tracer.span("query.exec"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception:
                traceback.print_exc()
                self.failed += 1
            _release_cached(self.spark)
        return time.perf_counter() - t0


WORKLOADS = {w.name: w for w in (PipelineIncremental, QueriesScan)}


# --------------------------------------------------------------------------
# Running and reporting
# --------------------------------------------------------------------------


class HostClock:
    """A fixed amount of engine-free work, timed between rounds to read how
    fast the host runs at that moment.

    The benchmark shares its cores' hardware with other tenants, and their
    load slows every thread on the box, CPU time as much as wall time, for
    tens of seconds to minutes at a time: the same run varies by a quarter
    or more between hours. The calibration is a pure-Python loop (the
    driver's side) plus a copy and ``Arrays.parallelSort`` of a fixed
    array in the JVM (its JIT-compiled side, on every core). It runs no
    engine code and no Spark job, so no change to the engine moves it."""

    _N = 2_000_000

    def __init__(self, spark, warmups: int = 2):
        self._jvm = spark._jvm
        util = self._jvm.java.util
        self._data = util.Random(7).longs(self._N).toArray()
        self._work = util.Arrays.copyOf(self._data, self._N)  # reused: no garbage per sample
        for _ in range(warmups):  # past the JIT warm-up of the sort
            self.sample()

    def _once(self) -> float:
        t0 = time.perf_counter()
        x = 0
        for k in range(self._N // 2):
            x += k
        self._jvm.java.lang.System.arraycopy(self._data, 0, self._work, 0, self._N)
        self._jvm.java.util.Arrays.parallelSort(self._work)
        return time.perf_counter() - t0

    def sample(self) -> float:
        """Median of three timings of the calibration, in seconds."""
        return statistics.median(self._once() for _ in range(3))


def _measure(wl: Workload, *, seconds: float | None = None, rounds: int | None = None,
             first: int = 0, clock: HostClock | None = None,
             calib: list[float] | None = None) -> list[float]:
    """Run rounds while another one of the last round's length still fits
    in ``seconds`` (at least one round), or exactly ``rounds`` of them. A
    round that raises counts as one failed operation and ends the
    measurement. With a ``clock``, it is sampled into ``calib`` before
    the first round and after each one."""
    durations: list[float] = []
    if clock is not None:
        calib.append(clock.sample())
    deadline = time.perf_counter() + (seconds or 0.0)
    while (len(durations) < rounds) if rounds is not None else (
            not durations or time.perf_counter() + durations[-1] <= deadline):
        i = first + len(durations)
        try:
            with wl.tracer.span("round", trace_id=f"{wl.name}#{i}"):
                durations.append(wl.round(i))
        except Exception:
            traceback.print_exc()
            wl.failed += 1
            break
        wl.tracer.harvest()
        if clock is not None:
            calib.append(clock.sample())
    if not durations:
        raise RuntimeError(f"{wl.name}: no round completed")
    return durations


def _peak_rss_mb(spark) -> float:
    """VmHWM of this process plus the JVM, in MiB."""
    pids = [os.getpid(), spark._jvm.ProcessHandle.current().pid()]
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def _sum(spans: list[dict], key: str) -> float:
    return float(sum(s.get(key, 0) for s in spans))


def layer_metrics(wl: Workload, untraced: list[float], traced: list[float],
                  calib: list[float]) -> dict[str, float]:
    """Every per-layer metric, as a mean per traced round; layers a
    workload does not touch report 0."""
    tr = wl.tracer
    n = len(traced)
    m: dict[str, float] = {}
    rounds = tr.named("round")
    m["rounds"] = float(n)
    m["round_s.p50"] = statistics.median(untraced)
    m["host.calib_s"] = statistics.median(calib)
    m["round.self_s"] = _sum(rounds, "self_s") / n
    m["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    wall = _sum(rounds, "dur_s")
    m["spark.exec_busy_ratio"] = _sum(rounds, "exec_run_s") / (wall * tr.parallelism)

    new_events = float(sum(wl.new_events[-n:]))
    fetch = tr.named("sources.fetch")
    rows_fetched = _sum(fetch, "rows")
    m["sources.fetch.calls"] = len(fetch) / n
    m["sources.fetch.pages"] = _sum(fetch, "pages") / n
    m["sources.fetch.rows"] = rows_fetched / n
    m["sources.fetch.self_s"] = (_sum(fetch, "dur_s") - _sum(fetch, "transport_s")) / n
    m["bench.transport_s"] = _sum(fetch, "transport_s") / n
    m["sources.useful_ratio"] = new_events / rows_fetched if rows_fetched else 0.0

    bronze = tr.named("bronze.write")
    m["bronze.s"] = _sum(bronze, "dur_s") / n
    m["bronze.jobs"] = _sum(bronze, "jobs") / n
    m["bronze.exec_cpu_s"] = _sum(bronze, "exec_cpu_s") / n
    m["bronze.rows"] = _sum(bronze, "out_rows") / n
    m["bronze.files"] = _sum(bronze, "files") / n
    m["bronze.bytes"] = _sum(bronze, "out_bytes") / n

    for t in _MERGE_TARGETS:
        spans = tr.named(f"merge.{t}")
        for metric, key in (("s", "dur_s"), ("jobs", "jobs"), ("stages", "stages"),
                            ("exec_cpu_s", "exec_cpu_s"), ("shuffle_bytes", "shuffle_bytes"),
                            ("rows_written", "out_rows"), ("bytes_written", "out_bytes")):
            m[f"merge.{t}.{metric}"] = _sum(spans, key) / n
    silver_rows = _sum(tr.named("merge.silver"), "out_rows")
    m["merge.silver.write_amp"] = silver_rows / new_events if new_events else 0.0

    runs = tr.named("pipeline.run_once")
    actions: Counter = Counter()
    for s in runs:
        actions.update(s.get("actions", {}))
    m["watermark.full_pulls"] = actions["full_pull"] / n
    m["watermark.resumes"] = actions["resume"] / n
    m["watermark.skips"] = actions["skip"] / n
    m["watermark.persist_s"] = _sum(tr.named("watermark.persist"), "dur_s") / n
    m["pipeline.run_once_s"] = _sum(runs, "dur_s") / n
    m["pipeline.jobs"] = _sum(runs, "jobs") / n
    m["pipeline.stages"] = _sum(runs, "stages") / n
    m["pipeline.driver_gap_s"] = _sum(runs, "driver_gap_s") / n
    m["storage.bytes_per_event"] = wl.storage_bytes_per_event()

    qspans = tr.named("query")
    by_id = {s["id"]: s for s in qspans}
    builds = tr.named("query.build")
    execs = tr.named("query.exec")
    m["queries.build_s"] = _sum(builds, "dur_s") / n
    m["queries.exec_s"] = _sum(execs, "dur_s") / n
    m["queries.jobs_build"] = _sum(builds, "jobs") / n
    for metric in ("jobs", "stages", "shuffle_bytes", "exec_cpu_s", "driver_gap_s"):
        m[f"queries.{metric}"] = _sum(qspans, metric) / n
    for name in SCAN_QUERIES:
        mine = [s for s in qspans if s["query"] == name]
        mb = [s for s in builds if by_id.get(s["parent"], {}).get("query") == name]
        me = [s for s in execs if by_id.get(s["parent"], {}).get("query") == name]
        k = len(mine) or 1
        m[f"q.{name}.build_s"] = _sum(mb, "dur_s") / k
        m[f"q.{name}.exec_s"] = _sum(me, "dur_s") / k
        m[f"q.{name}.jobs_build"] = _sum(mb, "jobs") / k
        m[f"q.{name}.jobs"] = _sum(mine, "jobs") / k
    return m


def run(spark, workload: str, *, seed: int, seconds: float, trace: bool, work_dir: str,
        session_s: float, size: str = "full", spans_path: str | None = None) -> dict:
    """Set up, measure and check one workload; returns the result object
    (``metrics`` holds plain values, units are added by the caller)."""
    sz = SIZES[size]
    tracer = Tracer(spark, enabled=False)
    wl = WORKLOADS[workload](spark, tracer, seed, work_dir, sz)
    input_times = []
    for _ in range(INPUT_REPEATS):
        t0 = time.perf_counter()
        wl.make_inputs()
        input_times.append(time.perf_counter() - t0)
    prepare_s = wl.prepare()
    setup_s = session_s + statistics.median(input_times) + prepare_s

    clock = HostClock(spark)
    calib: list[float] = []
    untraced = _measure(wl, seconds=seconds, clock=clock, calib=calib)
    round_ref_s = statistics.median(untraced) * CALIB_REF_S / statistics.median(calib)
    print(f"{workload}: set-up {setup_s:.2f} s (session {session_s:.2f}, inputs "
          + "/".join(f"{t:.2f}" for t in input_times) + f", warm-up {prepare_s:.2f}); rounds (s) "
          + " ".join(f"{d:.3f}" for d in untraced) + "; host clock (s) "
          + " ".join(f"{c:.3f}" for c in calib) + f"; round_ref_s.p50 {round_ref_s:.3f}",
          file=sys.stderr, flush=True)
    if trace:
        tracer.enabled = True
        with wl.instrumented():
            traced = _measure(wl, rounds=len(untraced), first=len(untraced))
        tracer.finish()
    try:
        wl.verify()
    except Exception:
        traceback.print_exc()
        wl.failed += 1

    if trace:
        metrics = layer_metrics(wl, untraced, traced, calib)
        if spans_path:
            tracer.dump(spans_path, {"workload": workload, "seed": seed,
                                     "untraced_round_s": untraced, "traced_round_s": traced,
                                     "host_clock_s": calib})
    else:
        metrics = {
            "setup_s": setup_s,
            "round_ref_s.p50": round_ref_s,
            "peak_rss_mb": _peak_rss_mb(spark),
        }
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }
