"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds every input from ``--seed``, measures
the workload for ``--seconds``, checks the program's outputs and prints, as
the last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. A traced run also
writes its spans to ``.perfbench_out/``.

All run state (tables, Spark scratch, temp files) lives in a fresh
directory under ``.perfbench_run/`` that is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

# The engine must be importable from the checkout; without it the run
# fails here, before any state is created.
import wistia_etl_pipeline_spark  # noqa: E402,F401
import workloads  # noqa: E402


def _isolate(work_dir: str) -> None:
    """Point every temp and scratch location of Python, Spark and the JVM
    into ``work_dir`` and pin local parallelism to the cores available."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work_dir, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # every JVM, the launcher's too: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # A fixed-size driver heap: with a growing one, heap resizing made tick
    # times and peak RSS differ by up to a quarter between identical runs.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.driver.extraJavaOptions=-Xms2g pyspark-shell"
    )


def start_session():
    """The engine's own session factory, pinned by :func:`_isolate`.
    Returns (spark, seconds it took)."""
    from wistia_etl_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
            raise


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def with_units(values: dict[str, float], wanted: list[dict]) -> dict[str, dict]:
    """The metrics of ``wanted`` (a BENCHMARK.json list) in its order, each
    as ``{"value", "unit"}``; any other set of names is an error."""
    names = [m["name"] for m in wanted]
    if set(values) != set(names):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(names))}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    spec = _spec()
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    work_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir)
    try:
        _isolate(work_dir)
        spark, session_s = start_session()
        try:
            import pyspark

            sc = spark.sparkContext
            print(f"session: master={sc.master} defaultParallelism={sc.defaultParallelism} "
                  f"pyspark={pyspark.__version__}", flush=True)
            spans_path = None
            if args.trace:
                out = os.path.join(ROOT, ".perfbench_out")
                os.makedirs(out, exist_ok=True)
                spans_path = os.path.join(out, f"spans-{args.workload}-s{args.seed}.json")
            result = workloads.run(
                spark, args.workload, seed=args.seed, seconds=args.seconds,
                trace=bool(args.trace), work_dir=work_dir, session_s=session_s,
                spans_path=spans_path,
            )
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    result["metrics"] = with_units(result["metrics"], wanted)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
