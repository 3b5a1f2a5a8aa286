"""SparkSession factory tuned for large-scale batch analytics.

The reference runs on AWS Glue and never tunes Spark (SURVEY.md §4). We
instead make the scale-relevant settings explicit so the same code runs on
``local[N]`` for tests and on a 1000-executor cluster unchanged:

- **AQE on** (adaptive shuffle-partition coalescing, runtime
  broadcast-join conversion, skew-join splitting) — the single most
  important knob for 100 TB plans whose stage sizes can't be predicted.
- **UTC session timezone** — the reference mixes lexicographic ISO-string
  comparison with parsed datetimes, which only agree because everything is
  UTC-normalized; we make that a hard invariant (SURVEY.md §7.4).
- **Arrow enabled** — all Python-side exchange (pandas UDFs, toPandas) is
  columnar/batched, never row-at-a-time pickling.
"""

from __future__ import annotations

import os
import tempfile
import threading
import zipfile
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession, types as T

from .schemas import TESTDATA_SCHEMAS

#: Runtime-settable SQL confs applied to *any* session handed to the engine
#: (driver-owned sessions included). Static confs (memory, master) are
#: deliberately excluded — those belong to the cluster manager.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python DataSource scans (sources/datasource.py) absorb media_id
    # equality/IN filters to prune fetch partitions — opt-in conf.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Advisory only (AQE coalesces down); sized so a 100 TB shuffle stage
    # still produces ~128 MB post-coalesce partitions.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
    # Skew-join thresholds pinned to Spark defaults so a query that
    # lowers them to demonstrate runtime skew-splitting at test SF
    # (``aqe_skew_join_rollup``) cannot leak its overrides into the
    # next query — apply_runtime_confs resets them on every build.
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256m",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "5.0",
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "false",
    # Runtime bloom-filter join pruning (``bloom_filter_join_prune``)
    # pinned at Spark defaults for the same reason as the skew
    # thresholds above: the demo query lowers the application-side
    # size gate so injection fires at test SF, and apply_runtime_confs
    # must reset it before the next query builds.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "10GB",
    "spark.sql.autoBroadcastJoinThreshold": "10MB",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime invariants to an existing session.

    Every public query entrypoint calls this, so correctness (UTC dates,
    AQE) does not depend on who built the SparkSession. Also ships the
    engine package to executor Python workers (pandas-UDF / mapInPandas
    stages deserialize functions by module reference).
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except AnalysisException:  # not modifiable on this runtime
            if key == "spark.sql.session.timeZone":
                raise  # UTC is an invariant, not best-effort
    _ship_package(spark)
    return spark


#: State-partition count for the engine's bounded-state streaming
#: demonstrations. The r9 ``statestore_join_state_audit`` lesson,
#: generalized in r12: every
#: micro-batch pays state-store maintenance on EVERY shuffle partition
#: of every stateful operator whether or not it holds data (a
#: stream-stream join keeps 4 stores per partition per side — at 32
#: session partitions that was measured at ~4x the whole query's
#: runtime for kilobytes of state). All of this engine's streaming
#: state is BOUNDED by construction (calendar-grain aggregates,
#: watermark-horizon join buffers, 64-register sketches), so a small
#: state-partition count is the honest production sizing too — the
#: knob scales with state volume, not compute parallelism.
STREAM_SHUFFLE_PARTITIONS = 8

#: Source-bytes-per-state-partition target for the data-adaptive
#: derivation below (r13, the VERDICT r12 item): 1 GiB of staged stream
#: input per state partition.
STREAM_STATE_BYTES_PER_PARTITION = 1 << 30

#: Upper clamp for the derived width — bounds the per-trigger
#: state-store commit fan-out on a real cluster the same way the floor
#: bounds maintenance overhead at test SF.
_STREAM_STATE_MAX_PARTITIONS = 2048


def stream_state_partitions(spark: SparkSession, source=None) -> int:
    """Data-adaptive state-partition count for stateful streaming
    operators (r13; mirrors ``graph._SMALL_FRONTIER``'s derive-from-data
    rule instead of the r12 constant).

    Why input bytes: every micro-batch pays state-store maintenance on
    EVERY shuffle partition of every stateful operator, so the width
    must track STATE volume, not compute width. The engine's streaming
    state is grain/watermark-bounded, so distinct state keys grow (at
    most linearly, usually far slower) with the staged input — whose
    on-disk size is known from the file listing the stream source has
    already done, i.e. derivable WITHOUT running a job. One state
    partition per ``STREAM_STATE_BYTES_PER_PARTITION`` (1 GiB) of
    input, clamped to [``STREAM_SHUFFLE_PARTITIONS``, 2048]: at the
    bench SFs (MB-scale sources) this floors to the r12-measured 8 —
    bit-identical bench behavior — while a 100 TB backfill derives a
    cluster-scale width instead of serializing on 8 stores.

    ``source``: a batch DataFrame over the staged input, a parquet
    path, or a list of paths (stream-stream joins pass both sides).
    ``None`` keeps the floor, and so does a source without size
    statistics (an RDD-backed plan reports ``defaultSizeInBytes``).
    """
    if source is None:
        return STREAM_SHUFFLE_PARTITIONS
    unknown = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    paths = source if isinstance(source, (list, tuple)) else [source]
    size = 0
    for p in paths:
        # leaf-relation plan statistics = total file bytes from the
        # listing; an empty read schema skips footer inference, so a
        # path costs no job and no scan
        df = spark.read.schema(T.StructType()).parquet(p) if isinstance(p, str) else p
        n = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        if n >= unknown:
            return STREAM_SHUFFLE_PARTITIONS
        size += n
    derived = -(-size // STREAM_STATE_BYTES_PER_PARTITION)  # ceil
    return max(
        STREAM_SHUFFLE_PARTITIONS, min(_STREAM_STATE_MAX_PARTITIONS, derived)
    )


_SHUFFLE_SCOPE = threading.Lock()


@contextmanager
def scoped_shuffle_partitions(
    spark: SparkSession, n: int | None = None, *, source=None
):
    """Set ``spark.sql.shuffle.partitions`` for a block and restore it
    on exit — the only writer of that conf after :func:`get_spark`
    (a stream's first start pins its state partition count from it;
    batch plans take per-plan hints instead). The conf is
    session-global, so entering while another thread is inside raises
    ``RuntimeError``. Actions meant to run at the scoped width must
    execute INSIDE the block.

    ``n`` defaults to :func:`stream_state_partitions` over ``source``
    (staged stream input: path/DataFrame/list)."""
    if n is None:
        n = stream_state_partitions(spark, source)
    if not _SHUFFLE_SCOPE.acquire(blocking=False):
        raise RuntimeError("scoped_shuffle_partitions: active on another thread")
    try:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    finally:
        _SHUFFLE_SCOPE.release()


_SHIPPED: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make ``wistia_etl_pipeline_spark`` importable on executors via
    ``addPyFile`` (a zip built once per process). Harmless no-op for
    pure-JVM plans; required for any Python-worker stage."""
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    try:
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        zip_path = os.path.join(
            tempfile.gettempdir(), f"wistia_etl_pipeline_spark_{os.getpid()}.zip"
        )
        if not os.path.exists(zip_path):
            with zipfile.ZipFile(zip_path, "w") as zf:
                for root, _dirs, files in os.walk(pkg_dir):
                    for fn in files:
                        if fn.endswith(".py"):
                            full = os.path.join(root, fn)
                            rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                            zf.write(full, rel)
        spark.sparkContext.addPyFile(zip_path)
        _SHIPPED.add(key)
    except (OSError, Py4JError):
        pass  # best-effort; plain-JVM queries don't need it


def get_spark(
    app_name: str = "wistia-etl-pipeline-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a session for local runs and tests.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default 32 — matches
    the driver's bench harness). ``shuffle_partitions`` defaults to the
    core count: with AQE coalescing enabled, a slightly-high static value
    is strictly better than a low one.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # catalog tables (bucketed-join tests) land in a scratch dir,
        # not the repo cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), f"wistia_warehouse_{os.getpid()}"),
            ),
        )
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    return apply_runtime_confs(builder.getOrCreate())


def arrow_local_df(spark: SparkSession, rows: list[dict], schema):
    """Driver-local rows → DataFrame through ONE Arrow batch.

    ``createDataFrame(list)`` parallelizes into defaultParallelism
    pickled slices, and every downstream job pays a Python-worker
    round-trip PER SLICE to decode them — ~1 s of fixed cost per action
    for a 5-row frame at local[32], and a 1-task ``coalesce`` of such a
    frame replays all slices sequentially (~3.4 s measured). The Arrow
    table instead lands JVM-side as a local scan: no Python workers at
    execution time, partition count = Arrow batch count (small). Use
    for any driver-built frame on a hot path (dim deltas, bronze
    batches); falls back to the pickle path on conversion surprises
    (identical semantics, just slower).

    ``rows`` are dicts keyed by field name (missing keys become nulls,
    extra keys are ignored, same as the ``.get`` tuple path) or tuples
    in field order; ``schema`` is a StructType or a DDL string.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = [f.name for f in schema.fields]
    if rows and not isinstance(rows[0], dict):
        rows = [dict(zip(names, r)) for r in rows]
    # Narrow fallback (ADVICE r7): a bare except here silently rewrote
    # row-type bugs (e.g. an int where the schema says string) into a
    # permanent hot-path perf regression. Only conversion-shaped errors
    # fall back — and loudly — so a mistyped row surfaces either as the
    # Arrow error in the warning or as the pickle path's own cast.
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
    except ImportError:
        pa = None
    if pa is not None:
        try:
            return spark.createDataFrame(
                pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
            )
        except (pa.lib.ArrowInvalid, pa.lib.ArrowTypeError,
                pa.lib.ArrowNotImplementedError, ValueError, TypeError) as exc:
            import warnings

            warnings.warn(
                "arrow_local_df falling back to the pickle path "
                f"({type(exc).__name__}: {str(exc)[:200]}) — fix the row "
                "types; this path is ~10x slower per downstream action",
                stacklevel=2,
            )
    return spark.createDataFrame(
        [tuple(r.get(n) for n in names) for r in rows], schema=schema
    )


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one testdata parquet table (TESTDATA.md) with its declared
    schema from :data:`schemas.TESTDATA_SCHEMAS` — no schema-inference
    job. The declared timestamps are session-local TimestampType (UTC
    session ⇒ the stored micros are the epoch value), so ts predicates
    sit on the storage column and push down to the parquet scan.

    The declaration is first checked against the parquet footer (read
    by pyarrow, no Spark job); any drift raises ``ValueError`` naming
    the table, the column, and the declared and found types."""
    apply_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    declared = T.StructType.fromDDL(TESTDATA_SCHEMAS[name])
    _check_footer(name, path, declared)
    return spark.read.schema(declared).parquet(path)


def _check_footer(name: str, path: str, declared) -> None:
    """Raise ``ValueError`` unless the footer of ``path`` (a file, or a
    Spark-written directory of part files sharing one schema) holds
    exactly the ``declared`` columns and types. Nullability is not
    compared. INT96 timestamps (Spark's default output) are read at
    micros; any other non-micros timestamp is drift, because
    ``from_arrow_schema`` maps every unit to TimestampType."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    if os.path.isdir(path):
        path = min(glob.glob(os.path.join(path, "*.parquet")), default=path)
    arrow = pq.ParquetFile(path, coerce_int96_timestamp_unit="us").schema_arrow
    found = {f.name: f.dataType.simpleString() for f in from_arrow_schema(arrow)}
    for f in arrow:
        if pa.types.is_timestamp(f.type) and f.type.unit != "us":
            found[f.name] = str(f.type)
    want = {f.name: f.dataType.simpleString() for f in declared}
    for col in dict.fromkeys([*want, *found]):
        if want.get(col) != found.get(col):
            raise ValueError(
                f"{name}.{col}: declared {want.get(col, 'no column')}, "
                f"found {found.get(col, 'no column')} in {path}"
            )
