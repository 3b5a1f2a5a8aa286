"""Key-based upsert (MERGE) — A7 / J1 / J2 (SURVEY.md §2.3-2.4).

The reference implements upsert as Redshift stored procedures: DELETE
target rows matching stage keys, INSERT all stage rows, TRUNCATE stage
(wistia_stored_procedures.py:3-42 for ``dim_media`` on ``media_id``,
:49-85 for ``media_daily_agg`` on ``(media_id, dt)``). The relational
equivalent is::

    (target LEFT ANTI JOIN stage ON keys)  UNION ALL  stage

which is exactly what :func:`upsert` builds. Properties preserved from
the reference:

- **idempotent replace-by-key**: applying the same stage twice ≡ once
  (the second application deletes-and-reinserts identical rows);
- **stage wins**: every key present in stage takes stage's row.

Scale notes (100 TB):
- The anti-join is the only shuffle, keyed on the upsert key. When the
  stage is small relative to the target (the common incremental case —
  a day's delta vs years of history), ``broadcast_stage=True`` turns
  it into a broadcast anti-join: the 100 TB target never shuffles.
- :func:`merge_into_path` materializes via write-temp-then-swap. On
  vanilla Parquet, overwrite-in-place is not atomic for concurrent
  readers (SURVEY.md §7.4); on a table format with ACID commit
  semantics (Delta/Iceberg) a real ``MERGE INTO`` replaces this whole
  module — the logical plan here is the portable fallback.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F


def upsert(
    target: DataFrame,
    stage: DataFrame,
    keys: Sequence[str],
    *,
    broadcast_stage: bool = False,
) -> DataFrame:
    """Delete-then-insert by key, as one declarative plan.

    Reference: wistia_stored_procedures.py:9-11 (DELETE USING = left
    anti join on the keep side) + :13-36 (INSERT from stage).
    """
    probe = F.broadcast(stage) if broadcast_stage else stage
    kept = target.join(probe.select(*keys), list(keys), "left_anti")
    return kept.unionByName(stage.select(*target.columns))


def merge_into_path(
    spark: SparkSession,
    stage: DataFrame,
    path: str,
    keys: Sequence[str],
) -> None:
    """Materialized MERGE against a Parquet path: read target, upsert,
    write to a temp path, swap. The swap is a rename — near-atomic on
    posix/HDFS, best-effort on object stores (use Delta/Iceberg for
    true ACID; this is the vanilla-Parquet fallback, SURVEY.md §7.4).
    A swap cut between its renames is rolled back first, so a replay
    merges the stage into the last committed table.
    """
    if _live(spark, path):
        # The stage subtree feeds TWO consumers in the merged plan —
        # the broadcast anti-join probe and the insert union leg — and
        # Spark does not reuse a broadcast exchange as a union input,
        # so an expensive stage (a JSON-parse+dedup delta, an exact
        # rollup) would execute twice per merge (r12; NOTES rule #7).
        # One lazy cut point = one computation, and the checkpoint is
        # delta-sized by the incremental contract.
        stage = stage.localCheckpoint(eager=False)
        target = spark.read.parquet(path)
        merged = upsert(target, stage, keys, broadcast_stage=True)
    else:
        merged = stage
    tmp = path.rstrip("/") + "__tmp_merge"
    # Cluster the rewrite by key before it lands (guide §6 output
    # sizing, r13): without this the file count is whatever the merged
    # plan's partitioning happens to be — target-file-count + stage
    # partitions, growing every merge, and each subsequent merge (and
    # the gold pass re-reading silver) pays listing + per-file open on
    # all of them. repartition by COLUMNS (no pinned number) is an
    # AQE-coalescible exchange: advisory-sized (~128 MB) output files
    # at any scale, one file for a delta-sized table locally — the same
    # hash write-distribution a table format (Iceberg
    # write.distribution-mode=hash) applies to MERGE output.
    merged = merged.repartition(*[F.col(k) for k in keys])
    merged.write.mode("overwrite").parquet(tmp)
    _swap(spark, tmp, path)


def _fs(spark: SparkSession, path: str):
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _rename(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise OSError(f"rename {src} -> {dst} failed")


def _live(spark: SparkSession, path: str) -> bool:
    """Whether a table is committed at ``path``, first rolling back a
    :func:`_swap` cut between its renames (``path`` gone, ``__old``
    still holding the last committed table)."""
    fs, hpath = _fs(spark, path)
    if fs.exists(hpath):
        return True
    trash = hpath.suffix("__old")
    if not fs.exists(trash):
        return False
    _rename(fs, trash, hpath)
    return True


def _swap(spark: SparkSession, tmp: str, path: str) -> None:
    # callers run _live first, so an __old here is garbage of a
    # finished swap, never the only copy of the table
    fs, hpath = _fs(spark, path)
    htmp = spark._jvm.org.apache.hadoop.fs.Path(tmp)
    trash = hpath.suffix("__old")
    if fs.exists(trash):
        fs.delete(trash, True)
    if fs.exists(hpath):
        _rename(fs, hpath, trash)
    _rename(fs, htmp, hpath)
    if fs.exists(trash):
        fs.delete(trash, True)
