"""A7 upsert: stage-wins, idempotent, composite keys, materialized merge."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from wistia_etl_pipeline_spark.operators import merge as M
from wistia_etl_pipeline_spark.operators.merge import merge_into_path, upsert


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_upsert_stage_wins_and_inserts(spark):
    target = spark.createDataFrame(
        [Row(media_id="m1", v=1), Row(media_id="m2", v=2)]
    )
    stage = spark.createDataFrame(
        [Row(media_id="m2", v=20), Row(media_id="m3", v=30)]
    )
    out = upsert(target, stage, ["media_id"])
    assert _rows(out) == [("m1", 1), ("m2", 20), ("m3", 30)]


def test_upsert_idempotent(spark):
    target = spark.createDataFrame([Row(media_id="m1", v=1), Row(media_id="m2", v=2)])
    stage = spark.createDataFrame([Row(media_id="m2", v=20)])
    once = upsert(target, stage, ["media_id"])
    twice = upsert(once, stage, ["media_id"])
    assert _rows(once) == _rows(twice)  # delete-insert replay converges


def test_upsert_composite_key(spark):
    target = spark.createDataFrame(
        [Row(media_id="m1", dt="d1", v=1), Row(media_id="m1", dt="d2", v=2)]
    )
    stage = spark.createDataFrame([Row(media_id="m1", dt="d2", v=22)])
    out = upsert(target, stage, ["media_id", "dt"], broadcast_stage=True)
    assert _rows(out) == [("m1", "d1", 1), ("m1", "d2", 22)]


def test_merge_into_path_roundtrip(spark, tmp_path):
    path = str(tmp_path / "agg")
    first = spark.createDataFrame([Row(media_id="m1", v=1), Row(media_id="m2", v=2)])
    merge_into_path(spark, first, path, ["media_id"])  # bootstrap: no target yet
    assert _rows(spark.read.parquet(path)) == [("m1", 1), ("m2", 2)]

    delta = spark.createDataFrame([Row(media_id="m2", v=20), Row(media_id="m3", v=3)])
    merge_into_path(spark, delta, path, ["media_id"])
    assert _rows(spark.read.parquet(path)) == [("m1", 1), ("m2", 20), ("m3", 3)]

    # replaying the same delta must not change the table (idempotency)
    merge_into_path(spark, delta, path, ["media_id"])
    assert _rows(spark.read.parquet(path)) == [("m1", 1), ("m2", 20), ("m3", 3)]


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    from wistia_etl_pipeline_spark.sources.writers import compact_parquet

    path = str(tmp_path / "frag")
    # fragment the table: 10 tiny appends (like 10 MERGE cycles)
    for i in range(10):
        spark.createDataFrame([Row(media_id=f"m{i}", v=i)]).repartition(3).write.mode(
            "append"
        ).parquet(path)
    import pathlib

    before = len(list(pathlib.Path(path).rglob("*.parquet")))
    rows_before = sorted(map(tuple, spark.read.parquet(path).collect()))
    n = compact_parquet(spark, path, target_file_mb=128)
    after = len(list(pathlib.Path(path).rglob("*.parquet")))
    assert after <= n < before
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == rows_before


def _crash_on_rename(monkeypatch, nth):
    """Make the ``nth`` swap rename raise, as a process dying there."""
    real, calls = M._rename, []

    def rename(fs, src, dst):
        calls.append(str(dst))
        if len(calls) == nth:
            raise RuntimeError("injected crash")
        real(fs, src, dst)

    monkeypatch.setattr(M, "_rename", rename)
    return real


def test_merge_replay_after_crash_between_swap_renames(spark, tmp_path, monkeypatch):
    # The crash lands after live -> __old and before tmp -> live, so no
    # table sits at the path. The replay must restore __old and apply
    # the delta to it again: 100 + 1 rows, not a 1-row table.
    path = str(tmp_path / "t")
    spark.range(100).selectExpr("id AS k", "id AS v").write.parquet(path)
    delta = spark.createDataFrame([(1000, 1)], "k long, v long")

    real = _crash_on_rename(monkeypatch, 2)
    with pytest.raises(RuntimeError, match="injected crash"):
        merge_into_path(spark, delta, path, ["k"])
    assert not os.path.exists(path) and os.path.exists(path + "__old")

    monkeypatch.setattr(M, "_rename", real)
    merge_into_path(spark, delta, path, ["k"])
    assert spark.read.parquet(path).count() == 101
    assert not os.path.exists(path + "__old")


def test_compact_parquet_recovers_an_interrupted_swap(spark, tmp_path, monkeypatch):
    from wistia_etl_pipeline_spark.sources.writers import compact_parquet

    path = str(tmp_path / "t")
    spark.range(50).selectExpr("id AS k").write.parquet(path)
    real = _crash_on_rename(monkeypatch, 2)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_parquet(spark, path)
    monkeypatch.setattr(M, "_rename", real)
    compact_parquet(spark, path)
    assert spark.read.parquet(path).count() == 50


def test_swap_rename_failure_raises():
    class RefusingFs:
        def rename(self, src, dst):
            return False

    with pytest.raises(OSError, match="rename a -> b failed"):
        M._rename(RefusingFs(), "a", "b")
