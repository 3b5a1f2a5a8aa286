"""The declared table catalog: ``load_table`` reads every testdata table
with its ``TESTDATA_SCHEMAS`` entry (no schema-inference job), refuses a
file whose footer drifts from the declaration, and the pipeline's
conformed frames carry exactly the declared silver/gold schemas."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from wistia_etl_pipeline_spark.operators.flatten import conform_dim_media, flatten_events
from wistia_etl_pipeline_spark.operators.rollup import media_daily_agg
from wistia_etl_pipeline_spark.schemas import (
    DIM_MEDIA_SCHEMA,
    FACT_EVENTS_SCHEMA,
    MEDIA_DAILY_AGG_SCHEMA,
    RAW_EVENT_SCHEMA,
    RAW_METADATA_SCHEMA,
    TESTDATA_SCHEMAS,
)
from wistia_etl_pipeline_spark.session import load_table


def _fields(schema: T.StructType) -> list[tuple[str, T.DataType]]:
    return [(f.name, f.dataType) for f in schema.fields]


@pytest.mark.parametrize("name", list(TESTDATA_SCHEMAS))
def test_load_table_runs_no_job_and_returns_declared_schema(spark, sf_dir, name):
    tracker = spark.sparkContext.statusTracker()
    group = f"load_table_{name}"
    spark.sparkContext.setJobGroup(group, group)
    try:
        df = load_table(spark, sf_dir, name)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup(group) == []
    assert df.schema == T.StructType.fromDDL(TESTDATA_SCHEMAS[name])


@pytest.mark.parametrize(
    "column, arrow_type, message",
    [
        # from_arrow_schema maps timestamp[ns] to TimestampType too; the
        # unit check is what catches the legacy nanos layout
        ("ts", pa.timestamp("ns"), r"events\.ts: declared timestamp, found timestamp\[ns\]"),
        ("user_id", pa.int32(), r"events\.user_id: declared bigint, found int"),
    ],
    ids=["ts-nanos", "user_id-int32"],
)
def test_load_table_rejects_footer_drift(spark, tmp_path, column, arrow_type, message):
    table = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([1_704_067_200_000_000, 1_704_067_201_000_000], pa.timestamp("us")),
        "user_id": pa.array([7, 8], pa.int64()),
        "event_type": ["view", "click"],
        "value": [1.0, 2.0],
        "props": ["{}", "{}"],
    })
    i = table.schema.get_field_index(column)
    table = table.set_column(i, column, table[column].cast(arrow_type))
    pq.write_table(table, tmp_path / "events.parquet")
    with pytest.raises(ValueError, match=message):
        load_table(spark, str(tmp_path), "events")


def test_flatten_and_conform_produce_the_declared_schemas(spark):
    raw = spark.createDataFrame([], RAW_EVENT_SCHEMA)
    meta = spark.createDataFrame([], RAW_METADATA_SCHEMA)
    assert _fields(flatten_events(raw).schema) == _fields(FACT_EVENTS_SCHEMA)
    assert _fields(conform_dim_media(meta).schema) == _fields(DIM_MEDIA_SCHEMA)


@pytest.mark.parametrize("exact", [False, True])
def test_media_daily_agg_produces_the_declared_schema(spark, exact):
    fact = spark.createDataFrame([], FACT_EVENTS_SCHEMA)
    dim = spark.createDataFrame([], DIM_MEDIA_SCHEMA)
    out = media_daily_agg(fact, dim, exact=exact)
    assert _fields(out.schema) == _fields(MEDIA_DAILY_AGG_SCHEMA)
