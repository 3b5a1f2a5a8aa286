"""Explicit schemas for every table the engine touches.

The reference infers bronze schemas by sampling (``spark.read.json`` with
no schema — silver.py:29,73 per SURVEY.md §1.2), which silently drifts
run-to-run. We pin explicit StructTypes (SURVEY.md §7.4 "schema drift")
so scans prune columns at parse time and types are stable.

Reference DDL parity (docstrings cite reference file:line):
- ``RAW_EVENT_SCHEMA``    ← fields consumed at silver.py:32-52
- ``RAW_METADATA_SCHEMA`` ← fields consumed at silver.py:75-85
- ``FACT_EVENTS_SCHEMA``  ← wistia_redshift_schemas.py:3-23
- ``DIM_MEDIA_SCHEMA``    ← wistia_redshift_schemas.py:28-38
- ``MEDIA_DAILY_AGG_SCHEMA`` ← wistia_redshift_schemas.py:43-52
- ``WATERMARK_SCHEMA``    ← bronze watermark doc, wistia_pull_wistia_api.py:48-77

``TESTDATA_SCHEMAS`` is the table catalog (the reference's Glue Catalog
role): ``session.load_table`` reads each testdata table with its
declared DDL and checks it against the parquet footer instead of
inferring it.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Bronze (raw) schemas — explicit replacements for schema inference.
# --------------------------------------------------------------------------

USER_AGENT_DETAILS = T.StructType(
    [
        T.StructField("browser", T.StringType()),
        T.StructField("browser_version", T.StringType()),
        T.StructField("platform", T.StringType()),
        T.StructField("mobile", T.BooleanType()),
    ]
)

#: One raw event object, as emitted per page by the bronze zone
#: (fields read at silver.py:32-52; FIXTURES.md §1.1).
RAW_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_key", T.StringType()),
        T.StructField("received_at", T.StringType()),  # ISO-8601, "Z" or "+00:00"
        T.StructField("percent_viewed", T.DoubleType()),
        T.StructField("embed_url", T.StringType()),
        T.StructField("email", T.StringType()),
        T.StructField("ip", T.StringType()),
        T.StructField("user_agent_details", USER_AGENT_DETAILS),
        T.StructField("visitor_key", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("region", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("org", T.StringType()),
        T.StructField("media_id", T.StringType()),
        T.StructField("media_name", T.StringType()),
        # populated by corrupt-record handling in sources.json_source
        T.StructField("_corrupt_record", T.StringType()),
    ]
)

#: One raw media-metadata object (fields read at silver.py:75-85;
#: FIXTURES.md §1.2). ``duration`` arrives string-or-number → StringType
#: then cast (silver.py:78 casts to double).
RAW_METADATA_SCHEMA = T.StructType(
    [
        T.StructField("hashed_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("duration", T.StringType()),
        T.StructField("created", T.StringType()),
        T.StructField("updated", T.StringType()),
        T.StructField("section", T.StringType()),
        T.StructField("subfolder", T.StructType([T.StructField("name", T.StringType())])),
        T.StructField("thumbnail", T.StructType([T.StructField("url", T.StringType())])),
        T.StructField("project", T.StructType([T.StructField("name", T.StringType())])),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)

# --------------------------------------------------------------------------
# Conformed (silver / gold) schemas.
# --------------------------------------------------------------------------

#: fact_events — wistia_redshift_schemas.py:3-23 (19 columns).
FACT_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_key", T.StringType()),
        T.StructField("received_at", T.TimestampType()),
        T.StructField("percent_viewed", T.DoubleType()),
        T.StructField("embed_url", T.StringType()),
        T.StructField("email", T.StringType()),
        T.StructField("ip", T.StringType()),
        T.StructField("user_agent_browser", T.StringType()),
        T.StructField("user_agent_browser_version", T.StringType()),
        T.StructField("user_agent_platform", T.StringType()),
        T.StructField("user_agent_mobile", T.BooleanType()),
        T.StructField("visitor_key", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("region", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("org", T.StringType()),
        T.StructField("media_id", T.StringType()),
        T.StructField("media_name", T.StringType()),
    ]
)

#: dim_media — wistia_redshift_schemas.py:28-38.
DIM_MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("media_name", T.StringType()),
        T.StructField("duration_seconds", T.DoubleType()),
        T.StructField("created_at", T.TimestampType()),
        T.StructField("updated_at", T.TimestampType()),
        T.StructField("section_name", T.StringType()),
        T.StructField("subfolder_name", T.StringType()),
        T.StructField("thumbnail_url", T.StringType()),
        T.StructField("project_name", T.StringType()),
    ]
)

#: media_daily_agg — wistia_redshift_schemas.py:43-52.
MEDIA_DAILY_AGG_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("dt", T.DateType()),
        T.StructField("load_count", T.LongType()),
        T.StructField("play_count", T.LongType()),
        T.StructField("play_rate", T.DoubleType()),
        T.StructField("hours_watched", T.DoubleType()),
        T.StructField("engagement", T.DoubleType()),
        T.StructField("visitors", T.LongType()),
    ]
)

#: Watermark/checkpoint state row — one per media id
#: (wistia_pull_wistia_api.py:48-77; configs/watermarks.json).
WATERMARK_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("updated", T.StringType()),  # ISO-8601 high-water mark
        T.StructField("next_page", T.IntegerType()),  # events_checkpoint.next_page
        T.StructField("last_received_at", T.StringType()),
    ]
)


# --------------------------------------------------------------------------
# Testdata catalog — one DDL line per table, exactly the footer types
# (TESTDATA.md). Timestamps are micros, read as session-local TIMESTAMP.
# --------------------------------------------------------------------------

TESTDATA_SCHEMAS: dict[str, str] = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    ),
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}
