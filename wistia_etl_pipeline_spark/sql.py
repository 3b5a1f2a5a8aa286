"""SQL front-end: register the engine's tables as temp views so users
can query with plain Spark SQL (identical Catalyst plans to the
DataFrame API — the two surfaces are interchangeable)."""

from __future__ import annotations

from pyspark.sql import SparkSession

from .schemas import TESTDATA_SCHEMAS
from .session import load_table

ALL_TABLES = tuple(TESTDATA_SCHEMAS)


def register_tables(
    spark: SparkSession, sf_dir: str, *, tables: tuple[str, ...] = ALL_TABLES
) -> None:
    """Create/replace one temp view per table, each read by load_table
    with its declared catalog schema (no inference job)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
