"""Gold daily engagement rollup — aggregates A1-A6 + star join J3.

The reference's gold zone is a Redshift stored procedure over a stage
table the (missing) Glue job would load (SURVEY.md §2.4, EP3). The
aggregate semantics are fully specified by the ``media_daily_agg`` DDL
(wistia_redshift_schemas.py:43-52):

- A1 ``load_count``    COUNT(*) per (media_id, dt)
- A2 ``play_count``    COUNT of events with percent_viewed > 0
- A3 ``play_rate``     play_count / load_count
- A4 ``hours_watched`` SUM(percent_viewed × duration_seconds) / 3600
                       (requires the J3 join to dim_media)
- A5 ``engagement``    AVG(percent_viewed)
- A6 ``visitors``      COUNT(DISTINCT visitor_key)

Scale notes (100 TB):
- One ``groupBy`` → one shuffle on (media_id, dt); Catalyst plans a
  partial (map-side) aggregate first, so the shuffle carries one row per
  (media_id, dt, partition), not per event.
- The dim join is explicitly ``broadcast()`` — dims are tiny (thousands
  of media vs billions of events); never shuffle the fact for it.
- ``COUNT(DISTINCT visitor_key)`` forces a second shuffle keyed on
  (group, visitor_key). At 100 TB prefer ``approx_visitors=True`` →
  ``approx_count_distinct`` (HLL, single-pass, mergeable) — the
  exact/approx switch documented in SURVEY.md §7.4.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def daily_rollup(
    events: DataFrame,
    *,
    key: Column | str,
    event_time: Column | str,
    engagement_value: Column | str,
    visitor: Column | str,
    played: Column,
    weight: Column | None = None,
    approx_visitors: bool = False,
    ndigits: int | None = None,
    exact: bool = False,
) -> DataFrame:
    """Generic (key, day) engagement rollup implementing A1-A6.

    ``played`` is the boolean "playback began" predicate (reference:
    ``percent_viewed > 0``). ``weight`` is the A4 sum-product term
    (reference: ``percent_viewed * duration_seconds``); pass the already
    join-resolved column. ``ndigits`` optionally rounds the double
    outputs.

    ``exact=True`` routes SUM/AVG through DECIMAL(25,6): decimal
    addition is exact and therefore order-independent, so results are
    bit-reproducible regardless of partitioning/shuffle order — the mode
    the differential-test oracle uses, and the mode to pick whenever a
    pipeline must produce identical output across re-runs at different
    parallelism. Plain double aggregation is faster (codegen'd, no
    128-bit arithmetic) and remains the default.
    """
    key = F.col(key) if isinstance(key, str) else key
    event_time = F.col(event_time) if isinstance(event_time, str) else event_time
    engagement_value = (
        F.col(engagement_value) if isinstance(engagement_value, str) else engagement_value
    )
    visitor = F.col(visitor) if isinstance(visitor, str) else visitor

    def _round(c: Column) -> Column:
        # round x·10ⁿ as a double, then scale back — DuckDB's rounding.
        # Spark's round(x, n) rounds the shortest decimal string of x
        # half-up instead, so a mean of exactly 64.0140625 would give
        # 64.014063 where x·10⁶ = 64014062.49999999 gives 64.014062.
        if ndigits is None:
            return c
        scale = 10.0**ndigits
        return F.round(c * scale) / scale

    def _sum(c: Column) -> Column:
        if exact:
            return F.sum(c.cast("decimal(25,6)")).cast("double")
        return F.sum(c)

    if exact:
        mean = _sum(engagement_value) / F.count(F.lit(1))
    else:
        mean = F.avg(engagement_value)

    distinct = F.approx_count_distinct if approx_visitors else F.count_distinct
    aggs = [
        F.count(F.lit(1)).alias("load_count"),
        F.count(F.when(played, F.lit(1))).alias("play_count"),
        _round(mean).alias("engagement"),
        distinct(visitor).alias("visitors"),
    ]
    if weight is not None:
        aggs.append(_round(_sum(weight) / F.lit(3600.0)).alias("hours_watched"))

    out = events.groupBy(
        key.alias("media_id"), F.to_date(event_time).alias("dt")
    ).agg(*aggs)
    out = out.withColumn(
        "play_rate", _round(F.col("play_count") / F.col("load_count"))
    )
    cols = ["media_id", "dt", "load_count", "play_count", "play_rate", "engagement", "visitors"]
    if weight is not None:
        cols.append("hours_watched")
    return out.select(*cols)


def media_daily_agg(
    fact_events: DataFrame,
    dim_media: DataFrame,
    *,
    approx_visitors: bool = False,
    exact: bool = False,
) -> DataFrame:
    """The reference's gold table, end-to-end (EP3, SURVEY.md §3).

    fact_events ⋈ broadcast(dim_media) on media_id, then the A1-A6
    rollup at (media_id, dt) grain. Produces MEDIA_DAILY_AGG_SCHEMA.
    ``exact=True`` selects the bit-reproducible DECIMAL aggregation
    mode (see :func:`daily_rollup`) — pick it when gold must be
    identical across replays/parallelism (differential testing, the
    idempotent-merge contract).
    """
    joined = fact_events.join(
        F.broadcast(dim_media.select("media_id", "duration_seconds")),
        "media_id",
        "left",
    )
    out = daily_rollup(
        joined,
        key="media_id",
        event_time="received_at",
        engagement_value="percent_viewed",
        visitor="visitor_key",
        played=F.col("percent_viewed") > F.lit(0.0),
        weight=F.col("percent_viewed") * F.col("duration_seconds"),
        approx_visitors=approx_visitors,
        exact=exact,
        ndigits=6 if exact else None,
    )
    return out.select(
        "media_id", "dt", "load_count", "play_count", "play_rate",
        "hours_watched", "engagement", "visitors",
    )
