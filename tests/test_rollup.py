"""Unit tests for the gold rollup (A1-A6 + J3) on tiny inline frames."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row, functions as F

from wistia_etl_pipeline_spark.operators.rollup import daily_rollup, media_daily_agg


def _ts(day: int, hour: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, day, hour, 0, 0)


def test_daily_rollup_hand_computed(spark):
    rows = [
        # media m1, day 1: 3 loads, 2 plays, visitors {a, b}
        Row(media_id="m1", received_at=_ts(1, 1), percent_viewed=0.0, visitor_key="a"),
        Row(media_id="m1", received_at=_ts(1, 2), percent_viewed=0.5, visitor_key="a"),
        Row(media_id="m1", received_at=_ts(1, 3), percent_viewed=1.0, visitor_key="b"),
        # media m1, day 2: 1 load, 0 plays
        Row(media_id="m1", received_at=_ts(2), percent_viewed=0.0, visitor_key="c"),
    ]
    out = daily_rollup(
        spark.createDataFrame(rows),
        key="media_id",
        event_time="received_at",
        engagement_value="percent_viewed",
        visitor="visitor_key",
        played=F.col("percent_viewed") > 0.0,
    ).collect()
    by_day = {(r.media_id, str(r.dt)): r for r in out}
    d1 = by_day[("m1", "2024-01-01")]
    assert (d1.load_count, d1.play_count, d1.visitors) == (3, 2, 2)
    assert abs(d1.play_rate - 2 / 3) < 1e-12
    assert abs(d1.engagement - 0.5) < 1e-12
    d2 = by_day[("m1", "2024-01-02")]
    assert (d2.load_count, d2.play_count, d2.play_rate, d2.visitors) == (1, 0, 0.0, 1)


def test_media_daily_agg_join_weighted(spark):
    fact = spark.createDataFrame(
        [
            Row(media_id="m1", received_at=_ts(1), percent_viewed=0.5, visitor_key="a"),
            Row(media_id="m1", received_at=_ts(1), percent_viewed=1.0, visitor_key="b"),
        ]
    )
    dim = spark.createDataFrame([Row(media_id="m1", duration_seconds=7200.0)])
    out = media_daily_agg(fact, dim).collect()
    assert len(out) == 1
    r = out[0]
    # hours = (0.5*7200 + 1.0*7200)/3600 = 3.0
    assert abs(r.hours_watched - 3.0) < 1e-9
    assert r.load_count == 2 and r.play_count == 2 and r.visitors == 2
    assert set(out[0].asDict()) == {
        "media_id", "dt", "load_count", "play_count", "play_rate",
        "hours_watched", "engagement", "visitors",
    }


def test_rollup_exact_mode_matches_plain(spark):
    rows = [
        Row(media_id="m", received_at=_ts(1), percent_viewed=float(i) / 7, visitor_key=str(i))
        for i in range(100)
    ]
    df = spark.createDataFrame(rows)
    kw = dict(
        key="media_id",
        event_time="received_at",
        engagement_value="percent_viewed",
        visitor="visitor_key",
        played=F.col("percent_viewed") > 0.0,
    )
    plain = daily_rollup(df, **kw).collect()[0]
    exact = daily_rollup(df, exact=True, **kw).collect()[0]
    # exact mode quantizes inputs to DECIMAL(25,6) → agrees within 1e-6
    assert abs(plain.engagement - exact.engagement) < 1e-5
    assert plain.load_count == exact.load_count == 100


def test_incremental_agg_order_independent(spark):
    """Folding batches in ANY order must equal the single-shot
    aggregate (the algebraic-aggregate contract; DECIMAL sums make the
    combine exact)."""
    from pyspark.sql import Row

    from wistia_etl_pipeline_spark.operators.incremental_agg import (
        finalize,
        merge_state,
        partial_state,
    )

    rows = [Row(k="a", v=float(i) / 7) for i in range(50)] + [
        Row(k="b", v=None),
        Row(k="b", v=3.5),
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    batches = [df.filter(F.crc32(F.col("v").cast("string")) % 3 == i) for i in range(3)]
    # include the null row (crc32(null) is null -> excluded by all three)
    batches.append(df.filter(F.col("v").isNull()))

    def fold(order):
        st = None
        for b in order:
            st = merge_state(st, partial_state(b, ["k"], value_cols=["v"]),
                             ["k"], value_cols=["v"])
        return {tuple(r) for r in finalize(st, ["k"], value_cols=["v"]).collect()}

    single = {
        tuple(r)
        for r in finalize(
            partial_state(df, ["k"], value_cols=["v"]), ["k"], value_cols=["v"]
        ).collect()
    }
    assert fold(batches) == single
    assert fold(list(reversed(batches))) == single


def test_rounding_matches_duckdb_on_ties_and_random_doubles(spark):
    """``ndigits`` rounds x·10ⁿ as a double, the way DuckDB's
    ``round(x, n)`` does — not the shortest decimal string of x. The
    first value is the mean that split the two engines: x·10⁶ is
    64014062.49999999, so 64.014062, where string rounding gives
    64.014063."""
    import duckdb
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(208)
    xs = [64.0140625, 0.0000005, 1.0000005, -2.0000025, 0.1234565, 1e-7]
    xs += list(np.round(rng.uniform(-100.0, 100.0, 200), 7))  # decimal ties
    xs += list(rng.uniform(-1e4, 1e4, 200))
    xs = [float(x) for x in xs]
    rows = [(str(i), _ts(1), x, "v") for i, x in enumerate(xs)]
    events = spark.createDataFrame(
        rows, "k string, ts timestamp, x double, v string"
    )
    out = daily_rollup(
        events,
        key="k",
        event_time="ts",
        engagement_value="x",
        visitor="v",
        played=F.lit(True),
        ndigits=6,
    ).collect()
    got = {int(r.media_id): r.engagement for r in out}
    t = pa.table({"i": list(range(len(xs))), "x": xs})  # noqa: F841 (duckdb scan)
    want = dict(duckdb.sql("SELECT i, round(x, 6) FROM t").fetchall())
    assert got == want
    assert got[0] == 64.014062
