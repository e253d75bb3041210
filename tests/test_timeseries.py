"""Semantic unit tests for the time-series kit — hand-built inputs with
known answers (the oracle parity tests cover the driver tables; these
pin the boundary semantics the oracle can't explain when it disagrees).
"""

from __future__ import annotations

import datetime as dt

from trail_condition_etl_spark.operators import timeseries


T0 = dt.datetime(2026, 3, 1, 0, 0, 0)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_ohlc_open_close_follow_time_not_value(spark):
    ev = _events(
        spark,
        [
            (1, T0 + dt.timedelta(minutes=1), 1, "click", 50.0),
            (2, T0 + dt.timedelta(minutes=2), 1, "click", 10.0),
            (3, T0 + dt.timedelta(minutes=3), 1, "click", 99.0),
            (4, T0 + dt.timedelta(minutes=4), 1, "click", 20.0),
        ],
    )
    [bar] = timeseries.ohlc_bars(ev).collect()
    assert bar.open == 50.0 and bar.close == 20.0
    assert bar.high == 99.0 and bar.low == 10.0
    assert bar.n_events == 4


def test_ohlc_tie_on_ts_breaks_by_event_id(spark):
    ev = _events(
        spark,
        [(2, T0, 1, "click", 7.0), (1, T0, 1, "click", 3.0)],
    )
    [bar] = timeseries.ohlc_bars(ev).collect()
    assert bar.open == 3.0 and bar.close == 7.0


def test_streaks_split_on_gap(spark):
    days = [0, 1, 2, 4, 5, 9]  # streaks 3, 2, 1
    ev = _events(
        spark,
        [(i, T0 + dt.timedelta(days=d), 1, "view", 1.0) for i, d in enumerate(days)],
    )
    [row] = timeseries.activity_streaks(ev).collect()
    assert row.longest_streak == 3
    assert row.n_streaks == 3
    assert row.n_active_days == 6


def test_peak_concurrency_half_open_back_to_back(spark):
    # second session starts exactly when the first ends: no overlap
    ev = _events(
        spark,
        [
            (1, T0, 1, "view", 1.0),
            (2, T0 + dt.timedelta(seconds=timeseries.SESSION_SECONDS), 1, "view", 1.0),
        ],
    )
    [row] = timeseries.peak_concurrency(ev).collect()
    assert row.peak_concurrent == 1
    assert row.n_sessions == 2


def test_peak_concurrency_counts_true_overlap(spark):
    ev = _events(
        spark,
        [
            (1, T0, 1, "view", 1.0),
            (2, T0 + dt.timedelta(minutes=5), 1, "view", 1.0),
            (3, T0 + dt.timedelta(minutes=10), 1, "view", 1.0),
            # user 2: far apart
            (4, T0, 2, "view", 1.0),
            (5, T0 + dt.timedelta(hours=5), 2, "view", 1.0),
        ],
    )
    got = {r.user_id: r.peak_concurrent for r in timeseries.peak_concurrency(ev).collect()}
    assert got == {1: 3, 2: 1}


def test_linear_interp_midpoint(spark):
    # day0 = 10.00, day2 = 30.00 -> day1 interpolates to 20.00
    ev = _events(
        spark,
        [
            (1, T0, 1, "view", 10.0),
            (2, T0 + dt.timedelta(days=2), 1, "view", 30.0),
        ],
    )
    rows = {r.day: r for r in timeseries.linear_interp_daily(ev).collect()}
    assert rows["2026-03-02"].is_interp
    assert rows["2026-03-02"].value_interp == 20.0
    assert not rows["2026-03-01"].is_interp
    assert rows["2026-03-01"].value_interp == 10.0


def test_ewma_halves_prior_weight(spark):
    # days: 100, 0 -> ewma day2 = (100*1 + 0*2)/3 = 33.3333
    ev = _events(
        spark,
        [
            (1, T0, 1, "view", 100.0),
            (2, T0 + dt.timedelta(days=1), 1, "view", 0.0),
        ],
    )
    rows = {r.day: r for r in timeseries.ewma_daily(ev).collect()}
    assert rows["2026-03-01"].ewma == 100.0
    assert rows["2026-03-02"].ewma == 33.3333


def test_ewma_window_is_capped(spark):
    # a spike EWMA_SPAN days back has fallen out of the window entirely
    n = timeseries.EWMA_SPAN
    ev = _events(
        spark,
        [(0, T0, 1, "view", 1000.0)]
        + [(i, T0 + dt.timedelta(days=i), 1, "view", 0.0) for i in range(1, n + 1)],
    )
    rows = {r.day: r for r in timeseries.ewma_daily(ev).collect()}
    last_day = (T0 + dt.timedelta(days=n)).strftime("%Y-%m-%d")
    assert rows[last_day].ewma == 0.0


def test_filled_days_matches_spine_join_with_a_repeated_day(spark):
    # user 1 repeats 03-02: lead(day) of the first copy is its own day,
    # which must not run the date sequence backwards into 03-01
    from pyspark.sql import functions as F

    D = dt.date(2026, 3, 1)
    daily = spark.createDataFrame(
        [
            (1, D, 1.0),
            (1, D + dt.timedelta(days=1), 2.0),
            (1, D + dt.timedelta(days=1), 3.0),
            (1, D + dt.timedelta(days=4), 4.0),
            (2, D + dt.timedelta(days=2), 5.0),
            (2, D + dt.timedelta(days=2), 6.0),
        ],
        "user_id long, day date, v double",
    )
    spine = daily.groupBy("user_id").agg(
        F.explode(F.sequence(F.min("day"), F.max("day"))).alias("day")
    )
    want = spine.join(daily, ["user_id", "day"], "left")
    got = timeseries.filled_days(daily, "v")

    def rows(df):
        return sorted(
            (r.user_id, r.day, -1.0 if r.v is None else r.v)
            for r in df.select("user_id", "day", "v").collect()
        )

    assert rows(got) == rows(want)
    assert len(rows(got)) == 8
