"""Time-series kit over the event log: OHLC downsampling, consecutive-day
streaks (gaps-and-islands), sweep-line session concurrency, linear
interpolation, and an exponentially-weighted moving average.

The reference consumes per-city time windows row-at-a-time
(categorize-trail-conditions/src/classifier.py); these are the standard
time-series shapes that windowed consumption grows into, each expressed
as one or two key-clustered shuffles.

Scale notes:
* every window below is partitioned by a data key (user_id) — no global
  sorts anywhere;
* OHLC is a single partial+final hash aggregate: open/close ride a
  struct-valued MIN/MAX instead of a sort;
* concurrency is the classic sweep: explode each interval into ±1
  boundary rows (narrow), one windowed running sum per key;
* EWMA weights are powers of two over integer cents, so the fold is
  exact in BIGINT and bit-identical across engines — no float
  accumulation-order drift (see operators/hashing.py for the same
  cross-engine determinism stance).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BUCKET_SECONDS = 6 * 3600  # OHLC bar width
SESSION_SECONDS = 30 * 60  # synthetic session length for the sweep
EWMA_SPAN = 16  # trailing days in the EWMA window (2^16 fits BIGINT fold)


def _cents(col: str = "value") -> Column:
    """Integer cents — exact SUMs, accumulation-order independent."""
    return F.round(F.col(col) * 100).cast("long")


def ohlc_bars(events: DataFrame) -> DataFrame:
    """Downsample each event_type's value series into 6-hour OHLC bars:
    open/close are the first/last value by (ts, event_id) within the
    bar — computed as struct-valued MIN/MAX so the whole query is ONE
    partial+final aggregate with no sort, no window, no self-join.
    """
    tu = F.unix_micros("ts")
    bucket_s = (tu / 1_000_000).cast("long") - (
        (tu / 1_000_000).cast("long") % BUCKET_SECONDS
    )
    ordered = F.struct(
        F.col("_tu").alias("t"), F.col("event_id").alias("e"), F.col("value").alias("v")
    )
    return (
        events.select(
            "event_id", "event_type", "value", tu.alias("_tu"), bucket_s.alias("_bs")
        )
        .groupBy(
            "event_type",
            F.date_format(F.timestamp_seconds("_bs"), "yyyy-MM-dd HH:mm:ss").alias(
                "bar_start"
            ),
        )
        .agg(
            F.round(F.min(ordered).getField("v"), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max(ordered).getField("v"), 2).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(_cents()) / 100.0).alias("value_sum"),
        )
    )


OHLC_SQL = f"""
WITH base AS (
  SELECT event_id, event_type, value, epoch_us(ts) AS tu,
         (epoch_us(ts) // 1000000) - ((epoch_us(ts) // 1000000) % {BUCKET_SECONDS})
           AS bs
  FROM events
)
SELECT event_type,
  strftime(make_timestamp(bs * 1000000), '%Y-%m-%d %H:%M:%S') AS bar_start,
  round(min({{'t': tu, 'e': event_id, 'v': value}}).v, 2) AS open,
  round(max(value), 2) AS high,
  round(min(value), 2) AS low,
  round(max({{'t': tu, 'e': event_id, 'v': value}}).v, 2) AS close,
  COUNT(*) AS n_events,
  SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS value_sum
FROM base
GROUP BY 1, 2
"""


def activity_streaks(events: DataFrame) -> DataFrame:
    """Longest consecutive-day active streak per user (gaps-and-islands):
    distinct active days, then `day - row_number` is constant within a
    run of consecutive days — one groupBy collapses each island. Both
    shuffles cluster on user_id; the row_number window is per-user."""
    active = events.select("user_id", F.to_date("ts").alias("day")).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
    islands = (
        active.withColumn("_anchor", F.date_sub(F.col("day"), rn))
        .groupBy("user_id", "_anchor")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    return islands.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.sum("len").alias("n_active_days"),
    )


STREAKS_SQL = """
WITH active AS (
  SELECT DISTINCT user_id, CAST(make_timestamp(epoch_us(ts)) AS DATE) AS day
  FROM events
),
islands AS (
  SELECT user_id,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                    AS INTEGER) AS anchor
  FROM active
),
runs AS (
  SELECT user_id, anchor, COUNT(*) AS len
  FROM islands GROUP BY user_id, anchor
)
SELECT user_id, MAX(len) AS longest_streak, COUNT(*) AS n_streaks,
       CAST(SUM(len) AS BIGINT) AS n_active_days
FROM runs GROUP BY user_id
"""


def peak_concurrency(events: DataFrame) -> DataFrame:
    """Peak number of concurrently-open 30-minute sessions per user —
    the sweep-line: each interval [ts, ts+30m) becomes a +1 and a -1
    boundary row (narrow explode), then one per-user windowed running
    sum. Half-open semantics: at equal timestamps the -1 sorts first,
    so back-to-back sessions don't double-count."""
    tu = F.unix_micros("ts")
    bounds = events.select(
        "user_id",
        F.explode(
            F.array(
                F.struct(tu.alias("t"), F.lit(1).alias("d")),
                F.struct(
                    (tu + SESSION_SECONDS * 1_000_000).alias("t"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("b"),
    ).select("user_id", F.col("b.t").alias("t"), F.col("b.d").alias("d"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = bounds.withColumn("open_now", F.sum("d").over(w))
    return running.groupBy("user_id").agg(
        F.max("open_now").alias("peak_concurrent"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_sessions"),
    )


PEAK_CONCURRENCY_SQL = f"""
WITH bounds AS (
  SELECT user_id, epoch_us(ts) AS t, 1 AS d FROM events
  UNION ALL
  SELECT user_id, epoch_us(ts) + {SESSION_SECONDS} * 1000000, -1 FROM events
),
running AS (
  SELECT user_id,
         SUM(d) OVER (PARTITION BY user_id ORDER BY t, d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS open_now
  FROM bounds
)
SELECT user_id, CAST(MAX(open_now) AS BIGINT) AS peak_concurrent,
       CAST(COUNT(*) / 2 AS BIGINT) AS n_sessions
FROM running GROUP BY user_id
"""


def _daily_cents(events: DataFrame) -> DataFrame:
    return events.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(_cents()).alias("vc")
    )


def filled_days(daily: DataFrame, value_col: str) -> DataFrame:
    """(user_id, day, <value_col>) for EVERY day in each user's
    [min(day), max(day)] span, with <value_col> NULL on unobserved days
    — i.e. exactly the old ``spine(min..max) LEFT JOIN daily``, fused
    into ONE pass (r14, guide §2.4): each observed day posexplodes the gap up to
    its next observed day (pos 0 keeps the value, generated days read
    NULL), so the spine needs neither the bounds re-aggregation of the
    fact — which, unshared under AQE, re-ran the whole daily agg and a
    second fact scan — nor the spine⟕daily join. Row-for-row identical
    by construction: per user with observed days d_1<...<d_k, row d_i
    emits [d_i, d_{i+1}-1] and d_k emits itself, a disjoint cover of
    [d_1, d_k]. The lead window shares the (user_id, day) clustering
    every downstream fill window needs. Measured: wash at sf0.1
    (duplicated aggs were cheap concurrent work), -37% at sf1.0, and
    one fact pass instead of two at any scale."""
    lw = Window.partitionBy("user_id").orderBy("day")
    # a repeated (user_id, day) leads to its own day: clamp so that row
    # emits just itself instead of a backwards sequence (a phantom
    # day-1 row) — each copy then pairs with its spine day like the join
    seq_end = F.greatest(
        F.col("day"),
        F.coalesce(F.date_sub(F.lead("day").over(lw), 1), F.col("day")),
    )
    return (
        daily.select(
            "user_id",
            F.col(value_col).alias("_v0"),
            F.sequence(F.col("day"), seq_end).alias("_days"),
        )
        .select("user_id", F.posexplode("_days").alias("_pos", "day"), "_v0")
        .select(
            "user_id",
            "day",
            F.when(F.col("_pos") == 0, F.col("_v0")).alias(value_col),
        )
    )


def linear_interp_daily(events: DataFrame) -> DataFrame:
    """Per-user daily totals on a complete date spine with LINEAR
    interpolation across gaps (vs gap_fill_daily's forward fill). Prev
    and next anchors come from one backward and one forward window over
    the same (user, day) clustering — no self-joins. The interpolation
    arithmetic is identical double ops on identical operands in both
    engines, so results hash-match."""
    daily = _daily_cents(events).withColumn("v", F.col("vc") / 100.0)
    joined = filled_days(daily.drop("vc"), "v")
    back = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    prev_day = F.last(F.when(F.col("v").isNotNull(), F.col("day")), True).over(back)
    next_day = F.first(F.when(F.col("v").isNotNull(), F.col("day")), True).over(fwd)
    prev_v = F.last("v", True).over(back)
    next_v = F.first("v", True).over(fwd)
    frac = F.datediff(F.col("day"), prev_day) / F.datediff(next_day, prev_day)
    interp = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        prev_v + (next_v - prev_v) * frac
    )
    return joined.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("v").isNull().alias("is_interp"),
        F.round(interp, 4).alias("value_interp"),
    )


LINEAR_INTERP_SQL = """
WITH daily AS (
  SELECT user_id, CAST(make_timestamp(epoch_us(ts)) AS DATE) AS day,
         SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS v
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
),
spine AS (
  SELECT user_id,
         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
joined AS (
  SELECT s.user_id, s.day, d.v FROM spine s
  LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
),
anchored AS (
  SELECT *,
    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wb
      AS prev_day,
    last_value(v IGNORE NULLS) OVER wb AS prev_v,
    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wf
      AS next_day,
    first_value(v IGNORE NULLS) OVER wf AS next_v
  FROM joined
  WINDOW
    wb AS (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wf AS (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
  v IS NULL AS is_interp,
  round(CASE WHEN v IS NOT NULL THEN v
             ELSE prev_v + (next_v - prev_v)
                  * (date_diff('day', prev_day, day)
                     / CAST(date_diff('day', prev_day, next_day) AS DOUBLE))
        END, 4) AS value_interp
FROM anchored
"""


def ewma_daily(events: DataFrame) -> DataFrame:
    """Adjusted EWMA (alpha = 1/2) of per-user daily totals over a
    trailing 16-day window. Weights are powers of two over integer
    cents, folded in BIGINT: ewma = sum(v_j * 2^j) / (2^L - 1) — the
    numerator and denominator are exact integers in both engines, and
    the single closing division is the same IEEE op, so results are
    bit-identical with no float-accumulation drift.

    Gaps in the spine contribute 0 (no activity that day), matching the
    "observation every period" EWMA definition."""
    daily = _daily_cents(events)
    filled = filled_days(daily, "vc").withColumn(
        "vc", F.coalesce("vc", F.lit(0).cast("long"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(EWMA_SPAN - 1), 0)
    )
    lst = F.collect_list("vc").over(w)
    # numerator s = sum_j lst[j] * 2^j as an UNROLLED chain of
    # try_element_at terms instead of the struct-accumulator aggregate:
    # the higher-order fold is interpreted per element (no codegen —
    # guide §4.1), while these are native expressions; positions past
    # the list's length contribute coalesce(NULL, 0) * 2^j = 0, and the
    # sum is exact BIGINT arithmetic, so the value is identical for any
    # window length. Denominator 2^L - 1 comes straight off size(lst).
    zero = F.lit(0).cast("long")
    s_num: Column = zero
    for j in range(EWMA_SPAN):
        s_num = s_num + F.coalesce(
            F.try_element_at("_lst", F.lit(j + 1)), zero
        ) * F.lit(1 << j).cast("long")
    den = (F.expr("shiftleft(1L, size(_lst))") - 1) * 100.0
    return (
        filled.withColumn("_lst", lst)
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            (F.col("vc") / 100.0).alias("value_sum"),
            F.round(s_num / den, 4).alias("ewma"),
        )
    )


EWMA_SQL = f"""
WITH daily AS (
  SELECT user_id, CAST(make_timestamp(epoch_us(ts)) AS DATE) AS day,
         SUM(CAST(round(value * 100) AS BIGINT)) AS vc
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
),
spine AS (
  SELECT user_id,
         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
filled AS (
  SELECT s.user_id, s.day, COALESCE(d.vc, 0) AS vc FROM spine s
  LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
),
windowed AS (
  SELECT user_id, day, vc,
         list(vc) OVER (PARTITION BY user_id ORDER BY day
                        ROWS BETWEEN {EWMA_SPAN - 1} PRECEDING AND CURRENT ROW)
           AS lst
  FROM filled
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
  vc / 100.0 AS value_sum,
  round(
    CAST(list_sum(list_transform(lst, (x, i) -> x * (1::BIGINT << (i - 1))))
         AS BIGINT)
    / (((1::BIGINT << len(lst)) - 1) * 100.0), 4) AS ewma
FROM windowed
"""


ROLLING_MEDIAN_DAYS = 7


def rolling_median_daily(events: DataFrame) -> DataFrame:
    """Exact rolling median of per-user daily totals over the trailing
    7 observed days: the window collects the (bounded) trailing values,
    the median is narrow array math over ≤7 cents-integers — exact and
    engine-independent, no percentile approximation. For unbounded
    windows this becomes the t-digest in operators/sketches.py; for a
    BOUNDED trailing window the exact form is strictly better."""
    daily = _daily_cents(events)
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(ROLLING_MEDIAN_DAYS - 1), 0)
    )
    lst = F.array_sort(F.collect_list("vc").over(w))
    n = F.size(lst)
    # floor division on both sides — a plain double->int CAST rounds
    # half-to-even in DuckDB and truncates in Spark
    lo = F.element_at(lst, F.floor((n + 1) / 2).cast("int"))
    hi = F.element_at(lst, F.floor(n / 2).cast("int") + 1)
    return daily.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.col("vc") / 100.0).alias("value_sum"),
        F.round((lo + hi) / 2.0 / 100.0, 4).alias("rolling_median"),
    )


ROLLING_MEDIAN_SQL = f"""
WITH daily AS (
  SELECT user_id, CAST(make_timestamp(epoch_us(ts)) AS DATE) AS day,
         SUM(CAST(round(value * 100) AS BIGINT)) AS vc
  FROM events GROUP BY 1, 2
),
windowed AS (
  SELECT user_id, day, vc,
         list_sort(list(vc) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS BETWEEN {ROLLING_MEDIAN_DAYS - 1} PRECEDING AND CURRENT ROW))
           AS lst
  FROM daily
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
  vc / 100.0 AS value_sum,
  round((lst[(len(lst) + 1) // 2]
         + lst[len(lst) // 2 + 1]) / 2.0 / 100.0, 4)
    AS rolling_median
FROM windowed
"""


def max_drawdown(events: DataFrame) -> DataFrame:
    """Maximum drawdown of each user's cumulative daily value series:
    running total, running peak, drawdown = (peak - cum) / peak, max
    per user with the day it bottomed (struct-MAX argmax — no second
    sort). Both windows share one (user_id, day) clustering; all sums
    are integer cents so the series is exact, and the single division
    happens on identical operands in both engines."""
    daily = _daily_cents(events)
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("vc").over(w)
    peak = F.max(F.col("_cum")).over(w)
    # peak can be exactly 0 (first day sums to 0 cents): Spark's
    # non-ANSI 0/0 is NULL, DuckDB's is NaN — guard the division so both
    # engines emit 0.0 for the degenerate rows
    dd = F.when(
        F.col("_peak") != 0,
        (F.col("_peak") - F.col("_cum")) / F.col("_peak"),
    ).otherwise(0.0)
    worst = F.max(
        F.struct(
            F.col("_dd").alias("dd"),
            F.col("day").alias("day"),
        )
    )
    return (
        daily.withColumn("_cum", cum)
        .withColumn("_peak", peak)
        .withColumn("_dd", F.round(dd, 9))
        .groupBy("user_id")
        .agg(
            worst.alias("_w"),
            (F.max("_cum") / 100.0).alias("final_cum"),
            (F.max("_peak") / 100.0).alias("peak_value"),
        )
        .select(
            "user_id",
            F.round(F.col("_w.dd"), 6).alias("max_drawdown"),
            F.date_format(F.col("_w.day"), "yyyy-MM-dd").alias("trough_day"),
            F.round("final_cum", 2).alias("final_cum"),
            F.round("peak_value", 2).alias("peak_value"),
        )
    )


MAX_DRAWDOWN_SQL = """
WITH daily AS (
  SELECT user_id, CAST(make_timestamp(epoch_us(ts)) AS DATE) AS day,
         SUM(CAST(round(value * 100) AS BIGINT)) AS vc
  FROM events GROUP BY 1, 2
),
series AS (
  SELECT user_id, day,
    CAST(SUM(vc) OVER w AS BIGINT) AS cum
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
dd AS (
  SELECT user_id, day, cum,
    CAST(MAX(cum) OVER w AS BIGINT) AS peak,
    round(CASE WHEN MAX(cum) OVER w <> 0
               THEN (MAX(cum) OVER w - cum) / CAST(MAX(cum) OVER w AS DOUBLE)
               ELSE 0.0 END, 9)
      AS drawdown
  FROM series
  WINDOW w AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id,
  round((MAX({'dd': drawdown, 'day': day})).dd, 6) AS max_drawdown,
  strftime((MAX({'dd': drawdown, 'day': day})).day, '%Y-%m-%d') AS trough_day,
  round(MAX(cum) / 100.0, 2) AS final_cum,
  round(MAX(peak) / 100.0, 2) AS peak_value
FROM dd GROUP BY user_id
"""
