"""Relational operator suite over the TPC-H-ish testdata tables.

The reference has no hash-join/agg engine — its joins are request-time
HTTP lookups (SURVEY.md §2.3) and its aggregations are Python loops
(§2.4). This module expresses the same dataflow shapes (equi-join,
semi-join, windowed agg, conditional agg, top-k, set ops) as declarative
Spark plans and lets Catalyst pick physical strategies:

* dimension joins (region/nation/customer/supplier) carry explicit
  ``broadcast()`` hints — at 100 TB the fact side never shuffles for them;
* every SUM/AVG over doubles is integer-scaled (exact, order-independent)
  so results hash-match the DuckDB oracle bit-for-bit;
* every LIMIT sits under a total ordering (tie-broken by keys) so top-k
  selection is deterministic across engines.

Reference parity notes per query are in each docstring; oracles live in
the ORACLES dict at the bottom.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _scaled(col: Column | str, decimals: int) -> Column:
    """Integer-scale a double column for exact, order-independent sums."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * (10**decimals)).cast("long")


def _ts_str(col: str) -> Column:
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss").alias(col)


# ---------------------------------------------------------------------------
# A-series: aggregation shapes (SURVEY §2.4) on lineitem
# ---------------------------------------------------------------------------


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: conditional/windowed aggregates
    A1-A6 generalized to grouped SUM/AVG/COUNT over a date-filtered fact.

    Single scan -> partial agg -> final agg; the shipdate filter pushes
    down to the parquet scan.
    """
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_scaled("l_quantity", 0)).alias("sum_qty"),
            (F.sum(_scaled("l_extendedprice", 2)) / 100.0).alias("sum_base_price"),
            (F.sum(_scaled(disc_price, 4)) / 10000.0).alias("sum_disc_price"),
            (F.sum(_scaled(charge, 6)) / 1000000.0).alias("sum_charge"),
            (F.sum(_scaled("l_quantity", 0)) / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(_scaled("l_extendedprice", 2)) / 100.0 / F.count(F.lit(1))).alias(
                "avg_price"
            ),
            (F.sum(_scaled("l_discount", 2)) / 100.0 / F.count(F.lit(1))).alias(
                "avg_disc"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            F.round("sum_base_price", 2).alias("sum_base_price"),
            F.round("sum_disc_price", 4).alias("sum_disc_price"),
            F.round("sum_charge", 6).alias("sum_charge"),
            F.round("avg_qty", 6).alias("avg_qty"),
            F.round("avg_price", 6).alias("avg_price"),
            F.round("avg_disc", 6).alias("avg_disc"),
            "count_order",
        )
    )


PRICING_SUMMARY_SQL = """
SELECT
  l_returnflag, l_linestatus,
  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
  round(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2) AS sum_base_price,
  round(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0, 4) AS sum_disc_price,
  round(SUM(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT)) / 1000000.0, 6) AS sum_charge,
  round(SUM(CAST(round(l_quantity) AS BIGINT)) / (COUNT(*) * 1.0), 6) AS avg_qty,
  round(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 / COUNT(*), 6) AS avg_price,
  round(SUM(CAST(round(l_discount * 100) AS BIGINT)) / 100.0 / COUNT(*), 6) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# J-series: joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


def shipping_priority(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """TPC-H Q3-shaped: 3-way equi-join + grouped revenue + deterministic
    top-10. Maps J1/J2 (task x fact lookup join becomes a real join).

    customer is the small side -> broadcast; orders⋈lineitem shuffles on
    orderkey once.
    """
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cutoff = F.lit("1998-06-30").cast("timestamp")
    return (
        lineitem.filter(F.col("l_shipdate") > cutoff)
        .join(
            orders.filter(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(_scaled(revenue, 4)) / 10000.0).alias("revenue"))
        .select(
            "l_orderkey",
            F.round("revenue", 4).alias("revenue"),
            _ts_str("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


SHIPPING_PRIORITY_SQL = """
SELECT
  l_orderkey,
  round(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0, 4) AS revenue,
  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-06-30 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def region_volume(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """TPC-H Q5-shaped 6-way join: local-supplier revenue per nation.

    region/nation/customer/supplier broadcast (dims); the single big
    shuffle is orders⋈lineitem on orderkey. The c_nationkey = s_nationkey
    predicate is the "local supplier" restriction.
    """
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg((F.sum(_scaled(revenue, 4)) / 10000.0).alias("revenue"))
        .select("r_name", "n_name", F.round("revenue", 4).alias("revenue"))
    )


REGION_VOLUME_SQL = """
SELECT r_name, n_name,
  round(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0, 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def order_priority_check(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4-shaped EXISTS semi-join (J4's anti-join mirror): count
    orders per priority having at least one late-shipped lineitem.

    left_semi join -> no fact-side duplication, single shuffle on orderkey.
    """
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(
            lineitem,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


ORDER_PRIORITY_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
"""


def customer_supplier_setops(customer: DataFrame, supplier: DataFrame) -> DataFrame:
    """Set operations (SURVEY §2.6 O2): nations with customers vs nations
    with suppliers — intersect / except, tagged and unioned.
    """
    c = customer.select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = supplier.select(F.col("s_nationkey").alias("nationkey")).distinct()
    both = c.intersect(s).select(F.lit("both").alias("side"), "nationkey")
    c_only = c.exceptAll(s).select(F.lit("customer_only").alias("side"), "nationkey")
    s_only = s.exceptAll(c).select(F.lit("supplier_only").alias("side"), "nationkey")
    return both.unionByName(c_only).unionByName(s_only)


SETOPS_SQL = """
WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
     s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
SELECT 'both' AS side, nationkey FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
UNION ALL
SELECT 'customer_only', nationkey FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
UNION ALL
SELECT 'supplier_only', nationkey FROM (SELECT nationkey FROM s EXCEPT SELECT nationkey FROM c)
"""


# ---------------------------------------------------------------------------
# O/P9-series: window functions, top-k per group (SURVEY §2.5/§2.6)
# ---------------------------------------------------------------------------


def topk_lineitems_per_flag(lineitem: DataFrame, k: int = 3) -> DataFrame:
    """P9 generalized: `forecast[:24]`-style head-of-ordered-group via
    row_number over a total per-group ordering.
    """
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), "l_orderkey", "l_linenumber"
    )
    return (
        lineitem.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "l_returnflag",
            "rk",
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("l_extendedprice"),
        )
    )


TOPK_LINEITEMS_SQL = """
SELECT l_returnflag, rk, l_orderkey, l_linenumber,
       round(l_extendedprice, 2) AS l_extendedprice
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY l_returnflag
      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
  FROM lineitem
)
WHERE rk <= 3
"""


def moving_value_avg(events: DataFrame, window_rows: int = 24) -> DataFrame:
    """Trailing-window aggregate in window-function form (SURVEY §2.5:
    A1-A6 expressed as `rangeBetween`/`rowsBetween` instead of group-by).

    Per user, ordered by ts: moving sum/avg of `value` over the last
    `window_rows` rows. Exact via scaled-integer window sums.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(window_rows - 1), 0)
    )
    scaled = _scaled("value", 2)
    return events.select(
        "event_id",
        "user_id",
        _ts_str("ts"),
        F.round(F.sum(scaled).over(w) / 100.0, 2).alias("mov_sum"),
        F.round(F.sum(scaled).over(w) / 100.0 / F.count(F.lit(1)).over(w), 6).alias(
            "mov_avg"
        ),
    )


MOVING_AVG_SQL = """
WITH events_us AS (
  SELECT event_id, make_timestamp(epoch_us(ts)) AS ts, user_id, value FROM events
)
SELECT event_id, user_id,
  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
  round(SUM(CAST(round(value * 100) AS BIGINT)) OVER w / 100.0, 2) AS mov_sum,
  round(SUM(CAST(round(value * 100) AS BIGINT)) OVER w / 100.0
        / COUNT(*) OVER w, 6) AS mov_avg
FROM events_us
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
"""


def window_kit(events: DataFrame, max_user: int = 20) -> DataFrame:
    """§2.5 breadth: the remaining analytic window functions in one
    shape — lag delta, lead lookahead, ntile bucketing, percent_rank /
    cume_dist — per user over event time plus a per-type value ranking.
    Both windows are partitioned (user_id / event_type): no global sort,
    no single-partition exchange at any scale.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wv = Window.partitionBy("event_type").orderBy(F.desc("value"), "event_id")
    return events.filter(F.col("user_id") < max_user).select(
        "event_id",
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
        F.round(F.col("value") - F.lag("value", 1, 0.0).over(w), 6).alias(
            "delta_prev"
        ),
        F.coalesce(F.lead("event_type", 1).over(w), F.lit("none")).alias(
            "next_type"
        ),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(wv), 6).alias("value_pct_rank"),
        F.round(F.cume_dist().over(wv), 6).alias("value_cume_dist"),
    )


WINDOW_KIT_SQL = """
WITH events_us AS (
  SELECT event_id, make_timestamp(epoch_us(ts)) AS ts, user_id, event_type,
         value
  FROM events WHERE user_id < 20
)
SELECT event_id, user_id, event_type,
  row_number() OVER w AS rn,
  round(value - lag(value, 1, 0.0) OVER w, 6) AS delta_prev,
  COALESCE(lead(event_type, 1) OVER w, 'none') AS next_type,
  ntile(4) OVER w AS quartile,
  round(percent_rank() OVER wv, 6) AS value_pct_rank,
  round(cume_dist() OVER wv, 6) AS value_cume_dist
FROM events_us
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
       wv AS (PARTITION BY event_type ORDER BY value DESC, event_id)
"""


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization (streaming session-window semantics T8 in
    batch form): a new session starts when the inter-event gap exceeds
    `gap_minutes`; emit per-session stats.

    lag + running conditional sum — two window passes over the same
    (user_id, ts) clustering, so one shuffle total.
    """
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = gap_minutes * 60
    with_flag = events.withColumn(
        "new_session",
        F.when(
            F.col("ts").cast("long")
            - F.lag(F.col("ts").cast("long")).over(by_user)
            > gap_s,
            1,
        )
        .otherwise(0)
        .cast("int"),
    )
    with_sid = with_flag.withColumn(
        "session_seq",
        F.sum("new_session").over(
            by_user.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        with_sid.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias(
                "duration_s"
            ),
            (F.sum(_scaled("value", 2)) / 100.0).alias("session_value"),
        )
        .select(
            "user_id",
            "session_seq",
            "n_events",
            "duration_s",
            F.round("session_value", 2).alias("session_value"),
        )
    )


SESSIONIZE_SQL = """
WITH events_us AS (
  SELECT event_id, make_timestamp(epoch_us(ts)) AS ts, user_id, value FROM events
),
flagged AS (
  -- epoch seconds via floor division of µs, matching Spark's CAST(ts AS LONG)
  SELECT *, epoch_us(ts) // 1000000 AS ep,
    CASE WHEN (epoch_us(ts) // 1000000) - lag(epoch_us(ts) // 1000000) OVER
          (PARTITION BY user_id ORDER BY ts, event_id) > 1800
         THEN 1 ELSE 0 END AS new_session
  FROM events_us
),
sid AS (
  -- CAST: DuckDB widens integer SUM to HUGEINT; Spark emits BIGINT
  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, COUNT(*) AS n_events,
  MAX(ep) - MIN(ep) AS duration_s,
  round(SUM(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS session_value
FROM sid
GROUP BY user_id, session_seq
"""


def rollup_volume(
    region: DataFrame, nation: DataFrame, customer: DataFrame, orders: DataFrame
) -> DataFrame:
    """Hierarchical ROLLUP totals (region -> nation -> grand total):
    multi-level aggregation the reference would hand-loop; Catalyst
    expands the grouping sets in one pass. Null group keys are labeled
    '(all)' so the label is explicit rather than engine-dependent."""
    joined = (
        orders.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(_scaled("o_totalprice", 2)) / 100.0).alias("total_price"),
        )
        .select(
            F.coalesce("r_name", F.lit("(all)")).alias("r_name"),
            F.coalesce("n_name", F.lit("(all)")).alias("n_name"),
            "n_orders",
            F.round("total_price", 2).alias("total_price"),
        )
    )


ROLLUP_SQL = """
SELECT
  COALESCE(r_name, '(all)') AS r_name,
  COALESCE(n_name, '(all)') AS n_name,
  COUNT(*) AS n_orders,
  round(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2) AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def string_kit(customer: DataFrame, nation: DataFrame) -> DataFrame:
    """§2.7 string-function kit in one pass: lower/upper (tag compares,
    client.py:48-50), format_string (URL building, api.py:95-101),
    sorted-set array_join (label serialization, tasks.py:76), substring
    and replace."""
    return (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.lower("c_mktsegment").alias("segment_lower"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.array_join(F.array_sort(F.collect_set(F.upper("n_name"))), ",").alias(
                "nations_csv"
            ),
            F.array_join(
                F.array_sort(
                    F.collect_set(
                        F.format_string("cust-%05d", F.col("c_custkey") % 7)
                    )
                ),
                "|",
            ).alias("bucket_tags"),
            F.min(F.regexp_replace(F.substring("c_name", 1, 12), "[0-9]+", "#")).alias(
                "name_pattern"
            ),
        )
    )


STRING_KIT_SQL = """
SELECT
  lower(c_mktsegment) AS segment_lower,
  COUNT(*) AS n_customers,
  list_aggregate(list_sort(list(DISTINCT upper(n_name))), 'string_agg', ',')
      AS nations_csv,
  list_aggregate(list_sort(list(DISTINCT printf('cust-%05d', c_custkey % 7))),
      'string_agg', '|') AS bucket_tags,
  MIN(regexp_replace(substring(c_name, 1, 12), '[0-9]+', '#', 'g'))
      AS name_pattern
FROM customer
JOIN nation ON c_nationkey = n_nationkey
GROUP BY lower(c_mktsegment)
"""


def promo_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14-shaped promo-revenue share: fact x broadcast part dim,
    conditional integer-scaled revenue sums per ship month. Covers the
    J2 enrichment-join shape against the part dimension; the month
    grouping keeps the output bounded at any fact scale."""
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    promo = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0).cast("long"))
    return (
        lineitem.join(
            F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
        )
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.sum(promo).alias("_p"),
            F.sum(rev).alias("_t"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            "ship_month",
            F.round(F.col("_p") * 100.0 / F.col("_t"), 6).alias("promo_share_pct"),
            (F.col("_t") / 10000.0).alias("_td"),
            "n_items",
        )
        .select(
            "ship_month",
            "promo_share_pct",
            F.round("_td", 4).alias("total_revenue"),
            "n_items",
        )
    )


PROMO_REVENUE_SQL = """
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
  round(CAST(SUM(CASE WHEN p_type = 'ECONOMY'
        THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)
        ELSE 0 END) AS BIGINT) * 100.0
      / CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT), 6)
    AS promo_share_pct,
  round(CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT)
      / 10000.0, 4) AS total_revenue,
  COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


def session_window_agg(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """T8 with Spark's NATIVE session-window operator: one
    `groupBy(user_id, session_window(ts, gap))` — the same gap-merge
    semantics `sessionize` builds manually from lag + running sum, but
    expressed so the engine's streaming state machinery could execute it
    incrementally (swap groupBy for a watermarked stream and the plan is
    a streaming session aggregation).

    Window end is Spark's convention (last event + gap); emitted as
    formatted strings for cross-engine type parity.
    """
    sw = F.session_window("ts", f"{gap_minutes} minutes")
    return (
        events.groupBy("user_id", sw.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(_scaled("value", 2)) / 100.0).alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            F.round("session_value", 2).alias("session_value"),
        )
    )


SESSION_WINDOW_SQL = """
WITH events_us AS (
  SELECT event_id, make_timestamp(epoch_us(ts)) AS ts, user_id, value FROM events
),
flagged AS (
  SELECT *, CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
          (PARTITION BY user_id ORDER BY ts, event_id) > 1800 * 1000000
       THEN 1 ELSE 0 END AS new_session
  FROM events_us
),
sid AS (
  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id,
  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
  strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
  COUNT(*) AS n_events,
  round(SUM(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS session_value
FROM sid
GROUP BY user_id, session_seq
"""


def cube_volume(orders: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """CUBE over (nation, order priority) with an explicit grouping id —
    the full §2.6 grouping-sets surface next to `rollup_volume`. One
    pass: Catalyst expands the 4 grouping sets map-side; nulls from
    rolled-up dimensions are labeled '(all)' so the output is
    engine-stable."""
    joined = orders.join(
        F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey")
    ).join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    return (
        joined.cube("n_name", "o_orderpriority")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(_scaled("o_totalprice", 2)) / 100.0).alias("tp"),
        )
        .select(
            F.coalesce("n_name", F.lit("(all)")).alias("n_name"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("o_orderpriority"),
            "gid",
            "n_orders",
            F.round("tp", 2).alias("total_price"),
        )
    )


CUBE_SQL = """
SELECT COALESCE(n_name, '(all)') AS n_name,
  COALESCE(o_orderpriority, '(all)') AS o_orderpriority,
  CAST(GROUPING(n_name) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
  COUNT(*) AS n_orders,
  round(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
    AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY CUBE (n_name, o_orderpriority)
"""


LINESTATUS_VALUES = ("F", "O")


def pivot_lineitem(lineitem: DataFrame) -> DataFrame:
    """PIVOT: quantity totals per return flag spread across line-status
    columns. The pivot value list is EXPLICIT (open-ended pivots need a
    distinct-values job first — at 100 TB always pin the list)."""
    out = (
        lineitem.groupBy("l_returnflag")
        .pivot("l_linestatus", list(LINESTATUS_VALUES))
        .agg(F.sum(F.col("l_quantity").cast("long")))
    )
    return out.select(
        "l_returnflag",
        F.coalesce(F.col("F"), F.lit(0)).alias("qty_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("qty_o"),
    )


PIVOT_SQL = """
SELECT l_returnflag,
  CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'F'
      THEN CAST(l_quantity AS BIGINT) END), 0) AS BIGINT) AS qty_f,
  CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'O'
      THEN CAST(l_quantity AS BIGINT) END), 0) AS BIGINT) AS qty_o
FROM lineitem
GROUP BY l_returnflag
"""


def unpivot_part_metrics(part: DataFrame) -> DataFrame:
    """UNPIVOT/melt: part's numeric attributes to long (key, metric,
    value) form — narrow per-row expansion, no shuffle at any scale."""
    return part.unpivot(
        ["p_partkey"],
        [
            F.col("p_size").cast("double").alias("size"),
            F.col("p_retailprice").alias("retailprice"),
        ],
        "metric",
        "value",
    ).select("p_partkey", "metric", F.round("value", 2).alias("value"))


UNPIVOT_SQL = """
SELECT p_partkey, 'size' AS metric, round(CAST(p_size AS DOUBLE), 2) AS value
FROM part
UNION ALL
SELECT p_partkey, 'retailprice' AS metric, round(p_retailprice, 2) AS value
FROM part
"""


def small_quantity_revenue(
    lineitem: DataFrame, part: DataFrame, brand: str = "Brand#12"
) -> DataFrame:
    """TPC-H Q17-shaped correlated scalar subquery: revenue from orders
    whose quantity is below 20% of that part's average quantity.

    The correlated `(SELECT avg(..) WHERE p_partkey = ..)` becomes a
    partitioned WINDOW average over the already-joined fact — one shuffle
    on partkey total, no re-scan and no per-row subquery execution (the
    de-correlation Catalyst would otherwise have to find on its own).
    The per-part average is computed as exact integer sum / count so both
    engines derive the identical double before the 0.2× comparison.
    """
    wanted = part.filter(F.col("p_brand") == brand).select("p_partkey")
    li = lineitem.join(
        F.broadcast(wanted), F.col("l_partkey") == F.col("p_partkey")
    )
    w = Window.partitionBy("l_partkey")
    avg_qty = (
        F.sum(_scaled("l_quantity", 0)).over(w)
        / F.count(F.lit(1)).over(w)
    )
    small = li.withColumn("_avg", avg_qty).filter(
        F.col("l_quantity") < 0.2 * F.col("_avg")
    )
    return small.agg(
        F.count(F.lit(1)).alias("n_small"),
        F.round(
            (F.sum(_scaled("l_extendedprice", 2)) / 100.0) / 7.0, 4
        ).alias("avg_yearly"),
    )


SMALL_QTY_REVENUE_SQL = """
SELECT COUNT(*) AS n_small,
  round(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 / 7.0, 4)
    AS avg_yearly
FROM lineitem l1
JOIN part ON p_partkey = l1.l_partkey
WHERE p_brand = 'Brand#12'
  AND l1.l_quantity < 0.2 * (
    SELECT SUM(CAST(round(l2.l_quantity) AS BIGINT)) / (COUNT(*) * 1.0)
    FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey
  )
"""


def order_count_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q13-shaped double aggregation: distribution of per-customer
    order counts INCLUDING zero-order customers — the left outer join is
    the whole point (an inner join silently drops the empty bucket).
    Two aggs: per-customer count (keyed by custkey), then the tiny
    histogram agg; at scale the first is the only real shuffle."""
    per_cust = (
        customer.join(
            orders.select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_custkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select("n_orders", "n_customers")
    )


ORDER_COUNT_DIST_SQL = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_custkey) AS n_orders
  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
  GROUP BY c_custkey
)
SELECT n_orders, COUNT(*) AS n_customers
FROM per_cust GROUP BY n_orders
"""


def large_orders(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, threshold: int = 300
) -> DataFrame:
    """TPC-H Q18-shaped: orders whose total quantity exceeds a threshold
    (`IN (... GROUP BY ... HAVING SUM ...)`), joined back to orders +
    customer. The IN-subquery de-correlates to one grouped aggregation
    on the fact's own join key — the heavy groupBy and the subsequent
    join share the l_orderkey/o_orderkey clustering, so AQE plans a
    single shuffle of lineitem; customer is broadcast.
    """
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(_scaled("l_quantity", 0)).alias("total_qty"))
        .filter(F.col("total_qty") > threshold)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            _ts_str("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(100)
    )


LARGE_ORDERS_SQL = """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
       round(o_totalprice, 2) AS o_totalprice,
       CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(round(l_quantity) AS BIGINT)) > 300
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY total_qty DESC, o_orderkey
LIMIT 100
"""


def waiting_suppliers(
    supplier: DataFrame, orders: DataFrame, lineitem: DataFrame, late_days: int = 90
) -> DataFrame:
    """TPC-H Q21-shaped EXISTS / NOT EXISTS chain: suppliers who were the
    SOLE late shipper on a multi-supplier order (lateness = shipped more
    than `late_days` after the order date; the testdata lineitem carries
    no commit/receipt dates).

    Both correlated subqueries de-correlate into ONE grouped aggregation
    per (order, supplier): EXISTS(another supplier) == n_suppliers >= 2,
    NOT EXISTS(another late supplier) == n_late_suppliers = 1. One
    lineitem shuffle on orderkey (shared with the orders join under AQE),
    supplier dim broadcast at the end.
    """
    with_late = lineitem.join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).withColumn(
        "is_late",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAY")
        ).cast("int"),
    )
    per_supp = with_late.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("is_late").alias("supp_late")
    )
    # per-order stats as a window over the per-supplier frame: the
    # subplan is computed ONCE (a second groupBy + self-join would
    # evaluate the join/agg twice — AQE does not reuse that exchange)
    by_order = Window.partitionBy("l_orderkey")
    blamed = per_supp.withColumn(
        "n_supp", F.count(F.lit(1)).over(by_order)
    ).withColumn("n_late_supp", F.sum("supp_late").over(by_order)).filter(
        (F.col("supp_late") == 1)
        & (F.col("n_supp") >= 2)
        & (F.col("n_late_supp") == 1)
    )
    return (
        blamed.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(25)
    )


WAITING_SUPPLIERS_SQL = """
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         CAST(l_shipdate > o_orderdate + INTERVAL 90 DAY AS INT) AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT s_suppkey, s_name, COUNT(*) AS numwait
FROM (
  SELECT l_orderkey, l_suppkey FROM li
  GROUP BY l_orderkey, l_suppkey
  HAVING MAX(is_late) = 1
) l1
JOIN supplier ON l_suppkey = s_suppkey
WHERE EXISTS (
  SELECT 1 FROM li l2
  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
)
AND NOT EXISTS (
  SELECT 1 FROM li l3
  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
    AND l3.is_late = 1
)
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
LIMIT 25
"""


BIG_ORDER_PRICE = 300_000.0


def dormant_rich_customers(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q22-shaped: customers with above-average (positive) account
    balance who never placed a big-ticket order (every testdata customer
    has SOME order, so the NOT EXISTS is over orders above a price bar),
    aggregated per nation. The scalar AVG subquery becomes a 1-row
    broadcast cross join; NOT EXISTS becomes a left-anti join against
    the filtered orders key set (the price filter pushes into the scan,
    so the anti-join's build side is a small fraction of orders).

    The threshold is computed in exact integer cents then divided once,
    so the > comparison is the same IEEE double compare in both engines.
    """
    thr = (
        customer.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(_scaled("c_acctbal", 2)) / F.count(F.lit(1))
            ).alias("thr_cents")
        )
    )
    return (
        customer.join(F.broadcast(thr))
        .filter(_scaled("c_acctbal", 2).cast("double") > F.col("thr_cents"))
        .join(
            orders.filter(F.col("o_totalprice") > BIG_ORDER_PRICE)
            .select(F.col("o_custkey").alias("c_custkey"))
            .distinct(),
            "c_custkey",
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            (F.sum(_scaled("c_acctbal", 2)) / 100.0).alias("totacctbal"),
        )
        .select(
            "c_nationkey",
            "n_cust",
            F.round("totacctbal", 2).alias("totacctbal"),
        )
    )


DORMANT_RICH_SQL = """
WITH thr AS (
  SELECT SUM(CAST(round(c_acctbal * 100) AS BIGINT)) / COUNT(*) AS thr_cents
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey, COUNT(*) AS n_cust,
       round(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0, 2) AS totacctbal
FROM customer, thr
WHERE CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS DOUBLE) > thr_cents
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_totalprice > 300000.0
  )
GROUP BY c_nationkey
"""


PRICE_BANDS = [
    ("budget", 0.0, 20_000.0),
    ("mid", 20_000.0, 60_000.0),
    ("premium", 60_000.0, 120_000.0),
]


def price_band_join(lineitem: DataFrame) -> DataFrame:
    """Non-equi range join: classify each lineitem into a price band via
    a broadcast BETWEEN join against a 3-row bands dim (lo <= x < hi).
    The classic dimension-interval lookup (tax brackets, rate cards,
    SLA tiers): with the dim broadcast this is a BroadcastNestedLoopJoin
    evaluated as a narrow map over the fact — the fact never shuffles,
    and the 3-band agg after it is one partial+final pass.
    """
    spark = lineitem.sparkSession
    bands = spark.createDataFrame(
        PRICE_BANDS, "band STRING, lo DOUBLE, hi DOUBLE"
    )
    return (
        lineitem.join(
            F.broadcast(bands),
            (F.col("l_extendedprice") >= F.col("lo"))
            & (F.col("l_extendedprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum(_scaled("l_extendedprice", 2)) / 100.0).alias("revenue"),
        )
        .select("band", "n_items", F.round("revenue", 2).alias("revenue"))
    )


PRICE_BAND_JOIN_SQL = """
WITH bands(band, lo, hi) AS (
  VALUES ('budget', 0.0, 20000.0),
         ('mid', 20000.0, 60000.0),
         ('premium', 60000.0, 120000.0)
)
SELECT band, COUNT(*) AS n_items,
       round(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2)
         AS revenue
FROM lineitem JOIN bands
  ON l_extendedprice >= lo AND l_extendedprice < hi
GROUP BY band
"""


def stats_kit(events: DataFrame) -> DataFrame:
    """Statistical aggregate surface per event_type: sample stddev /
    variance, Pearson correlation of value against event time, and the
    exact integer-scaled mean. One partial+final aggregation — all of
    these are mergeable moment sketches, so they scale like any sum.

    Parity note: moment aggregates accumulate doubles in engine- and
    partition-dependent order, so unlike the integer-scaled sums they
    are only reproducible to ~1e-12 relative error; rounding to 6
    decimals absorbs that while still pinning 7 significant digits.
    """
    ep = F.col("ts").cast("long").cast("double")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(_scaled("value", 2)) / 100.0 / F.count(F.lit(1)), 6
        ).alias("mean_value"),
        F.round(F.stddev_samp("value"), 6).alias("stddev_value"),
        F.round(F.var_samp("value"), 6).alias("var_value"),
        F.round(F.corr(F.col("value"), ep), 6).alias("corr_value_time"),
    )


STATS_KIT_SQL = """
SELECT event_type, COUNT(*) AS n,
  round(SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 / COUNT(*), 6)
    AS mean_value,
  round(stddev_samp(value), 6) AS stddev_value,
  round(var_samp(value), 6) AS var_value,
  round(corr(value, CAST(epoch_us(ts) // 1000000 AS DOUBLE)), 6)
    AS corr_value_time
FROM events
GROUP BY event_type
"""


def revenue_share(
    region: DataFrame, nation: DataFrame, customer: DataFrame, orders: DataFrame
) -> DataFrame:
    """Percent-of-total at two grains (nation share of region, nation
    share of global) WITHOUT a partition-less window: an empty
    ``Window.partitionBy()`` funnels the whole table through one
    partition, so the region totals come from a second tiny aggregate
    joined back (broadcast) and the global total from a 1-row cross
    join. The fact shuffles once, on the nation grouping."""
    joined = (
        orders.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    # lazily persist the bounded per-nation frame (≤ |region|×|nation|
    # rows): its three consumers (output rows, region totals, global
    # total) each column-prune the subtree DIFFERENTLY, so exchange
    # reuse never fires and the executed plan scanned + aggregated the
    # fact THREE times (r14, plans/r14/revenue_share_before.txt). With
    # the cache the fact is read once; measured a wash at sf0.1/sf1.0
    # (the duplicated aggs were cheap concurrent work there) — the win
    # is two fewer full fact passes at scale. Eviction: the caller's
    # clear_caches seam, like every lazy persist here.
    per_nation = joined.groupBy("r_name", "n_name").agg(
        F.sum(_scaled("o_totalprice", 2)).alias("rev_c")
    ).persist()
    per_region = per_nation.groupBy("r_name").agg(
        F.sum("rev_c").alias("region_rev_c")
    )
    total = per_nation.agg(F.sum("rev_c").alias("global_rev_c"))
    return (
        per_nation.join(F.broadcast(per_region), "r_name")
        .crossJoin(F.broadcast(total))
        .select(
            "r_name",
            "n_name",
            (F.col("rev_c") / 100.0).alias("revenue"),
            F.round(F.col("rev_c") / F.col("region_rev_c"), 6).alias("share_of_region"),
            F.round(F.col("rev_c") / F.col("global_rev_c"), 6).alias("share_of_global"),
        )
    )


REVENUE_SHARE_SQL = """
WITH per_nation AS (
  SELECT r_name, n_name,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name
),
per_region AS (
  SELECT r_name, CAST(SUM(rev_c) AS BIGINT) AS region_rev_c
  FROM per_nation GROUP BY r_name
),
total AS (SELECT CAST(SUM(rev_c) AS BIGINT) AS global_rev_c FROM per_nation)
SELECT p.r_name, p.n_name,
  p.rev_c / 100.0 AS revenue,
  round(p.rev_c / CAST(r.region_rev_c AS DOUBLE), 6) AS share_of_region,
  round(p.rev_c / CAST(t.global_rev_c AS DOUBLE), 6) AS share_of_global
FROM per_nation p JOIN per_region r USING (r_name) CROSS JOIN total t
"""


def grouping_sets_volume(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Explicit GROUPING SETS — the general form behind rollup/cube
    (§2.4): per-(nation, priority), per-nation, and per-priority margins
    in ONE pass over the fact. GROUPING() flags disambiguate a
    margin-generated NULL from a data NULL, emitted per column so the
    bit layout is engine-independent."""
    joined = orders.join(
        F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey")
    ).join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    n, p = F.col("n_name"), F.col("o_orderpriority")
    return (
        joined.groupingSets([[n, p], [n], [p]], n, p)
        .agg(
            # GROUPING() is only resolvable inside the grouping agg
            F.grouping("n_name").cast("int").alias("is_nation_margin"),
            F.grouping("o_orderpriority").cast("int").alias("is_priority_margin"),
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(_scaled("o_totalprice", 2)) / 100.0).alias("total_price"),
        )
        .select(
            F.coalesce("n_name", F.lit("(all)")).alias("n_name"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("o_orderpriority"),
            "is_nation_margin",
            "is_priority_margin",
            "n_orders",
            F.round("total_price", 2).alias("total_price"),
        )
    )


GROUPING_SETS_SQL = """
SELECT
  COALESCE(n_name, '(all)') AS n_name,
  COALESCE(o_orderpriority, '(all)') AS o_orderpriority,
  CAST(GROUPING(n_name) AS INT) AS is_nation_margin,
  CAST(GROUPING(o_orderpriority) AS INT) AS is_priority_margin,
  COUNT(*) AS n_orders,
  round(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
    AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((n_name, o_orderpriority), (n_name), (o_orderpriority))
"""


def join_kit(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Join-semantics kit (§2.3 breadth): LEFT SEMI, LEFT ANTI, and
    null-safe equality in one output. The null-safe case synthesizes a
    nullable key (NULLIF) on both sides — `<=>` matches NULL to NULL
    where a plain equi-join drops those rows; the dim side is a distinct
    (broadcastable) frame. Emits one row per join type with its row
    count, so the oracle pins all three semantics."""
    with_orders = customer.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    without_orders = customer.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    keyed = orders.withColumn(
        "k", F.nullif((F.col("o_orderkey") % 5).cast("long"), F.lit(0))
    )
    # the dim key gets its own name: `keyed["k"]` and a `dim["k"]` derived
    # from it are one attribute, so `k <=> k` would be trivially true and
    # only the self-join dedup would keep it from a cross join
    dim = keyed.select(F.col("k").alias("dim_k")).distinct()
    null_safe = keyed.join(
        F.broadcast(dim), keyed["k"].eqNullSafe(dim["dim_k"]), "inner"
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    return (
        with_orders.select(F.lit("semi_with_orders").alias("join_type"), "n_rows")
        .unionByName(
            without_orders.select(
                F.lit("anti_without_orders").alias("join_type"), "n_rows"
            )
        )
        .unionByName(
            null_safe.select(F.lit("null_safe_matches").alias("join_type"), "n_rows")
        )
    )


JOIN_KIT_SQL = """
SELECT 'semi_with_orders' AS join_type, COUNT(*) AS n_rows
FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT 'anti_without_orders', COUNT(*)
FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT 'null_safe_matches', COUNT(*)
FROM (SELECT NULLIF(o_orderkey % 5, 0) AS k FROM orders) l
JOIN (SELECT DISTINCT NULLIF(o_orderkey % 5, 0) AS k FROM orders) r
  ON l.k IS NOT DISTINCT FROM r.k
"""


def nation_trade_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Q7 shape — the cross-border trade matrix: volume between every
    (supplier nation, customer nation) pair per year. Five-table join
    with every dimension broadcast: the fact (lineitem) shuffles once
    onto orderkey for the orders join; supplier/customer/nation legs are
    all broadcast hash joins, so the same-nation rows are pruned before
    the single aggregation."""
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            (
                F.sum(_scaled(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4))
                / 10000.0
            ).alias("volume")
        )
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            F.round("volume", 4).alias("volume"),
        )
    )


NATION_TRADE_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       EXTRACT(year FROM l_shipdate) AS l_year,
       round(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) / 10000.0, 4) AS volume
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
"""


def market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Q8 shape — every supplier nation's share of a customer region's
    yearly revenue. Per-(year, supp_nation) volumes in one pass; the
    year denominators are a second TINY aggregate of that output joined
    back broadcast — no second fact scan and no partition-less window."""
    n_cust = nation.select(
        F.col("n_nationkey").alias("cn_nk"), F.col("n_regionkey").alias("cn_rk")
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_nk"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_nk"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_nk"))
        .join(F.broadcast(region), F.col("cn_rk") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
    )
    vol = _scaled(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    per_nation = joined.groupBy(
        F.year("o_orderdate").alias("o_year"), "supp_nation"
    ).agg(F.sum(vol).alias("nation_vol"))
    totals = per_nation.groupBy("o_year").agg(
        F.sum("nation_vol").alias("total_vol")
    )
    return (
        per_nation.join(F.broadcast(totals), "o_year")
        .select(
            "o_year",
            "supp_nation",
            F.round(F.col("nation_vol") / 10000.0, 4).alias("nation_volume"),
            F.round(F.col("nation_vol") / F.col("total_vol"), 6).alias("mkt_share"),
        )
    )


MARKET_SHARE_SQL = """
WITH per_nation AS (
  SELECT EXTRACT(year FROM o_orderdate) AS o_year, n2.n_name AS supp_nation,
         SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                  AS BIGINT)) AS nation_vol
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
  GROUP BY 1, 2
),
totals AS (
  SELECT o_year, CAST(SUM(nation_vol) AS BIGINT) AS total_vol
  FROM per_nation GROUP BY o_year
)
SELECT p.o_year, p.supp_nation,
       round(p.nation_vol / 10000.0, 4) AS nation_volume,
       round(p.nation_vol / CAST(t.total_vol AS DOUBLE), 6) AS mkt_share
FROM per_nation p JOIN totals t USING (o_year)
"""


def brand_profit(
    lineitem: DataFrame, orders: DataFrame, part: DataFrame
) -> DataFrame:
    """Q9 shape adapted to the schema (no partsupp table): profit =
    revenue - 80% retail cost x qty, per (brand, year). Part is the
    broadcast dim; lineitem meets orders on the one orderkey shuffle.
    Profit stays in integer micro-units until the final division."""
    rev = _scaled(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    cost = _scaled(
        F.col("p_retailprice") * 0.8 * F.col("l_quantity"), 4
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"), F.year("o_orderdate").alias("o_year"))
        .agg(((F.sum(rev) - F.sum(cost)) / 10000.0).alias("profit"))
        .select("brand", "o_year", F.round("profit", 4).alias("profit"))
    )


BRAND_PROFIT_SQL = """
SELECT p_brand AS brand, EXTRACT(year FROM o_orderdate) AS o_year,
  round((SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
         - SUM(CAST(round(p_retailprice * 0.8 * l_quantity * 10000) AS BIGINT)))
        / 10000.0, 4) AS profit
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
GROUP BY 1, 2
"""


FIT_EPOCH_ANCHOR = 1704067200  # 2024-01-01 UTC — x in days since anchor


def linear_fit(events: DataFrame) -> DataFrame:
    """Per-type linear trend of value over time: closed-form OLS from
    five mergeable integer sums (n, Sx, Sy, Sxy, Sxx) — one partial+
    final aggregation, no second pass, no window. x is whole days since
    a fixed anchor and y integer cents, so every accumulator is exact
    BIGINT arithmetic (order-independent across any partitioning); the
    closing divisions are identical IEEE ops in both engines."""
    # F.floor, not .cast("long"): casts truncate toward zero while the
    # oracle's `//` floors, and (sec - anchor) is negative for any event
    # before the anchor — the two disagree exactly there
    sec = F.floor(F.unix_micros("ts") / 1_000_000).cast("long")
    x = F.floor((sec - FIT_EPOCH_ANCHOR) / 86400).cast("long")
    y = F.round(F.col("value") * 100).cast("long")
    agg = events.select(F.col("event_type"), x.alias("x"), y.alias("y")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = agg["n"] * F.col("sxy") - F.col("sx") * F.col("sy")
    den = agg["n"] * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    intercept = (F.col("sy") - slope * F.col("sx")) / agg["n"]
    # r² squares/multiplies in DOUBLE (the BIGINT moments are exact but
    # their products overflow int64); operand order mirrors the oracle
    r2 = (num.cast("double") * num) / (
        den.cast("double") * (agg["n"] * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        "event_type",
        "n",
        F.round(slope / 100.0, 6).alias("slope_per_day"),
        F.round(intercept / 100.0, 4).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


LINEAR_FIT_SQL = f"""
WITH pts AS (
  SELECT event_type,
         CAST((epoch_us(ts) // 1000000 - {FIT_EPOCH_ANCHOR}) // 86400 AS BIGINT)
           AS x,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events
),
agg AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pts GROUP BY event_type
)
SELECT event_type, n,
  round((n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0, 6)
    AS slope_per_day,
  round((sy - (n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE) * sx)
        / CAST(n AS DOUBLE) / 100.0, 4) AS intercept,
  round(CAST((n * sxy - sx * sy) AS DOUBLE) * (n * sxy - sx * sy)
        / (CAST(n * sxx - sx * sx AS DOUBLE) * (n * syy - sy * sy)), 6) AS r2
FROM agg
"""


def period_over_period(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Month-over-month revenue per nation: one monthly aggregation,
    then lag/delta over the per-nation month series — the window input
    is already reduced to (nation x month) rows, so the sort behind the
    lag is trivially small however large the fact table is."""
    monthly = (
        orders.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name", F.date_format("o_orderdate", "yyyy-MM").alias("month")
        )
        .agg(F.sum(_scaled("o_totalprice", 2)).alias("rev_c"))
    )
    w = Window.partitionBy("n_name").orderBy("month")
    # first month has no prior: lag defaults to the month's own revenue
    # so delta/pct read as 0 (NULL-free output sorts/hashes stably)
    prev = F.lag("rev_c").over(w)
    base = F.coalesce(prev, F.col("rev_c"))
    return monthly.select(
        "n_name",
        "month",
        (F.col("rev_c") / 100.0).alias("revenue"),
        F.round((F.col("rev_c") - base) / 100.0, 2).alias("mom_delta"),
        F.round((F.col("rev_c") - base) / base, 6).alias("mom_pct"),
    )


PERIOD_OVER_PERIOD_SQL = """
WITH monthly AS (
  SELECT n_name, strftime(o_orderdate, '%Y-%m') AS month,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT n_name, month,
  rev_c / 100.0 AS revenue,
  round((rev_c - COALESCE(lag(rev_c) OVER w, rev_c)) / 100.0, 2) AS mom_delta,
  round((rev_c - COALESCE(lag(rev_c) OVER w, rev_c))
        / CAST(COALESCE(lag(rev_c) OVER w, rev_c) AS DOUBLE), 6) AS mom_pct
FROM monthly
WINDOW w AS (PARTITION BY n_name ORDER BY month)
"""


def dow_seasonality(events: DataFrame) -> DataFrame:
    """Day-of-week seasonality per event type — one aggregation over a
    narrow date_part expression; ISO day numbering pinned explicitly so
    both engines agree on week start."""
    return (
        events.groupBy(
            "event_type", F.dayofweek("ts").alias("dow")  # 1=Sunday
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("_v"),
        )
        .select(
            "event_type",
            F.col("dow").cast("int").alias("dow"),
            "n",
            F.round(F.col("_v") / F.col("n"), 4).alias("avg_value"),
        )
    )


DOW_SEASONALITY_SQL = """
SELECT event_type,
  CAST(dayofweek(make_timestamp(epoch_us(ts))) + 1 AS INT) AS dow,
  COUNT(*) AS n,
  round(SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 / COUNT(*), 4)
    AS avg_value
FROM events
GROUP BY 1, 2
"""


ANOMALY_Z = 3.0


def anomaly_flags(events: DataFrame) -> DataFrame:
    """Z-score outlier detection per event type: mean/std come from the
    same five exact BIGINT moments as `linear_fit` (one aggregation,
    order-independent), broadcast back over the fact — the fact side
    never shuffles for the scoring pass. Because the moments are exact
    integers, mean/std/z are bit-identical across engines and the
    |z| > 3 cut is stable (no rounding at the decision boundary)."""
    y = F.round(F.col("value") * 100).cast("long")
    stats = (
        events.select("event_type", y.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("sy"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        .select(
            "event_type",
            "n",
            (F.col("sy") / F.col("n")).alias("mean_c"),
            # undefined std (n=1, or zero variance) stays NULL: Spark's
            # non-ANSI x/0 is NULL but DuckDB's float division is
            # NaN/inf, so the degenerate groups must never reach the
            # division in either engine
            F.when(
                (F.col("n") > 1)
                & (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") > 0),
                F.sqrt(
                    (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                    / (F.col("n").cast("double") * (F.col("n") - 1))
                ),
            ).alias("std_c"),
        )
    )
    scored = events.select("event_type", "event_id", y.alias("y")).join(
        F.broadcast(stats), "event_type"
    )
    z = F.when(
        F.col("std_c").isNotNull(),
        (F.col("y") - F.col("mean_c")) / F.col("std_c"),
    ).otherwise(0.0)
    return (
        scored.withColumn("z", z)
        .groupBy("event_type", "n", "mean_c")
        .agg(
            F.sum((F.abs(F.col("z")) > ANOMALY_Z).cast("long")).alias("n_anomalies"),
            F.round(F.max(F.abs(F.col("z"))), 6).alias("max_abs_z"),
        )
        .select(
            "event_type",
            "n",
            "n_anomalies",
            "max_abs_z",
            F.round(F.col("mean_c") / 100.0, 4).alias("mean_value"),
        )
    )


ANOMALY_FLAGS_SQL = f"""
WITH pts AS (
  SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS y
  FROM events
),
stats AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pts GROUP BY event_type
),
sdv AS (
  SELECT event_type, n, sy / CAST(n AS DOUBLE) AS mean_c,
         CASE WHEN n > 1 AND n * syy - sy * sy > 0
              THEN sqrt((n * syy - sy * sy) / (CAST(n AS DOUBLE) * (n - 1)))
         END AS std_c
  FROM stats
),
zs AS (
  SELECT p.event_type, s.n, s.mean_c,
         CASE WHEN s.std_c IS NOT NULL
              THEN abs((p.y - s.mean_c) / s.std_c) ELSE 0.0 END AS az
  FROM pts p JOIN sdv s USING (event_type)
)
SELECT event_type, n,
  CAST(SUM(CASE WHEN az > {ANOMALY_Z} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_anomalies,
  round(MAX(az), 6) AS max_abs_z,
  round(mean_c / 100.0, 4) AS mean_value
FROM zs
GROUP BY event_type, n, mean_c
"""


def variance_decomposition(events: DataFrame) -> DataFrame:
    """Between/within variance decomposition of value across event
    types (the one-way-ANOVA split): every sum of squares derives from
    the same exact per-group BIGINT moments as `linear_fit` — one
    grouped aggregation plus a 1-row combine, no second scan. Emits the
    decomposition identity terms and the between-share; cross-engine
    exactness comes from integer moments and identical final division
    order."""
    y = F.round(F.col("value") * 100).cast("long")
    grp = (
        events.select("event_type", y.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("sy"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    tot = grp.agg(
        F.sum("n").alias("n_t"),
        F.sum("sy").alias("sy_t"),
        F.sum("syy").alias("syy_t"),
        F.count(F.lit(1)).alias("k"),
        # within-SS numerator in exact integers: sum over groups of
        # (n*syy - sy^2)/n — kept as double per group, exact inputs
        F.sum(
            (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy").cast("double"))
            / F.col("n")
        ).alias("ss_within_c2"),
    )
    ss_total = (
        F.col("syy_t") - F.col("sy_t") * F.col("sy_t").cast("double") / F.col("n_t")
    )
    ss_between = ss_total - F.col("ss_within_c2")
    return tot.select(
        F.col("k").cast("long").alias("n_groups"),
        F.col("n_t").alias("n_rows"),
        F.round(ss_total / 10000.0, 4).alias("ss_total"),
        F.round(F.col("ss_within_c2") / 10000.0, 4).alias("ss_within"),
        F.round(ss_between / 10000.0, 4).alias("ss_between"),
        F.round(ss_between / ss_total, 6).alias("between_share"),
    )


VARIANCE_DECOMP_SQL = """
WITH grp AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sy,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)
                  * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS syy
  FROM events GROUP BY event_type
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_t, CAST(SUM(sy) AS BIGINT) AS sy_t,
         CAST(SUM(syy) AS BIGINT) AS syy_t, COUNT(*) AS k,
         SUM((n * syy - sy * CAST(sy AS DOUBLE)) / n) AS ss_within_c2
  FROM grp
)
SELECT CAST(k AS BIGINT) AS n_groups, n_t AS n_rows,
  round((syy_t - sy_t * CAST(sy_t AS DOUBLE) / n_t) / 10000.0, 4) AS ss_total,
  round(ss_within_c2 / 10000.0, 4) AS ss_within,
  round(((syy_t - sy_t * CAST(sy_t AS DOUBLE) / n_t) - ss_within_c2)
        / 10000.0, 4) AS ss_between,
  round(((syy_t - sy_t * CAST(sy_t AS DOUBLE) / n_t) - ss_within_c2)
        / (syy_t - sy_t * CAST(sy_t AS DOUBLE) / n_t), 6) AS between_share
FROM tot
"""


def weighted_median(lineitem: DataFrame) -> DataFrame:
    """Quantity-weighted median price per return flag — the weighted
    quantile, computed scale-aware: the fact reduces to a (flag, price)
    HISTOGRAM first (one agg; the window then walks distinct prices,
    not rows), cumulative weight picks the first price covering half
    the total. All integer cents/units — exact and engine-identical."""
    hist = lineitem.groupBy(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
    ).agg(F.sum(F.round(F.col("l_quantity")).cast("long")).alias("w"))
    tot = hist.groupBy("l_returnflag").agg(F.sum("w").alias("tot_w"))
    wspec = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum_w", F.sum("w").over(wspec)).join(
        F.broadcast(tot), "l_returnflag"
    )
    return (
        cum.filter(F.col("cum_w") * 2 >= F.col("tot_w"))
        .groupBy("l_returnflag", "tot_w")
        .agg(F.min("price_c").alias("med_c"))
        .select(
            "l_returnflag",
            (F.col("med_c") / 100.0).alias("weighted_median_price"),
            F.col("tot_w").alias("total_weight"),
        )
    )


WEIGHTED_MEDIAN_SQL = """
WITH hist AS (
  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
         CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
),
tot AS (
  SELECT l_returnflag, CAST(SUM(w) AS BIGINT) AS tot_w FROM hist GROUP BY 1
),
cum AS (
  SELECT h.l_returnflag, h.price_c, t.tot_w,
         CAST(SUM(h.w) OVER (PARTITION BY h.l_returnflag ORDER BY h.price_c
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_w
  FROM hist h JOIN tot t USING (l_returnflag)
)
SELECT l_returnflag, MIN(price_c) / 100.0 AS weighted_median_price,
       tot_w AS total_weight
FROM cum WHERE cum_w * 2 >= tot_w
GROUP BY l_returnflag, tot_w
"""


def fulfillment_lag(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Operational latency: order-date to ship-date lag per order
    priority — integer day deltas (exact), one orderkey join + one agg.
    The lag percentile uses the same exact interpolated `percentile`
    seam as `winsorize_values`."""
    joined = lineitem.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("lag_days"),
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.min("lag_days").alias("min_days"),
            F.max("lag_days").alias("max_days"),
            F.round(
                F.sum("lag_days") / F.count(F.lit(1)).cast("double"), 6
            ).alias("mean_days"),
            F.round(F.expr("percentile(lag_days, 0.9)"), 4).alias("p90_days"),
        )
    )


FULFILLMENT_LAG_SQL = """
WITH lags AS (
  SELECT o_orderpriority,
         date_diff('day', o_orderdate, l_shipdate) AS lag_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT o_orderpriority, COUNT(*) AS n_lines,
  CAST(MIN(lag_days) AS BIGINT) AS min_days,
  CAST(MAX(lag_days) AS BIGINT) AS max_days,
  round(CAST(SUM(lag_days) AS BIGINT) / CAST(COUNT(*) AS DOUBLE), 6)
    AS mean_days,
  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY lag_days), 4) AS p90_days
FROM lags GROUP BY o_orderpriority
"""


def discount_effect(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Does discounting move quantity, per brand: corr(discount, qty)
    plus exact conditional means at high/low discount — the join is a
    broadcast dim, everything else is one aggregation. corr is the
    mergeable-moment sketch (rounded for accumulation-order noise, same
    discipline as stats_kit)."""
    hi = F.col("l_discount") >= 0.05
    joined = lineitem.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    qty = F.round(F.col("l_quantity")).cast("long")
    return (
        joined.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.corr("l_discount", "l_quantity"), 6).alias("corr_disc_qty"),
            F.round(
                F.sum(F.when(hi, qty)).cast("double")
                / F.sum(hi.cast("long")),
                6,
            ).alias("mean_qty_hi_disc"),
            F.round(
                F.sum(F.when(~hi, qty)).cast("double")
                / F.sum((~hi).cast("long")),
                6,
            ).alias("mean_qty_lo_disc"),
        )
    )


DISCOUNT_EFFECT_SQL = """
SELECT p_brand AS brand, COUNT(*) AS n,
  round(corr(l_discount, l_quantity), 6) AS corr_disc_qty,
  round(CAST(SUM(CASE WHEN l_discount >= 0.05
                      THEN CAST(round(l_quantity) AS BIGINT) END) AS DOUBLE)
        / SUM(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END), 6)
    AS mean_qty_hi_disc,
  round(CAST(SUM(CASE WHEN NOT (l_discount >= 0.05)
                      THEN CAST(round(l_quantity) AS BIGINT) END) AS DOUBLE)
        / SUM(CASE WHEN NOT (l_discount >= 0.05) THEN 1 ELSE 0 END), 6)
    AS mean_qty_lo_disc
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def null_kit(orders: DataFrame) -> DataFrame:
    """NULL-semantics surface (§2.7): COUNT(*) vs COUNT(col), SUM/AVG
    ignoring NULLs, COALESCE defaults, and null-flag counting — over a
    synthesized nullable column (NULLIF) so the semantics are exercised
    on a table with no natural NULLs."""
    np = F.nullif(F.col("o_totalprice"), F.lit(0.0))
    nk = F.nullif((F.col("o_orderkey") % 10).cast("long"), F.lit(0))
    return orders.select(
        F.col("o_orderstatus"), nk.alias("nk"),
        F.round(np, 2).alias("np"),
    ).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("nk").alias("n_nonnull_keys"),
        F.sum(F.col("nk").isNull().cast("long")).alias("n_null_keys"),
        F.sum(F.coalesce("nk", F.lit(-1))).alias("sum_with_default"),
        (
            F.sum(F.round(F.coalesce("np", F.lit(0.0)) * 100).cast("long")) / 100.0
        ).alias("_s"),
    ).select(
        "o_orderstatus",
        "n_rows",
        "n_nonnull_keys",
        "n_null_keys",
        "sum_with_default",
        F.round("_s", 2).alias("price_sum"),
    )


NULL_KIT_SQL = """
SELECT o_orderstatus,
  COUNT(*) AS n_rows,
  COUNT(NULLIF(o_orderkey % 10, 0)) AS n_nonnull_keys,
  CAST(SUM(CASE WHEN NULLIF(o_orderkey % 10, 0) IS NULL THEN 1 ELSE 0 END)
       AS BIGINT) AS n_null_keys,
  CAST(SUM(COALESCE(NULLIF(o_orderkey % 10, 0), -1)) AS BIGINT)
    AS sum_with_default,
  round(SUM(CAST(round(COALESCE(round(NULLIF(o_totalprice, 0.0), 2), 0.0) * 100)
                 AS BIGINT)) / 100.0, 2) AS price_sum
FROM orders
GROUP BY o_orderstatus
"""


def returned_revenue(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10-shaped: top customers by revenue lost to returns
    (l_returnflag = 'R'). The returnflag filter pushes into the fact
    scan; customer and nation broadcast; the only big shuffle is the
    lineitem<->orders orderkey join; the final top-k is a
    TakeOrderedAndProject over exact integer revenue (deterministic
    ordering, c_custkey tie-break)."""
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey")
        )
        .join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(rev).alias("_r"),
            F.count(F.lit(1)).alias("n_returned_items"),
        )
        .orderBy(F.desc("_r"), "c_custkey")
        .limit(k)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round(F.col("_r") / 10000.0, 4).alias("lost_revenue"),
            "n_returned_items",
        )
    )


RETURNED_REVENUE_SQL = """
SELECT c_custkey, c_name, n_name,
  round(CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) AS BIGINT) / 10000.0, 4) AS lost_revenue,
  COUNT(*) AS n_returned_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
  DESC, c_custkey
LIMIT 20
"""


def top_suppliers(supplier: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q15-shaped: the supplier(s) whose revenue equals the global
    maximum per-supplier revenue. The per-supplier aggregate computes
    once; the 1-row MAX re-aggregates the (small) per-supplier frame and
    broadcasts back — never an empty-partitionBy window over the fact.
    Exact integer revenue makes the equality comparison engine-safe."""
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    per_supp = lineitem.groupBy("l_suppkey").agg(F.sum(rev).alias("_r"))
    top = per_supp.agg(F.max("_r").alias("_max_r"))
    return (
        per_supp.join(F.broadcast(top))
        .filter(F.col("_r") == F.col("_max_r"))
        .join(
            F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("_r") / 10000.0, 4).alias("total_revenue"),
        )
    )


TOP_SUPPLIERS_SQL = """
WITH per_supp AS (
  SELECT l_suppkey,
    CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
      AS BIGINT) AS r
  FROM lineitem GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, round(r / 10000.0, 4) AS total_revenue
FROM per_supp JOIN supplier ON l_suppkey = s_suppkey
WHERE r = (SELECT MAX(r) FROM per_supp)
"""


def disjunctive_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19-shaped: revenue over an OR-of-ANDs predicate — three
    (brand, size band, quantity band) alternatives. The shape exercises
    Catalyst's handling of disjunctive join-residual predicates: the
    common l_partkey = p_partkey conjunct drives a broadcast hash join,
    the disjunction evaluates as a residual filter, and the shared
    quantity/size bounds still push down as range filters."""
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    alt1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1, 15)
    )
    alt2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(5, 20)
        & F.col("l_quantity").between(10, 25)
    )
    alt3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(15, 35)
        & F.col("l_quantity").between(20, 35)
    )
    return (
        lineitem.join(
            F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
        )
        .filter(alt1 | alt2 | alt3)
        .agg(
            F.round(F.sum(rev) / 10000.0, 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


DISJUNCTIVE_REVENUE_SQL = """
SELECT
  round(CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) AS BIGINT) / 10000.0, 4) AS revenue,
  COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20
       AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 15 AND 35
       AND l_quantity BETWEEN 20 AND 35)
"""


def late_shipment_priority(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q12-shaped: of lines shipped more than a year after their
    order date (the testdata has no shipmode/commitdate columns, so
    lateness is ship-vs-order lag), how many belong to critical-priority
    orders vs not, per line status. One orderkey join, one small agg;
    the date arithmetic is engine-exact (day-granularity timestamps)."""
    late = F.col("l_shipdate") >= F.col("o_orderdate") + F.expr(
        "INTERVAL 365 DAYS"
    )
    critical = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(late)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(critical, F.lit(1))).alias("critical_lines"),
            F.count(F.when(~critical, F.lit(1))).alias("noncritical_lines"),
        )
    )


LATE_SHIPMENT_PRIORITY_SQL = """
SELECT l_linestatus,
  COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END)
    AS critical_lines,
  COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END)
    AS noncritical_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= o_orderdate + INTERVAL 365 DAY
GROUP BY l_linestatus
"""


def forecast_revenue_change(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q6-shaped: revenue delta from removing a discount band —
    SUM(extendedprice * discount) over a (year, discount band, quantity
    cap) slice. The pure pushdown probe: every predicate is a range
    filter that must reach the parquet scan, and the whole query is one
    partial+final aggregate over the filtered rows."""
    rev = F.round(
        F.col("l_extendedprice") * F.col("l_discount") * 10000
    ).cast("long")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(rev) / 10000.0, 4).alias("revenue_delta"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


FORECAST_REVENUE_CHANGE_SQL = """
SELECT
  round(CAST(SUM(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT))
        AS BIGINT) / 10000.0, 4) AS revenue_delta,
  COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""
