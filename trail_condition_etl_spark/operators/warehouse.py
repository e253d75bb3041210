"""Warehouse-maintenance operators: equi-width histogram profiling,
snapshot reconciliation (CDC-style diff), and SCD2 dimension build.

The reference keeps one mutable row per city and overwrites it in place
(`categorize-trail-conditions/src/repository.py` upsert) — no history,
no reconciliation. These operators are what a warehouse needs the moment
that state matters at scale:

* `price_histogram` — data profiling as one partial+final aggregation
  (the bucket id is a narrow per-row expression; no shuffle before the
  11-group agg);
* `snapshot_diff` — full-outer key reconciliation between two table
  versions, the audit for any idempotent-upsert sink (sinks/manifest.py):
  one co-partitioned join on the key, classification is a narrow CASE;
* `scd2_build` — type-2 slowly-changing dimension from an event log:
  change-point detection (lag) + validity intervals (lead) in two window
  passes over ONE (user_id, ts) clustering — a single shuffle, the same
  plan shape as sessionize.

All outputs are exact across engines: timestamps formatted at full
microsecond precision, sums integer-scaled, booleans emitted as bools.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BUCKET_WIDTH = 10_000.0
TS_US_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def price_histogram(lineitem: DataFrame) -> DataFrame:
    """Equi-width histogram of l_extendedprice (bucket = floor(x/width)):
    per-bucket count, exact sum, and bounds. One scan, one 11-group agg."""
    bucket = F.floor(F.col("l_extendedprice") / BUCKET_WIDTH)
    return (
        lineitem.groupBy(bucket.alias("bucket_id"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")) / 100.0).alias(
                "sum_price"
            ),
        )
        .select(
            "bucket_id",
            (F.col("bucket_id") * BUCKET_WIDTH).alias("bucket_lo"),
            ((F.col("bucket_id") + 1) * BUCKET_WIDTH).alias("bucket_hi"),
            "n_items",
            F.round("sum_price", 2).alias("sum_price"),
        )
    )


PRICE_HISTOGRAM_SQL = """
SELECT
  CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS bucket_id,
  CAST(floor(l_extendedprice / 10000.0) AS BIGINT) * CAST(10000 AS DOUBLE) AS bucket_lo,
  (CAST(floor(l_extendedprice / 10000.0) AS BIGINT) + 1) * CAST(10000 AS DOUBLE) AS bucket_hi,
  COUNT(*) AS n_items,
  round(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2) AS sum_price
FROM lineitem
GROUP BY 1
"""


def _snapshots(orders: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Two deterministic versions of the orders table (the testdata has
    no change feed, so versions are carved from the key space): rows
    leave (key % 7 == 0 only in old), arrive (key % 5 == 0 only in new),
    and change value (key % 3 == 0 bumped in new)."""
    base = orders.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price")
    )
    old = base.filter(F.col("o_orderkey") % 7 != 0)
    new = base.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "price",
        F.when(F.col("o_orderkey") % 3 == 0, F.round(F.col("price") + 1.0, 2))
        .otherwise(F.col("price")),
    )
    return old, new


def snapshot_diff(orders: DataFrame) -> DataFrame:
    """Reconcile two snapshots: full-outer join on the key, classify each
    key added/removed/changed/unchanged, summarize per status. At 100 TB
    both sides shuffle once on the key (or zero times if both snapshots
    are bucketed by it — see operators/bucketing.py)."""
    old, new = _snapshots(orders)
    joined = old.withColumnRenamed("price", "old_price").join(
        new.withColumnRenamed("price", "new_price"), "o_orderkey", "full_outer"
    )
    classified = joined.select(
        "o_orderkey",
        F.when(F.col("old_price").isNull(), "added")
        .when(F.col("new_price").isNull(), "removed")
        .when(F.col("old_price") != F.col("new_price"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return classified.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


SNAPSHOT_DIFF_SQL = """
WITH base AS (
  SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders
),
old AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN round(price + 1.0, 2) ELSE price END AS price
  FROM base WHERE o_orderkey % 5 <> 0
),
classified AS (
  SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
    CASE WHEN old.o_orderkey IS NULL THEN 'added'
         WHEN new.o_orderkey IS NULL THEN 'removed'
         WHEN old.price <> new.price THEN 'changed'
         ELSE 'unchanged' END AS status
  FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
)
SELECT status, COUNT(*) AS n_keys, MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM classified GROUP BY status
"""


def scd2_build(events: DataFrame) -> DataFrame:
    """Type-2 SCD from an event log: each run of equal event_type per
    user becomes one validity interval [valid_from, valid_to), open for
    the latest regime. Change-point via lag, interval close via lead —
    both windows share the (user_id, ts) sort, so Catalyst plans one
    shuffle + one sort."""
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = events.select("user_id", "event_id", "ts", "event_type").withColumn(
        "is_change",
        (
            F.lag("event_type").over(by_user).isNull()
            | (F.col("event_type") != F.lag("event_type").over(by_user))
        ).cast("int"),
    )
    starts = changed.filter(F.col("is_change") == 1)
    by_user_starts = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        starts.withColumn("valid_to_ts", F.lead("ts").over(by_user_starts))
        .select(
            "user_id",
            "event_type",
            F.date_format("ts", TS_US_FMT).alias("valid_from"),
            F.coalesce(
                F.date_format("valid_to_ts", TS_US_FMT), F.lit("9999-12-31")
            ).alias("valid_to"),
            F.col("valid_to_ts").isNull().alias("is_current"),
        )
    )


SCD2_BUILD_SQL = """
WITH events_us AS (
  SELECT event_id, make_timestamp(epoch_us(ts)) AS ts, user_id, event_type
  FROM events
),
changed AS (
  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                   OR event_type <> lag(event_type) OVER w
                 THEN 1 ELSE 0 END AS is_change
  FROM events_us
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
starts AS (SELECT * FROM changed WHERE is_change = 1)
SELECT user_id, event_type,
  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
  COALESCE(strftime(lead(ts) OVER w2, '%Y-%m-%d %H:%M:%S.%f'), '9999-12-31')
    AS valid_to,
  lead(ts) OVER w2 IS NULL AS is_current
FROM starts
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def winsorize_values(events: DataFrame, lo: float = 0.05, hi: float = 0.95) -> DataFrame:
    """Outlier repair: clamp `value` to the per-event_type [p05, p95]
    interpolated percentiles and report the clamp counts + clamped mean.
    The percentile pass is one grouped agg (exact percentile needs the
    group's values — at 100 TB swap in approx_percentile with a pinned
    error budget, same plan shape); the repair pass re-joins the tiny
    per-type bounds via broadcast, so the fact table never shuffles."""
    pct = events.groupBy("event_type").agg(
        F.expr(f"percentile(value, {lo})").alias("p_lo"),
        F.expr(f"percentile(value, {hi})").alias("p_hi"),
    )
    clamped = (
        events.join(F.broadcast(pct), "event_type")
        .withColumn("v_clamp", F.least(F.greatest("value", F.col("p_lo")), F.col("p_hi")))
        .withColumn("is_lo", (F.col("value") < F.col("p_lo")).cast("long"))
        .withColumn("is_hi", (F.col("value") > F.col("p_hi")).cast("long"))
    )
    return (
        clamped.groupBy("event_type")
        .agg(
            F.round(F.first("p_lo"), 6).alias("p_lo"),
            F.round(F.first("p_hi"), 6).alias("p_hi"),
            F.sum("is_lo").alias("n_clamped_lo"),
            F.sum("is_hi").alias("n_clamped_hi"),
            (
                F.sum(F.round(F.col("v_clamp") * 1_000_000).cast("long"))
                / 1_000_000.0
                / F.count(F.lit(1))
            ).alias("mean_raw"),
        )
        .select(
            "event_type",
            "p_lo",
            "p_hi",
            "n_clamped_lo",
            "n_clamped_hi",
            F.round("mean_raw", 6).alias("clamped_mean"),
        )
    )


WINSORIZE_SQL = """
WITH pct AS (
  SELECT event_type,
         percentile_cont(0.05) WITHIN GROUP (ORDER BY value) AS p_lo,
         percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS p_hi
  FROM events GROUP BY event_type
),
clamped AS (
  SELECT e.event_type,
         least(greatest(e.value, p.p_lo), p.p_hi) AS v_clamp,
         CAST(e.value < p.p_lo AS BIGINT) AS is_lo,
         CAST(e.value > p.p_hi AS BIGINT) AS is_hi,
         p.p_lo, p.p_hi
  FROM events e JOIN pct p USING (event_type)
)
SELECT event_type,
       round(ANY_VALUE(p_lo), 6) AS p_lo,
       round(ANY_VALUE(p_hi), 6) AS p_hi,
       CAST(SUM(is_lo) AS BIGINT) AS n_clamped_lo,
       CAST(SUM(is_hi) AS BIGINT) AS n_clamped_hi,
       round(CAST(SUM(CAST(round(v_clamp * 1000000) AS BIGINT)) AS BIGINT)
             / 1000000.0 / COUNT(*), 6) AS clamped_mean
FROM clamped GROUP BY event_type
"""


PROFILE_COLS = [
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def profile_table(orders: DataFrame) -> DataFrame:
    """ANALYZE-style column profile in ONE scan: per column, null count,
    exact distinct count, numeric min/max (epoch seconds for timestamps,
    length bounds for strings). All statistics partial-aggregate
    map-side, so the scan streams once and the shuffle carries one row.
    String min/max are reported as lengths, not values — value-level
    extremes of doubles/strings are formatting traps across engines and
    belong to the typed queries."""
    aggs = []
    for name, kind in PROFILE_COLS:
        c = F.col(name)
        num = (
            c.cast("long").cast("double")
            if kind == "ts"
            else c.cast("double")
            if kind == "num"
            else F.length(c).cast("double")
        )
        aggs += [
            F.sum(c.isNull().cast("long")).alias(f"{name}__nulls"),
            F.count_distinct(c).alias(f"{name}__distinct"),
            F.min(num).alias(f"{name}__min"),
            F.max(num).alias(f"{name}__max"),
        ]
    one = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', {name}__nulls, {name}__distinct, {name}__min, {name}__max"
        for name, _ in PROFILE_COLS
    )
    return one.select(
        F.expr(
            f"stack({len(PROFILE_COLS)}, {stack_args}) AS "
            "(column_name, n_nulls, n_distinct, min_num, max_num)"
        )
    )


def _profile_sql() -> str:
    parts = []
    for name, kind in PROFILE_COLS:
        if kind == "ts":
            num = f"CAST(epoch_us({name}) // 1000000 AS DOUBLE)"
        elif kind == "num":
            num = f"CAST({name} AS DOUBLE)"
        else:
            num = f"CAST(length({name}) AS DOUBLE)"
        parts.append(
            f"SELECT '{name}' AS column_name,"
            f" CAST(SUM(CAST({name} IS NULL AS INT)) AS BIGINT) AS n_nulls,"
            f" COUNT(DISTINCT {name}) AS n_distinct,"
            f" MIN({num}) AS min_num, MAX({num}) AS max_num FROM orders"
        )
    return "\nUNION ALL\n".join(parts)


PROFILE_TABLE_SQL = _profile_sql()


def scd2_lookup(events: DataFrame) -> DataFrame:
    """Point-in-time (temporal) join: each purchase fact is attached to
    the SCD2 regime (see `scd2_build`) active at its timestamp.

    The join is EQUI on user_id with the interval containment as a
    residual predicate — per-user regime counts are bounded (intervals
    tile the timeline), so the match fan-in stays linear. This is the
    standard warehouse "fact x SCD2 dimension" lookup the reference's
    point-read (`categorize-trail-conditions/src/repository.py` get by
    city) can't express over history.
    """
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = events.select("user_id", "event_id", "ts", "event_type").withColumn(
        "is_change",
        (
            F.lag("event_type").over(by_user).isNull()
            | (F.col("event_type") != F.lag("event_type").over(by_user))
        ).cast("int"),
    )
    dim = (
        changed.filter(F.col("is_change") == 1)
        .withColumn("valid_to_ts", F.lead("ts").over(by_user))
        .select(
            F.col("user_id").alias("d_user_id"),
            F.col("event_type").alias("regime"),
            F.col("ts").alias("valid_from_ts"),
            "valid_to_ts",
        )
    )
    facts = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return (
        facts.join(
            dim,
            (facts.user_id == dim.d_user_id)
            & (dim.valid_from_ts <= facts.ts)
            & (dim.valid_to_ts.isNull() | (facts.ts < dim.valid_to_ts)),
        )
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", TS_US_FMT).alias("fact_ts"),
            "regime",
            F.date_format("valid_from_ts", TS_US_FMT).alias("regime_since"),
            F.round("value", 2).alias("value"),
        )
    )


SCD2_LOOKUP_SQL = """
WITH events_us AS (
  SELECT event_id, make_timestamp(epoch_us(ts)) AS ts, user_id, event_type,
         value
  FROM events
),
changed AS (
  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                   OR event_type <> lag(event_type) OVER w
                 THEN 1 ELSE 0 END AS is_change
  FROM events_us
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
dim AS (
  SELECT user_id AS d_user_id, event_type AS regime, ts AS valid_from_ts,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to_ts
  FROM changed WHERE is_change = 1
)
SELECT f.event_id, f.user_id,
  strftime(f.ts, '%Y-%m-%d %H:%M:%S.%f') AS fact_ts,
  d.regime,
  strftime(d.valid_from_ts, '%Y-%m-%d %H:%M:%S.%f') AS regime_since,
  round(f.value, 2) AS value
FROM events_us f
JOIN dim d ON f.user_id = d.d_user_id
          AND d.valid_from_ts <= f.ts
          AND (d.valid_to_ts IS NULL OR f.ts < d.valid_to_ts)
WHERE f.event_type = 'purchase'
"""
