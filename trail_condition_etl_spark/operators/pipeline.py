"""Pipeline-shaped operators: task envelopes, DLQ policy, dedup,
scheduler projection, JSON/scalar function kit.

These re-express the reference's streaming-resilience semantics
(SURVEY.md §2.8/§2.9) as deterministic batch dataflow over the driver's
`events` table standing in for a task stream. The streaming forms (real
watermarks / dropDuplicatesWithinWatermark) live in
``trail_condition_etl_spark.streaming``; the batch forms here are the
oracle-checkable equivalents (SURVEY.md §7 design stance: batch-first,
streaming semantics as incremental batch).

Envelope derivation: an event row becomes a QueuedTask-shaped envelope
(fetch-weather/tests/conftest.py:239-245) with
``_delivery_count = event_id % 8`` and ``_enqueued_ts = ts``; "now" is
the deterministic anchor max(ts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Reference policy constants
MAX_DELIVERY_COUNT = 6  # fetch-weather/src/config.py:37
EXPIRED_TASK_SECONDS = 86_400  # fetch-weather/src/config.py:43


def dlq_route(events: DataFrame) -> DataFrame:
    """T3 (poison-pill) + T4 (expiry) routing — the ResilientTaskWorker
    DLQ policy (fetch-weather/src/tasks.py:121-130,
    categorize-trail-conditions/src/tasks.py:105-121) as one expression:

      delivery_count > max      -> 'dlq_poison'
      age > 24h at process time -> 'dlq_expired'
      else                      -> 'process'

    Emits per-(route, event_type) counts — the monitoring view a DLQ
    consumer would read. Pure narrow ops + one aggregation.
    """
    anchor = events.agg(F.max("ts").alias("anchor_ts"))
    env = events.crossJoin(F.broadcast(anchor)).select(
        "event_id",
        "event_type",
        (F.col("event_id") % 8).cast("int").alias("_delivery_count"),
        F.col("ts").alias("_enqueued_ts"),
        "anchor_ts",
    )
    age_s = F.col("anchor_ts").cast("long") - F.col("_enqueued_ts").cast("long")
    route = (
        F.when(F.col("_delivery_count") > MAX_DELIVERY_COUNT, "dlq_poison")
        .when(age_s > EXPIRED_TASK_SECONDS, "dlq_expired")
        .otherwise("process")
    )
    return (
        env.withColumn("route", route)
        .groupBy("route", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_tasks"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )


DLQ_ROUTE_SQL = """
WITH events_us AS (
  SELECT event_id, make_timestamp(epoch_us(ts)) AS ts, event_type FROM events
),
anchor AS (SELECT max(ts) AS anchor_ts FROM events_us),
env AS (
  SELECT event_id, event_type,
         CAST(event_id % 8 AS INT) AS dc, ts AS enq, anchor_ts
  FROM events_us, anchor
),
routed AS (
  SELECT *,
    CASE WHEN dc > 6 THEN 'dlq_poison'
         WHEN (epoch_us(anchor_ts) // 1000000) - (epoch_us(enq) // 1000000)
              > 86400 THEN 'dlq_expired'
         ELSE 'process' END AS route
  FROM env
)
SELECT route, event_type, COUNT(*) AS n_tasks,
       MIN(event_id) AS min_event_id, MAX(event_id) AS max_event_id
FROM routed
GROUP BY route, event_type
"""


def dedup_first_delivery(events: DataFrame) -> DataFrame:
    """T5/J4: at-least-once -> effectively-once. Consecutive events share a
    task_id (event_id DIV 3 — redelivery simulation); keep the first
    delivery per task (min ts, then min event_id), count the rest.

    Batch form of ``dropDuplicatesWithinWatermark('task_id')`` /
    the Redis processed-ids set (categorize/src/tasks.py:63-64,78).
    row_number over (task_id) — one shuffle, state bounded per key.
    """
    w = Window.partitionBy("task_id").orderBy("ts", "event_id")
    return (
        events.withColumn("task_id", F.expr("event_id DIV 3"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_deliveries", F.count(F.lit(1)).over(Window.partitionBy("task_id"))
        )
        .filter(F.col("rn") == 1)
        .select(
            "task_id",
            F.col("event_id").alias("first_event_id"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
            "n_deliveries",
        )
    )


DEDUP_SQL = """
WITH events_us AS (
  SELECT event_id, make_timestamp(epoch_us(ts)) AS ts, event_id // 3 AS task_id
  FROM events
),
ranked AS (
  SELECT *,
    row_number() OVER (PARTITION BY task_id ORDER BY ts, event_id) AS rn,
    COUNT(*) OVER (PARTITION BY task_id) AS n_deliveries
  FROM events_us
)
SELECT task_id, event_id AS first_event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts, n_deliveries
FROM ranked WHERE rn = 1
"""


def make_cities(customer: DataFrame) -> DataFrame:
    """Derive the cities dimension (FIXTURES.md §F1) deterministically from
    customer — stands in for the paginated `/cities` API (S1,
    schedule-jobs/scheduler/tasks.py:67-101). The recursive pagination
    loop is replaced by a plain distributed scan: pagination is a
    source-protocol detail, not a dataflow operator, in Spark.
    """
    return customer.select(
        F.col("c_custkey").cast("int").alias("city_id"),
        (F.col("c_acctbal") % 180.0 - 90.0).alias("latitude_deg"),
        ((F.col("c_custkey") * 7 % 360).cast("double") - 180.0).alias(
            "longitude_deg"
        ),
    )


def make_ingestion_tasks(cities: DataFrame, with_task_id: bool = True) -> DataFrame:
    """P11: city row -> OwmIngestionTask projection with a fresh uuid per
    task (schedule-jobs/scheduler/tasks.py:88-95), after O2 set-dedup
    (tasks.py:73-74 accumulates into a set: duplicate city rows collapse).
    """
    tasks = cities.dropDuplicates(["city_id"])
    if with_task_id:
        tasks = tasks.withColumn("task_id", F.expr("uuid()"))
    return tasks


def scheduler_run(customer: DataFrame) -> DataFrame:
    """EP1 as a batch query: dim scan (paged scan simulated as a union of
    two overlapping page ranges) -> set-dedup -> task projection. The
    uuid column is generated but excluded from the deterministic output
    (uuid() is rightly nondeterministic).
    """
    cities = make_cities(customer)
    # simulate overlapping pages: first 60% and last 60% of the key space
    hi = cities.agg(F.max("city_id").alias("m"))
    paged = (
        cities.crossJoin(F.broadcast(hi))
        .filter(F.col("city_id") <= F.col("m") * 0.6)
        .drop("m")
        .unionByName(
            cities.crossJoin(F.broadcast(hi))
            .filter(F.col("city_id") >= F.col("m") * 0.4)
            .drop("m")
        )
    )
    tasks = make_ingestion_tasks(paged)
    return tasks.select(
        "city_id",
        F.round("latitude_deg", 6).alias("latitude_deg"),
        F.round("longitude_deg", 6).alias("longitude_deg"),
    )


SCHEDULER_SQL = """
WITH cities AS (
  SELECT CAST(c_custkey AS INT) AS city_id,
         (c_acctbal % CAST(180.0 AS DOUBLE)) - 90.0 AS latitude_deg,
         CAST(c_custkey * 7 % 360 AS DOUBLE) - 180.0 AS longitude_deg
  FROM customer
),
hi AS (SELECT max(city_id) AS m FROM cities),
paged AS (
  SELECT c.* FROM cities c, hi WHERE city_id <= m * 0.6
  UNION ALL
  SELECT c.* FROM cities c, hi WHERE city_id >= m * 0.4
),
dedup AS (
  SELECT city_id,
         arbitrary(latitude_deg) AS latitude_deg,
         arbitrary(longitude_deg) AS longitude_deg
  FROM paged GROUP BY city_id
)
SELECT city_id, round(latitude_deg, 6) AS latitude_deg,
       round(longitude_deg, 6) AS longitude_deg
FROM dedup
"""


def json_props_stats(events: DataFrame) -> DataFrame:
    """§2.7 JSON kit: get_json_object over the props payload — the Spark
    form of the reference's `.get` chains over OWM dicts
    (fetch-weather/src/api.py:58-59,71-73), with coalesce defaults.
    """
    k = F.coalesce(
        F.get_json_object("props", "$.k").cast("long"), F.lit(0)
    )
    return (
        events.withColumn("k_val", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k_val").alias("sum_k"),
            F.min("k_val").alias("min_k"),
            F.max("k_val").alias("max_k"),
        )
    )


JSON_PROPS_SQL = """
SELECT event_type, COUNT(*) AS n,
  CAST(SUM(COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), 0)) AS BIGINT) AS sum_k,
  MIN(COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), 0)) AS min_k,
  MAX(COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), 0)) AS max_k
FROM events
GROUP BY event_type
"""


def variant_props_stats(events: DataFrame) -> DataFrame:
    """Semi-structured kit, Spark-4 form: `parse_json` encodes the props
    payload ONCE into the binary VariantType; `variant_get` then extracts
    typed fields without re-parsing — at 100 TB this replaces N
    `get_json_object` string re-parses per row with one decode, and the
    variant column is what you'd persist for repeated access. The merged
    `schema_of_variant_agg` output doubles as a drift check: a producer
    changing the payload shape changes the aggregated schema string."""
    with_v = events.withColumn("v", F.parse_json("props"))
    k = F.coalesce(F.variant_get("v", "$.k", "long"), F.lit(0))
    return (
        with_v.withColumn("k_val", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k_val").alias("sum_k"),
            F.count_distinct("k_val").alias("n_distinct_k"),
            F.schema_of_variant_agg("v").alias("merged_schema"),
        )
    )


VARIANT_PROPS_SQL = """
SELECT event_type, COUNT(*) AS n,
  CAST(SUM(COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), 0))
    AS BIGINT) AS sum_k,
  COUNT(DISTINCT COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), 0))
    AS n_distinct_k,
  'OBJECT<k: BIGINT>' AS merged_schema
FROM events
GROUP BY event_type
"""


def datetime_kit(events: DataFrame) -> DataFrame:
    """§2.7 date/time kit in one pass: truncation (P4), extraction,
    formatting, interval arithmetic — grouped by derived hour bucket.

    Mirrors fetch-weather/src/tasks.py:61-62 (hour truncation, previous
    date) and api.py:128-133 (interval bounds).
    """
    return (
        events.select(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_bucket"
            ),
            F.date_format(
                F.date_trunc("hour", "ts") - F.expr("INTERVAL 1 DAY"),
                "yyyy-MM-dd",
            ).alias("previous_date"),
            (F.weekday("ts") + 1).alias("iso_dow"),
            F.col("ts").cast("long").alias("epoch_s"),
        )
        .groupBy("hour_bucket", "previous_date", "iso_dow")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("epoch_s").alias("min_epoch_s"),
            F.max("epoch_s").alias("max_epoch_s"),
        )
    )


DATETIME_KIT_SQL = """
WITH events_us AS (
  SELECT make_timestamp(epoch_us(ts)) AS ts FROM events
)
SELECT
  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
  strftime(date_trunc('hour', ts) - INTERVAL 1 DAY, '%Y-%m-%d') AS previous_date,
  isodow(ts) AS iso_dow,
  COUNT(*) AS n_events,
  MIN(epoch_us(ts) // 1000000) AS min_epoch_s,
  MAX(epoch_us(ts) // 1000000) AS max_epoch_s
FROM events_us
GROUP BY 1, 2, 3
"""


def dlq_redrive_query(spark, sf_dir: str) -> DataFrame:
    """R4 redrive loop end-to-end through the REAL DLQ files: route the
    event envelope (poison/expired/process), append the rejects to a
    parquet DLQ with the failure envelope struct, then select the
    redrive-eligible rows (`error.safe_to_retry` — expiry is retryable,
    poison is not) and summarize them. The oracle replays the routing
    and keeps only the expired set; the write/read roundtrip through
    sinks/dlq.append_dlq + redrive_candidates is what's under test.
    """
    import os

    from .. import catalog
    from . import artifacts
    from ..sinks import dlq as dlq_sink

    events = catalog.load_table(spark, sf_dir, "events")
    anchor = events.agg(F.max("ts").alias("anchor_ts"))
    env = events.crossJoin(F.broadcast(anchor)).select(
        "event_id",
        "event_type",
        (F.col("event_id") % 8).cast("int").alias("_delivery_count"),
        F.col("ts").alias("_enqueued_ts"),
        "anchor_ts",
    )
    age_s = F.col("anchor_ts").cast("long") - F.col("_enqueued_ts").cast("long")
    route = (
        F.when(F.col("_delivery_count") > MAX_DELIVERY_COUNT, "dlq_poison")
        .when(age_s > EXPIRED_TASK_SECONDS, "dlq_expired")
        .otherwise("process")
    )
    rejects = (
        env.withColumn("route", route)
        .filter(F.col("route") != "process")
        .select(
            F.col("event_id").cast("string").alias("task_id"),
            F.lit(0).alias("city_id"),
            F.col("event_type").alias("raw_payload"),
            F.struct(
                F.col("route").alias("exception_type"),
                F.lit("envelope policy").alias("message"),
                F.lit(None).cast("string").alias("traceback"),
                (F.col("route") == "dlq_expired").alias("safe_to_retry"),
            ).alias("error"),
        )
    )
    dlq = os.path.join(artifacts.scratch_dir("dlq_redrive_"), "dlq")
    dlq_sink.append_dlq(spark, dlq, rejects)
    return (
        dlq_sink.redrive_candidates(spark, dlq)
        .groupBy(F.col("raw_payload").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_redrive"),
            F.min(F.col("task_id").cast("long")).alias("min_event_id"),
            F.max(F.col("task_id").cast("long")).alias("max_event_id"),
        )
    )


DLQ_REDRIVE_SQL = """
WITH events_us AS (
  SELECT event_id, make_timestamp(epoch_us(ts)) AS ts, event_type FROM events
),
anchor AS (SELECT max(ts) AS anchor_ts FROM events_us),
env AS (
  SELECT event_id, event_type,
         CAST(event_id % 8 AS INT) AS dc, ts AS enq, anchor_ts
  FROM events_us, anchor
),
routed AS (
  SELECT *,
    CASE WHEN dc > 6 THEN 'dlq_poison'
         WHEN (epoch_us(anchor_ts) // 1000000) - (epoch_us(enq) // 1000000)
              > 86400 THEN 'dlq_expired'
         ELSE 'process' END AS route
  FROM env
)
SELECT event_type, COUNT(*) AS n_redrive,
       MIN(event_id) AS min_event_id, MAX(event_id) AS max_event_id
FROM routed
WHERE route = 'dlq_expired'
GROUP BY event_type
"""
