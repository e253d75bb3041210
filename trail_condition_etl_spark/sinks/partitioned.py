"""Date-partitioned table layout: idempotent daily backfill via dynamic
partition overwrite, partition-pruned reads, and small-file compaction.

The reference's daily-historical source re-fetches whole days and
re-writes them (S3: fetch-weather/src/tasks.py daily flow; DESIGN.md
"idempotent upsert" claim) — the lakehouse form of that idiom is a table
partitioned by event date where a backfill overwrites ONLY the days it
carries:

* `spark.sql.sources.partitionOverwriteMode=dynamic` makes
  `mode("overwrite")` replace just the partition directories present in
  the incoming frame — re-running a day is byte-idempotent and every
  other day is untouched (the 100 TB equivalent of the reference's
  re-fetch-a-day semantics);
* readers filter on the partition column and Catalyst prunes to the
  matching directories (`PartitionFilters` in the scan) — a one-week
  read of a 10-year table touches 7 directories, not 3650;
* streaming/micro-batch appends leave many small files per partition;
  `compact_day_partitions` rewrites each day to one file per partition
  clustered task (compact-then-swap, same crash-safe pattern as
  sinks/dlq.trim_dlq) without changing table contents.

tests/test_sinks.py pins the behaviors; tests/test_plans.py pins the
pruned plan shape (PartitionFilters non-empty, only matching days read).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import artifacts
from .. import catalog

DATE_COL = "event_date"


def write_day_partitioned(
    df: DataFrame, path: str, date_col: str = DATE_COL
) -> None:
    """Backfill write: dynamic partition overwrite keyed on the date
    column — only the days present in `df` are replaced."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    df.write.partitionBy(date_col).mode("overwrite").parquet(path)


def read_day_range(
    spark: SparkSession,
    path: str,
    start_date: str,
    end_date: str,
    date_col: str = DATE_COL,
) -> DataFrame:
    """Partition-pruned read: the BETWEEN lands in PartitionFilters, so
    only the matching date directories are listed and scanned."""
    return spark.read.parquet(path).filter(
        F.col(date_col).between(F.lit(start_date), F.lit(end_date))
    )


def compact_day_partitions(
    spark: SparkSession, path: str, date_col: str = DATE_COL
) -> int:
    """Small-file compaction: rewrite every partition with its rows
    clustered into one task (repartition on the partition column =>
    one output file per day), then atomically swap directories. Content
    is unchanged; returns the number of data files after compaction.

    At 100 TB this runs per-partition-range as a maintenance job (and
    with Delta/Iceberg becomes OPTIMIZE/rewrite_data_files); plain
    parquet needs the swap because readers must never observe a
    half-compacted table."""
    df = spark.read.parquet(path).repartition(date_col)
    tmp = path.rstrip("/") + ".compact"
    df.write.partitionBy(date_col).mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".old"
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old)
    return sum(
        1
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def daily_events(events: DataFrame) -> DataFrame:
    """Events projected onto the partition layout: event_date derived
    from the (UTC-pinned) event timestamp."""
    return events.select(
        F.to_date("ts").alias(DATE_COL),
        "event_type",
        "user_id",
        "value",
    )


def partition_pruning_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-query form: lay out events date-partitioned, then read
    one week back through the pruned path and aggregate per day. The scan
    carries PartitionFilters (pinned by tests/test_plans.py) — at scale
    the read cost is the week, not the table."""
    events = catalog.load_table(spark, sf_dir, "events")
    root = artifacts.scratch_dir("day_partitioned_")
    path = os.path.join(root, "events_by_day")
    write_day_partitioned(daily_events(events), path)
    week = read_day_range(spark, path, "2024-01-10", "2024-01-16")
    return (
        week.groupBy(DATE_COL, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
                "v"
            ),
        )
        .select(
            F.date_format(DATE_COL, "yyyy-MM-dd").alias(DATE_COL),
            "event_type",
            "n_events",
            "n_users",
            F.round("v", 2).alias("value_sum"),
        )
    )


def rollup_new_days(
    spark: SparkSession,
    events_path: str,
    rollup_path: str,
    date_col: str = DATE_COL,
) -> int:
    """Incrementally maintain a per-(day, event_type) aggregate table:
    aggregate ONLY the source days absent from the rollup and
    dynamic-overwrite those days into it. Returns the number of new days
    processed.

    The day list is one row per existing partition (bounded: a decade is
    ~3.6k values), so the NOT-IN lands in the source's PartitionFilters —
    at 100 TB each maintenance run reads yesterday, not history. Re-run
    after a backfill rewrote an old day? Pass `recompute_days` via the
    same dynamic-overwrite path (the day's rollup rows are replaced
    wholesale, so the operation is idempotent per day)."""
    src = spark.read.parquet(events_path)
    have: list = []
    if os.path.exists(rollup_path):
        have = [
            r[0]
            for r in spark.read.parquet(rollup_path)
            .select(date_col)
            .distinct()
            .collect()
        ]
    new = src.filter(~F.col(date_col).isin(have)) if have else src
    agg = (
        new.groupBy(date_col, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
                "_v"
            ),
        )
        .select(
            date_col,
            "event_type",
            "n_events",
            "n_users",
            F.round("_v", 2).alias("value_sum"),
        )
    )
    n_new = agg.select(date_col).distinct().count()
    if n_new:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        agg.write.partitionBy(date_col).mode("overwrite").parquet(rollup_path)
    return n_new


def incremental_rollup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-query form: lay out events date-partitioned, maintain
    the daily rollup in TWO waves (first half of the month, then the
    full table — the second run must aggregate only the days the first
    didn't cover), and return the final rollup. The oracle recomputes
    the whole aggregate directly, so any day double-counted, skipped, or
    stale after the incremental path breaks parity."""
    events = catalog.load_table(spark, sf_dir, "events")
    daily = daily_events(events)
    root = artifacts.scratch_dir("incr_rollup_")
    events_path = os.path.join(root, "events_by_day")
    rollup_path = os.path.join(root, "rollup_by_day")

    write_day_partitioned(daily.filter(F.col(DATE_COL) <= "2024-01-15"), events_path)
    rollup_new_days(spark, events_path, rollup_path)
    write_day_partitioned(daily, events_path)
    rollup_new_days(spark, events_path, rollup_path)

    out = spark.read.parquet(rollup_path)
    return out.select(
        F.date_format(DATE_COL, "yyyy-MM-dd").alias(DATE_COL),
        "event_type",
        "n_events",
        "n_users",
        "value_sum",
    )


INCREMENTAL_ROLLUP_SQL = """
SELECT strftime(CAST(make_timestamp(epoch_us(ts)) AS DATE), '%Y-%m-%d')
         AS event_date,
  event_type,
  COUNT(*) AS n_events,
  COUNT(DISTINCT user_id) AS n_users,
  round(SUM(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS value_sum
FROM events
GROUP BY 1, 2
"""


PARTITION_PRUNING_SQL = """
SELECT strftime(CAST(make_timestamp(epoch_us(ts)) AS DATE), '%Y-%m-%d')
         AS event_date,
  event_type,
  COUNT(*) AS n_events,
  COUNT(DISTINCT user_id) AS n_users,
  round(SUM(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS value_sum
FROM events
WHERE CAST(make_timestamp(epoch_us(ts)) AS DATE)
      BETWEEN DATE '2024-01-10' AND DATE '2024-01-16'
GROUP BY 1, 2
"""
