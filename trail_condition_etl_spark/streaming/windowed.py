"""Watermarked tumbling-window streaming aggregation (SURVEY.md §2.8).

The reference has no windowed stream aggregation — its per-city state is
a lookup table — but any production stream needs "counts/sums per time
bucket, late data handled" (T4's lateness policy applied to aggregation
instead of routing). This is THE canonical Structured Streaming shape:

    readStream -> withWatermark(ts, delay) -> groupBy(window(ts, size))
               -> agg -> append sink

Semantics under append mode (what the oracle replays):
* a window is EMITTED exactly once, when the watermark (max observed
  event time minus the delay) passes its end;
* rows arriving later than the watermark for an already-finalized
  window are DROPPED (pinned by the multi-batch late-row test in
  tests/test_streaming.py, not the oracle — lateness across batches
  depends on batch boundaries, which the single-batch oracle run pins
  to one deterministic outcome);
* windows still inside the watermark delay at end-of-input remain in
  the state store (they would emit on the next incremental run) — so
  the oracle's expected set is windows with end <= max_ts - delay.

Scale: the aggregation state is sharded by (window, event_type) across
executors exactly like a batch groupBy; the watermark bounds state size
(without it, 100 TB of history stays pinned in the state store). Sums
are integer-scaled so replays and the DuckDB oracle match bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import artifacts

WINDOW_SIZE = "1 day"
WATERMARK_DELAY = "2 days"
_DELAY_MS = 2 * 86400 * 1000


def windowed_event_agg(
    stream: DataFrame,
    window_size: str = WINDOW_SIZE,
    watermark: str = WATERMARK_DELAY,
) -> DataFrame:
    """Tumbling-window counts + exact integer-scaled value sums per
    event_type. Works on a streaming OR batch frame (batch ignores the
    watermark — Spark evaluates the same plan with all windows final)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_size), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_c"),
        )
        .select(
            F.col("window.start").cast("long").alias("window_start_s"),
            "event_type",
            "n_events",
            F.round(F.col("value_c") / 100.0, 2).alias("value_sum"),
        )
    )


def run_windowed_agg_available_now(
    spark: SparkSession,
    staging_path: str,
    out_path: str,
    checkpoint: str,
    max_files_per_trigger: int | None = None,
):
    """Drive the windowed aggregation over staged files under
    Trigger.AvailableNow, appending finalized windows to `out_path`.
    The no-data final batch (Spark's default) advances the watermark to
    max_ts - delay and flushes every window it passes."""
    stream = spark.readStream.schema(
        "event_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE"
    )
    if max_files_per_trigger is not None:
        stream = stream.option("maxFilesPerTrigger", max_files_per_trigger)
    agg = windowed_event_agg(stream.parquet(staging_path))
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_windowed_agg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-query form: stage events, run the real streaming query
    (state store, watermark advance, append finalization), read back the
    emitted windows. Single data batch keeps the late-drop path out of
    the oracle (covered by unit tests); what the oracle DOES check is
    the append-mode finalization rule itself — the trailing windows
    within the watermark delay must be withheld."""
    from .. import catalog

    events = catalog.load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    root = artifacts.scratch_dir("stream_windowed_")
    staging = os.path.join(root, "staging")
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    events.write.mode("overwrite").parquet(staging)
    q = run_windowed_agg_available_now(spark, staging, out, ckpt)
    q.awaitTermination()
    return spark.read.schema(
        "window_start_s LONG, event_type STRING, n_events LONG, value_sum DOUBLE"
    ).parquet(out)


# DuckDB replay: same buckets, same integer-scaled sum, and the same
# finalization cutoff — watermark is computed in Spark's millisecond
# domain (floor(max_us/1000) - delay_ms), windows emit iff end <= it.
STREAM_WINDOWED_AGG_SQL = """
WITH events_us AS (
  SELECT event_type, value, epoch_us(ts) AS ts_us FROM events
),
wm AS (
  SELECT (max(ts_us) // 1000) - {delay_ms} AS wm_ms FROM events_us
),
bucketed AS (
  SELECT (ts_us // 86400000000) * 86400 AS window_start_s,
         event_type,
         COUNT(*) AS n_events,
         SUM(CAST(round(value * 100) AS BIGINT)) AS value_c
  FROM events_us GROUP BY 1, 2
)
SELECT window_start_s, event_type, n_events,
       round(value_c / 100.0, 2) AS value_sum
FROM bucketed, wm
WHERE (window_start_s + 86400) * 1000 <= wm_ms
""".format(delay_ms=_DELAY_MS)


# ---------------------------------------------------------------------------
# sliding windows (batch form of the same window() operator)
# ---------------------------------------------------------------------------

SLIDE_SIZE = "1 day"
SLIDE_STEP = "6 hours"


def sliding_event_agg(events: DataFrame) -> DataFrame:
    """Overlapping 1-day windows every 6 h: each event lands in 4
    windows. Spark expands window() to a 4-element explode before the
    aggregation — still a narrow map + one shuffle on (window, type).
    Batch evaluation of the same operator the streaming query uses
    (windows all final, no watermark)."""
    return (
        events.groupBy(F.window("ts", SLIDE_SIZE, SLIDE_STEP), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").cast("long").alias("window_start_s"),
            "event_type",
            "n_events",
        )
    )


def sliding_event_agg_query(spark, sf_dir: str) -> DataFrame:
    from .. import catalog

    events = catalog.load_table(spark, sf_dir, "events")
    return sliding_event_agg(events)


# each event belongs to the 4 windows starting at the 6h-grid points in
# (ts - 1day, ts]; DuckDB replays the explode with generate_series
SLIDING_AGG_SQL = """
WITH events_us AS (
  SELECT event_type, epoch_us(ts) AS ts_us FROM events
),
exploded AS (
  SELECT event_type,
         (ts_us // 21600000000) * 21600 - k * 21600 AS window_start_s
  FROM events_us
  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k)
)
SELECT window_start_s, event_type, COUNT(*) AS n_events
FROM exploded
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# update-mode counts maintained through the idempotent manifest sink
# ---------------------------------------------------------------------------


def run_windowed_update_available_now(
    spark: SparkSession,
    staging_path: str,
    table_path: str,
    checkpoint: str,
):
    """Update-mode companion to the append-mode query: every micro-batch
    re-emits the windows it changed, and foreachBatch upserts them keyed
    on (window_start_s, event_type) — the running-totals dashboard
    pattern. The state store carries the running aggregates across
    batches AND restarts; the manifest upsert makes re-emission
    idempotent, so the table always holds the latest total per window.
    The epoch that creates the table sizes its bucket layout to the
    epoch's rows (`manifest.sink_buckets`), so a dashboard of a few
    hundred windows lands in one bucket rather than `DEFAULT_BUCKETS`;
    later epochs keep the layout and `maintain_table` grows it."""
    from ..sinks import manifest as manifest_sink

    stream = spark.readStream.schema(
        "event_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE"
    )
    agg = (
        stream.parquet(staging_path)
        .groupBy(F.window("ts", WINDOW_SIZE), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").cast("long").alias("window_start_s"),
            "event_type",
            "n_events",
        )
    )

    def upsert_batch(batch, epoch_id):
        # one job either way: the count that gates the upsert also sizes
        # the table its first epoch creates
        n = batch.count()
        if n:
            manifest_sink.manifest_upsert(
                batch.sparkSession,
                table_path,
                batch,
                ["window_start_s", "event_type"],
                n_buckets=manifest_sink.sink_buckets(table_path, batch, n),
            )

    return (
        agg.writeStream.outputMode("update")
        .foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_windowed_update_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-query form: maintain running window counts over TWO
    incremental runs (events split mid-month), then read the table. The
    oracle is the plain batch GROUP BY — update-mode re-emission through
    the keyed upsert must converge to exactly the full-data totals."""
    from .. import catalog
    from ..sinks.manifest import read_manifest_table

    events = catalog.load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    root = artifacts.scratch_dir("stream_windowed_upd_")
    staging = os.path.join(root, "staging")
    table = os.path.join(root, "table")
    ckpt = os.path.join(root, "ckpt")
    split = F.lit("2024-01-15 00:00:00").cast("timestamp")
    for part in (
        events.filter(F.col("ts") < split),
        events.filter(F.col("ts") >= split),
    ):
        part.write.mode("append").parquet(staging)
        q = run_windowed_update_available_now(spark, staging, table, ckpt)
        q.awaitTermination()
    return read_manifest_table(spark, table)


STREAM_WINDOWED_UPDATE_SQL = """
SELECT (epoch_us(ts) // 86400000000) * 86400 AS window_start_s,
       event_type, COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
"""
