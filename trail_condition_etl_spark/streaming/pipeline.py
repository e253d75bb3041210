"""Structured Streaming form of the reference pipeline (SURVEY.md §2.8).

The reference glues its three stages with Redis Streams consumer groups +
PEL crash recovery + a SQLite outbox + Redis dedup/DLQ. Structured
Streaming absorbs almost all of it (SURVEY.md §4):

| reference mechanism                      | here                         |
|------------------------------------------|------------------------------|
| XREADGROUP batches (S5)                   | file-stream source,          |
|                                           | maxFilesPerTrigger           |
| outbox + flush loop (S7/S8)               | checkpoint WAL + micro-batch |
| PEL stuck-task reclaim (T2)               | checkpoint restart replay    |
| Redis dedup set (T5)                      | dropDuplicatesWithinWatermark|
| 24 h task expiry (T4)                     | withWatermark(24 h) + filter |
| max_delivery_count -> DLQ (T3)            | envelope policy in           |
|                                           | foreachBatch                 |
| ack-before-persist loss window (R5)       | gone: one atomic lineage     |
| cron scheduler one-shot (T9)              | Trigger.AvailableNow         |

The task envelope (_enqueued_ts, _delivery_count) is carried as columns;
`route_envelope` is the same CASE policy as the batch operator
(operators/pipeline.py), applied inside the stream.

Sinks go through `foreachBatch` -> idempotent manifest-table upsert
(sinks/manifest.py), giving end-to-end effectively-once on top of the
at-least-once replay of a restarted micro-batch (T1). The epoch that
creates the table sizes its bucket layout to the epoch's rows
(`manifest.sink_buckets`): a task table of tens of KB gets one bucket,
so each epoch rewrites one data file, and `maintain_table` grows the
layout by the same rule once the table outgrows it.
"""

from __future__ import annotations

import datetime as dt
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..operators.pipeline import EXPIRED_TASK_SECONDS, MAX_DELIVERY_COUNT
from ..sinks import dlq as dlq_sink
from ..sinks import manifest as manifest_sink
from ..sinks.breaker import CircuitBreaker
from ..sinks.ratelimit import DailyRateLimiter

ENVELOPE = "task_id STRING, city_id INT, _enqueued_ts TIMESTAMP, _delivery_count INT"


def read_task_stream(
    spark: SparkSession,
    staging_path: str,
    schema: StructType | str,
    max_files_per_trigger: int | None = 10,
) -> DataFrame:
    """S5: consumer-group dequeue -> file-stream source over a staging
    directory; `maxFilesPerTrigger` plays the dequeue batch-size role
    (reference batch 100 / block 1 s, fetch-weather/src/config.py:39-40).
    One branch of the broker transport seam (streaming/broker.py) — a
    Kafka deployment swaps `BrokerConfig(kind="kafka", ...)` in without
    touching anything downstream."""
    from .broker import BrokerConfig, read_broker_stream

    return read_broker_stream(
        spark,
        BrokerConfig(
            kind="files", path=staging_path, max_per_trigger=max_files_per_trigger
        ),
        schema,
    )


def route_envelope(
    tasks: DataFrame,
    now_col: str = "_processed_ts",
    now: F.Column | None = None,
) -> DataFrame:
    """T3/T4 policy columns on a task frame (batch or streaming):
    route = dlq_poison | dlq_expired | process. `now` pins process time
    for deterministic replays (the oracle-checked roundtrip passes the
    data-derived anchor); default is wall clock, as in the reference."""
    with_now = tasks.withColumn(
        now_col, now if now is not None else F.current_timestamp()
    )
    age_s = F.col(now_col).cast("long") - F.col("_enqueued_ts").cast("long")
    return with_now.withColumn(
        "route",
        F.when(F.col("_delivery_count") > MAX_DELIVERY_COUNT, "dlq_poison")
        .when(age_s > EXPIRED_TASK_SECONDS, "dlq_expired")
        .otherwise("process"),
    )


def deduped_task_stream(stream: DataFrame, watermark: str = "24 hours") -> DataFrame:
    """T4+T5: event-time watermark bounds the dedup state (the Redis set
    never expired in the reference — unbounded state; the watermark is
    the fix Spark's state store forces you to make explicit)."""
    return stream.withWatermark("_enqueued_ts", watermark).dropDuplicatesWithinWatermark(
        ["task_id"]
    )


def _admit_within_quota(
    good: DataFrame,
    keys: list[str],
    limiter: DailyRateLimiter,
    n: int,
) -> tuple[DataFrame, DataFrame | None, int]:
    """Split a micro-batch's `n` processable rows into (admitted,
    throttled, admitted row count) under the day's remaining quota. The
    admitted prefix is the k smallest rows by key — `orderBy().limit()`
    compiles to a distributed TakeOrdered (no global sort), and the
    overflow anti-join broadcasts only the admitted keys (bounded by the
    daily quota, e.g. 500)."""
    granted = limiter.acquire(n)
    if granted >= n:
        return good, None, n
    admitted = good.orderBy(*keys).limit(granted)
    throttled = (
        good.join(F.broadcast(admitted.select(*keys)), keys, "left_anti")
        .select(
            "task_id",
            "city_id",
            F.to_json(F.struct("_enqueued_ts", "_delivery_count")).alias(
                "raw_payload"
            ),
            F.struct(
                F.lit("rate_limited").alias("exception_type"),
                F.lit("daily task quota exhausted").alias("message"),
                F.lit(None).cast("string").alias("traceback"),
                F.lit(True).alias("safe_to_retry"),
            ).alias("error"),
        )
    )
    return admitted, throttled, granted


def run_pipeline_available_now(
    spark: SparkSession,
    staging_path: str,
    out_table: str,
    dlq_path: str,
    checkpoint: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    upsert_keys: list[str] | None = None,
    now: F.Column | None = None,
    max_files_per_trigger: int | None = 10,
    breaker: CircuitBreaker | None = None,
    rate_limiter: DailyRateLimiter | None = None,
    metrics_path: str | None = None,
    table_format: str = "manifest",
) -> StreamingQuery:
    """EP2/EP3 skeleton as one incremental pass (T9 Trigger.AvailableNow):
    staged tasks -> watermark dedup -> envelope routing -> foreachBatch
    {DLQ append, idempotent upsert of processed rows}.

    Restarting with the same checkpoint resumes from the last committed
    epoch (T1/T2); a crashed micro-batch replays and the idempotent
    upsert absorbs the duplicates.
    """
    return run_pipeline_from_stream(
        spark,
        read_task_stream(spark, staging_path, ENVELOPE, max_files_per_trigger),
        out_table,
        dlq_path,
        checkpoint,
        transform=transform,
        upsert_keys=upsert_keys,
        now=now,
        breaker=breaker,
        rate_limiter=rate_limiter,
        metrics_path=metrics_path,
        table_format=table_format,
    )


def run_pipeline_from_stream(
    spark: SparkSession,
    task_stream: DataFrame,
    out_table: str,
    dlq_path: str,
    checkpoint: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    upsert_keys: list[str] | None = None,
    now: F.Column | None = None,
    breaker: CircuitBreaker | None = None,
    rate_limiter: DailyRateLimiter | None = None,
    metrics_path: str | None = None,
    table_format: str = "manifest",
) -> StreamingQuery:
    """Transport-agnostic core of the pipeline: takes an already-decoded
    streaming envelope frame (any streaming/broker.py transport — files,
    kafka, or the kafka-wire test double) and applies watermark dedup,
    envelope routing, and the foreachBatch sinks. This is the seam a
    Kafka deployment calls directly.

    Micro-batches land in the ACID manifest table (sinks/manifest.py,
    the only `table_format`): each epoch becomes one atomic manifest
    commit, so a crash mid-epoch leaves the previous snapshot intact
    and checkpoint replay of the same batch converges (idempotent
    MERGE) — exactly-once end-to-end with readers snapshot-isolated
    from in-flight epochs. The first epoch creates the table with a
    bucket count sized to its rows (`manifest.sink_buckets`); later
    epochs keep the table's layout."""
    if table_format != "manifest":
        raise ValueError(f"unknown table_format: {table_format!r}")
    keys = upsert_keys or ["task_id"]
    stream = deduped_task_stream(task_stream)

    def process_batch(batch: DataFrame, epoch_id: int) -> None:
        routed = route_envelope(batch, now=now).persist()
        try:
            # one job counts every route; the counts gate both sinks, so
            # an empty epoch runs no other job
            counts = dict(routed.groupBy("route").count().collect())
            n_good = counts.pop("process", 0)
            n_rejects = sum(counts.values())
            rejects = routed.filter(F.col("route") != "process").select(
                "task_id",
                "city_id",
                F.to_json(
                    F.struct("_enqueued_ts", "_delivery_count", "route")
                ).alias("raw_payload"),
                F.struct(
                    F.col("route").alias("exception_type"),
                    F.lit("envelope policy").alias("message"),
                    F.lit(None).cast("string").alias("traceback"),
                    (F.col("route") == "dlq_expired").alias("safe_to_retry"),
                ).alias("error"),
            )
            # R2: the breaker (driver-local — exactly one instance per
            # streaming query) short-circuits sink calls while a
            # downstream dependency is down, instead of hammering it
            # every micro-batch; retries inside upsert absorb blips.
            guard = breaker.call if breaker is not None else (lambda fn: fn())
            if n_rejects:
                guard(
                    lambda: dlq_sink.append_dlq(
                        batch.sparkSession, dlq_path, rejects
                    )
                )
            good = routed.filter(F.col("route") == "process").drop(
                "route", "_processed_ts"
            )
            # R3: quota check BEFORE the expensive work, as the reference
            # checks its daily counter before the API fetch. The admitted
            # prefix is deterministic (ordered by key); overflow rows go
            # to the DLQ retryable so the redrive path re-stages them
            # after the quota resets.
            if rate_limiter is not None:
                good, throttled, n_good = _admit_within_quota(
                    good, keys, rate_limiter, n_good
                )
                if throttled is not None and not throttled.isEmpty():
                    guard(
                        lambda: dlq_sink.append_dlq(
                            batch.sparkSession, dlq_path, throttled
                        )
                    )
            if transform is not None:
                good = transform(good)
                # a transform may drop rows
                if n_good and good.isEmpty():
                    n_good = 0
            if n_good:
                guard(
                    lambda: manifest_sink.manifest_upsert(
                        batch.sparkSession,
                        out_table,
                        good,
                        keys,
                        n_buckets=manifest_sink.sink_buckets(
                            out_table, good, n_good
                        ),
                    )
                )
            if metrics_path is not None:
                # per-epoch observability row (the reference exposes
                # queue depth / counters via RedisInsights; here the
                # metrics ARE a table, queryable like everything else).
                # Written LAST: a metrics row implies its epoch's sink
                # writes committed, so run-over-run deltas are trustworthy.
                # Built from Arrow, so it plans as a LocalTableScan (no
                # Python worker) and its timestamp is data, not a literal
                # that codegen would compile into a new class per epoch.
                n_good = good.count()
                batch.sparkSession.createDataFrame(
                    pa.table(
                        {
                            "epoch_id": pa.array([epoch_id], pa.int64()),
                            "n_processed": pa.array([n_good], pa.int64()),
                            "n_rejected": pa.array([n_rejects], pa.int64()),
                            "emitted_ts": pa.array(
                                [dt.datetime.now(dt.timezone.utc)],
                                pa.timestamp("us", tz="UTC"),
                            ),
                        }
                    )
                ).write.mode("append").parquet(metrics_path)
        finally:
            routed.unpersist()

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# oracle-checked end-to-end roundtrip (the registered-query form)
# ---------------------------------------------------------------------------


def streaming_roundtrip_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the WHOLE streaming pipeline — file-stream source, watermark
    dedup, envelope routing, foreachBatch {DLQ append, idempotent
    upsert}, checkpointed AvailableNow trigger — and summarize the
    resulting table + DLQ state per route so DuckDB can recompute the
    expected outcome from the raw events.

    Determinism: task ids are unique (no arbitrary dedup winners),
    process-time is pinned to the data-derived anchor (max event ts),
    and the run is a SINGLE micro-batch (max_files_per_trigger=None) so
    the advancing watermark cannot drop late rows in a file-order-
    dependent way — the multi-batch path stays covered by the streaming
    unit tests.

    The processed-rows sink is the MANIFEST table: each epoch is one
    atomic commit."""
    import os

    from .. import catalog
    from ..operators.artifacts import scratch_dir
    from ..sinks.manifest import read_manifest_table

    events = catalog.load_table(spark, sf_dir, "events")
    anchor = events.agg(F.max("ts").alias("a")).collect()[0]["a"]
    staged = events.select(
        F.col("event_id").cast("string").alias("task_id"),
        F.col("user_id").cast("int").alias("city_id"),
        F.col("ts").alias("_enqueued_ts"),
        (1 + F.col("event_id") % 8).cast("int").alias("_delivery_count"),
    )
    root = scratch_dir("stream_roundtrip_")
    staging = os.path.join(root, "staging")
    out = os.path.join(root, "out")
    dlq = os.path.join(root, "dlq")
    ckpt = os.path.join(root, "ckpt")
    staged.write.mode("overwrite").parquet(staging)
    q = run_pipeline_available_now(
        spark,
        staging,
        out,
        dlq,
        ckpt,
        now=F.lit(anchor),
        max_files_per_trigger=None,
    )
    q.awaitTermination()
    processed = read_manifest_table(spark, out).select(
        F.lit("process").alias("route"), F.col("task_id").cast("long").alias("tid")
    )
    rejected = spark.read.parquet(dlq).select(
        F.col("error.exception_type").alias("route"),
        F.col("task_id").cast("long").alias("tid"),
    )
    return (
        processed.unionByName(rejected)
        .groupBy("route")
        .agg(
            F.count(F.lit(1)).alias("n_tasks"),
            F.min("tid").alias("min_task_id"),
            F.max("tid").alias("max_task_id"),
        )
    )


STREAMING_ROUNDTRIP_SQL = """
WITH events_us AS (
  SELECT event_id, make_timestamp(epoch_us(ts)) AS ts FROM events
),
anchor AS (SELECT max(ts) AS a FROM events_us),
env AS (
  SELECT event_id, CAST(1 + event_id % 8 AS INT) AS dc, ts FROM events_us
),
routed AS (
  SELECT event_id,
    CASE WHEN dc > 6 THEN 'dlq_poison'
         WHEN (epoch_us(a) // 1000000) - (epoch_us(ts) // 1000000) > 86400
           THEN 'dlq_expired'
         ELSE 'process' END AS route
  FROM env, anchor
)
SELECT route, COUNT(*) AS n_tasks,
       MIN(event_id) AS min_task_id, MAX(event_id) AS max_task_id
FROM routed GROUP BY route
"""


def streaming_roundtrip_multibatch_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The roundtrip pipeline across ≥3 REAL micro-batches — the
    cross-batch watermark/dedup semantics (T2/T4/T5) as a driver-visible
    row, where `stream_roundtrip` deliberately pins a single batch.

    Determinism despite unspecified file->batch assignment (the
    596c44b technique, twice over):
    * event times span a BOUNDED hour, far inside the 24 h watermark, so
      no batch order can ever advance the watermark past another batch's
      rows — nothing is late, nothing is dropped;
    * the injected redeliveries are byte-IDENTICAL rows (same task_id,
      same enqueue time, same delivery count), so whichever copy the
      cross-batch dedup state keeps, the surviving row is the same; the
      idempotent upsert absorbs any same-key rewrite.
    The summary adds `n_batches` (non-empty epochs observed via the
    metrics table): staging is written as 6 files, maxFilesPerTrigger=2,
    so exactly 3 — the oracle pins it, proving the run was multi-batch.
    Each epoch lands as one atomic manifest commit, so the final table
    is also the multi-commit ACID path exercised under real micro-batch
    cadence."""
    import os

    from .. import catalog
    from ..operators.artifacts import scratch_dir
    from ..sinks.manifest import read_manifest_table

    events = catalog.load_table(spark, sf_dir, "events")
    staged = events.select(
        F.col("event_id").cast("string").alias("task_id"),
        F.col("user_id").cast("int").alias("city_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + F.pmod(F.col("event_id"), F.lit(3600))
        ).alias("_enqueued_ts"),
        (1 + F.col("event_id") % 8).cast("int").alias("_delivery_count"),
    )
    redelivered = staged.filter(F.col("task_id").cast("long") % 3 == 0)
    root = scratch_dir("stream_multibatch_")
    staging = os.path.join(root, "staging")
    out = os.path.join(root, "out")
    dlq = os.path.join(root, "dlq")
    ckpt = os.path.join(root, "ckpt")
    metrics = os.path.join(root, "metrics")
    staged.unionByName(redelivered).repartition(6).write.mode(
        "overwrite"
    ).parquet(staging)
    anchor = F.timestamp_seconds(F.lit(1_700_000_000 + 3599))
    q = run_pipeline_available_now(
        spark,
        staging,
        out,
        dlq,
        ckpt,
        now=anchor,
        max_files_per_trigger=2,
        metrics_path=metrics,
    )
    q.awaitTermination()
    n_batches = (
        spark.read.parquet(metrics)
        .filter(F.col("n_processed") + F.col("n_rejected") > 0)
        .select(F.countDistinct("epoch_id"))
        .collect()[0][0]
    )
    processed = read_manifest_table(spark, out).select(
        F.lit("process").alias("route"),
        F.col("task_id").cast("long").alias("tid"),
    )
    rejected = spark.read.parquet(dlq).select(
        F.col("error.exception_type").alias("route"),
        F.col("task_id").cast("long").alias("tid"),
    )
    return (
        processed.unionByName(rejected)
        .groupBy("route")
        .agg(
            F.count(F.lit(1)).alias("n_tasks"),
            F.min("tid").alias("min_task_id"),
            F.max("tid").alias("max_task_id"),
        )
        .withColumn("n_batches", F.lit(int(n_batches)).cast("int"))
    )


STREAMING_ROUNDTRIP_MULTIBATCH_SQL = """
WITH env AS (
  SELECT event_id, CAST(1 + event_id % 8 AS INT) AS dc FROM events
),
routed AS (
  SELECT event_id,
    CASE WHEN dc > 6 THEN 'dlq_poison' ELSE 'process' END AS route
  FROM env
)
SELECT route, COUNT(*) AS n_tasks,
       MIN(event_id) AS min_task_id, MAX(event_id) AS max_task_id,
       CAST(3 AS INT) AS n_batches
FROM routed GROUP BY route
"""


def stream_content_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-level streaming dedup — the CONTENT twin of the task-id
    dedup (T5): documents arrive as a file stream, and
    dropDuplicatesWithinWatermark on sha2(text) lands each distinct
    content exactly once (re-fetched/duplicated content is suppressed in
    flight, state bounded by the watermark). The registered summary is
    winner-independent — streaming dedup keeps an arbitrary row per
    content key, so the output aggregates only content-determined facts
    (distinct-content count, total distinct chars), which the oracle
    recomputes from the raw table."""
    import os

    from .. import catalog
    from ..operators.artifacts import scratch_dir

    docs = catalog.load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "text",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.sha2("text", 256).alias("content_hash"),
        # event times span a BOUNDED minute (doc_id mod 60), not one
        # second per doc: a corpus-sized span would exceed the 1h
        # watermark, and if the source ever split the files across
        # micro-batches, batch-2 rows older than batch-1's watermark
        # would be dropped outright — losing never-duplicated contents
        F.timestamp_seconds(
            F.lit(1_700_000_000) + F.pmod(F.col("doc_id"), F.lit(60))
        ).alias("_ts"),
    )
    # the arriving stream contains a REDELIVERED copy of every document
    # (new doc_id, later event time, same content) — the corpus is
    # exact-dup-free, so without the refetch the dedup would have
    # nothing to suppress; with it, half the arriving rows drop
    refetch = base.select(
        (F.col("doc_id") + 1_000_000_000).alias("doc_id"),
        "text",
        "n_chars",
        "content_hash",
        (F.col("_ts") + F.expr("INTERVAL 10 MINUTES")).alias("_ts"),
    )
    staged = base.unionByName(refetch)
    root = scratch_dir("stream_content_dedup_")
    staging = os.path.join(root, "staging")
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    staged.write.mode("overwrite").parquet(staging)
    stream = spark.readStream.schema(staged.schema).parquet(staging)
    deduped = stream.withWatermark("_ts", "1 hour").dropDuplicatesWithinWatermark(
        ["content_hash"]
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out).agg(
        F.count(F.lit(1)).alias("n_landed"),
        F.sum("n_chars").alias("total_chars"),
    )


STREAM_CONTENT_DEDUP_SQL = """
WITH d AS (
  SELECT text, MIN(n_chars) AS n_chars FROM documents GROUP BY text
)
SELECT COUNT(*) AS n_landed, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM d
"""
