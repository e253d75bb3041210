"""Streaming SCD2 dimension maintenance: keep a type-2 slowly-changing
dimension correct under incremental event arrival.

Batch `operators/warehouse.py:scd2_build` derives the full dimension
from the whole log; this module maintains the SAME table incrementally:
each micro-batch merges its events into the dimension via foreachBatch —
the open interval of every touched user is pulled in as a pseudo-row, the
lag/lead regime computation reruns over (open-row ∪ batch), and the
resulting rows upsert keyed on (user_id, valid_from):

* an open interval whose regime continues is rewritten unchanged,
* an open interval superseded in the batch is REPLACED by its closed
  version (same key, new valid_to),
* new regimes insert.

Closed history is immutable — the upsert never touches it, and the
manifest table (sinks/manifest.py) rewrites only the touched hash
buckets. At 100 TB the dimension stays bucketed by user hash, the
batch side is the small side (one micro-batch), and the open-row lookup
is a semi-join on the batch's user set.

Equivalence contract (the registered query's oracle): maintaining the
dimension over ANY time-ordered partitioning of the log yields exactly
the table `scd2_build` computes from the full log in one pass — the
same invariant the reference's restart-and-replay story needs (SURVEY
§2.8 T2), here as a checkable query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import artifacts
from ..operators.warehouse import TS_US_FMT
from ..sinks import manifest

EVENT_SCHEMA = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING"
DIM_KEYS = ["user_id", "valid_from"]


def _regimes(rows: DataFrame) -> DataFrame:
    """(user_id, event_type, valid_from, valid_to, is_current) regimes of
    an event frame — the same lag/lead shape as warehouse.scd2_build,
    kept as raw timestamps for storage."""
    from pyspark.sql import Window

    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = rows.withColumn(
        "is_change",
        (
            F.lag("event_type").over(by_user).isNull()
            | (F.col("event_type") != F.lag("event_type").over(by_user))
        ).cast("int"),
    )
    starts = changed.filter(F.col("is_change") == 1)
    return (
        starts.withColumn("valid_to", F.lead("ts").over(by_user))
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


def merge_scd2_batch(
    spark: SparkSession, dim_path: str, batch: DataFrame
) -> None:
    """Merge one micro-batch of events into the dimension table."""
    users = batch.select("user_id").distinct()
    # a crashed first commit leaves the directory but no manifest
    if manifest.read_manifest(dim_path) is not None:
        dim = manifest.read_manifest_table(spark, dim_path)
        # ALL of each touched user's intervals become pseudo-rows, not
        # just the open one: the regimes of the interval set alone are
        # exactly the current intervals (adjacent intervals differ in
        # type by construction), so re-merging an already-applied batch
        # re-derives identical rows — foreachBatch's at-least-once
        # replay after a mid-epoch crash stays effectively-once — and
        # an out-of-order event older than the open interval splits the
        # correct historical interval instead of corrupting the tail.
        history = (
            dim.join(F.broadcast(users), "user_id")
            .select(
                F.lit(-1).cast("long").alias("event_id"),
                F.col("valid_from").alias("ts"),
                "user_id",
                "event_type",
            )
        )
        merged_events = history.unionByName(
            batch.select("event_id", "ts", "user_id", "event_type")
        )
    else:
        merged_events = batch.select("event_id", "ts", "user_id", "event_type")
    out = _regimes(merged_events)
    manifest.manifest_upsert(spark, dim_path, out, DIM_KEYS)


def run_scd2_maintenance(
    spark: SparkSession,
    staging_path: str,
    dim_path: str,
    checkpoint: str,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Drive the dimension merge under Trigger.AvailableNow. Restart
    safety comes from the checkpoint (a replayed batch re-merges the
    same events — the regime computation is idempotent on duplicates
    because re-deriving the same intervals upserts identical rows)."""
    stream = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        stream = stream.option("maxFilesPerTrigger", max_files_per_trigger)

    def process(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        merge_scd2_batch(batch.sparkSession, dim_path, batch)

    return (
        stream.parquet(staging_path)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


SPLIT_TS = "2024-01-15 00:00:00"


def stream_scd2_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-query form: maintain the dimension over TWO incremental
    runs (events before/after a mid-month split), then emit the final
    table. The oracle is warehouse.SCD2_BUILD_SQL verbatim — incremental
    maintenance must reproduce the one-pass batch build exactly."""
    from .. import catalog

    events = catalog.load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    root = artifacts.scratch_dir("stream_scd2_")
    staging = os.path.join(root, "staging")
    dim = os.path.join(root, "dim")
    split = F.lit(SPLIT_TS).cast("timestamp")
    for i, part in enumerate(
        (events.filter(F.col("ts") < split), events.filter(F.col("ts") >= split))
    ):
        part.write.mode("append").parquet(staging)
        q = run_scd2_maintenance(
            spark, staging, dim, os.path.join(root, "ckpt")
        )
        q.awaitTermination()
    final = manifest.read_manifest_table(spark, dim)
    return final.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", TS_US_FMT).alias("valid_from"),
        F.coalesce(
            F.date_format("valid_to", TS_US_FMT), F.lit("9999-12-31")
        ).alias("valid_to"),
        "is_current",
    )
