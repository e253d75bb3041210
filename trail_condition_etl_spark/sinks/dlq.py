"""Dead-letter queue sink: append-only parquet quarantine of rejected
rows (payload + ExceptionDetails struct), the redrive filter, and
retention trimming (S6/S14, R4)."""

from __future__ import annotations

import datetime as dt
import shutil

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def append_dlq(
    spark: SparkSession,
    dlq_path: str,
    rejects: DataFrame,
) -> None:
    """S14: append failed rows (payload + ExceptionDetails struct) to the
    quarantine path. Append-only: DLQ entries are an audit log, a redrive
    job filters `error.safe_to_retry` and re-submits.

    `dlq_ts` is the append's wall-clock time, joined in as DATA from a
    one-row Arrow relation (a LocalTableScan). `F.current_timestamp()`
    would be folded into a literal that codegen inlines into the
    stage, so every append would compile its classes anew."""
    stamp = spark.createDataFrame(
        pa.table(
            {
                "dlq_ts": pa.array(
                    [dt.datetime.now(dt.timezone.utc)],
                    pa.timestamp("us", tz="UTC"),
                )
            }
        )
    )
    rejects.drop("dlq_ts").crossJoin(stamp).write.mode("append").parquet(
        dlq_path
    )


def redrive_candidates(spark: SparkSession, dlq_path: str) -> DataFrame:
    """Rows eligible for redrive (R4: retryable flag drives redrive)."""
    return spark.read.parquet(dlq_path).filter(F.col("error.safe_to_retry"))


def trim_dlq(
    spark: SparkSession,
    dlq_path: str,
    max_rows: int | None = None,
    max_age_s: int | None = None,
    now: str | None = None,
) -> int:
    """S6 retention: the reference caps its streams at max_stream_length
    and expires entries after stream_expiry_seconds (fetch-weather/src/
    config.py:19,38); append-only DLQ/staging parquet otherwise grows
    unboundedly. Keeps the newest `max_rows` entries (by dlq_ts, entry
    order tie-break) and/or drops entries older than `max_age_s`.

    Compacts into a sibling directory then atomically swaps, so a crash
    mid-compaction never loses the live DLQ. Returns rows retained.
    (On an object store the swap becomes a manifest flip / Delta
    REPLACE; the call site is the seam.)"""
    df = spark.read.parquet(dlq_path)
    if max_age_s is not None:
        anchor = (
            F.lit(now).cast("timestamp")
            if now is not None
            else F.current_timestamp()
        )
        df = df.filter(
            F.col("dlq_ts").cast("long") >= anchor.cast("long") - max_age_s
        )
    if max_rows is not None:
        df = (
            df.orderBy(F.desc("dlq_ts"))
            .limit(max_rows)
        )
    tmp = dlq_path.rstrip("/") + ".compact"
    df.write.mode("overwrite").parquet(tmp)
    kept = spark.read.parquet(tmp).count()
    old = dlq_path.rstrip("/") + ".old"
    shutil.move(dlq_path, old)
    shutil.move(tmp, dlq_path)
    shutil.rmtree(old)
    return kept
