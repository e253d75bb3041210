"""R3 daily rate limiter: fixed-window quota unit tests (fake clock) and
the streaming-pipeline admission path (admit k, DLQ the overflow
retryable, redrive after the window rolls)."""

from __future__ import annotations

import datetime as dt

import pytest

from trail_condition_etl_spark.sinks import dlq as dlq_sink
from trail_condition_etl_spark.sinks import manifest
from trail_condition_etl_spark.sinks.ratelimit import DailyRateLimiter
from trail_condition_etl_spark.streaming import pipeline

NOW = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_acquire_partial_then_exhausted():
    rl = DailyRateLimiter(max_requests=5, clock=FakeClock())
    assert rl.acquire(3) == 3
    assert rl.acquire(3) == 2  # only 2 left in the window
    assert rl.acquire(1) == 0
    assert rl.remaining == 0


def test_allow_request_matches_reference_shape():
    rl = DailyRateLimiter(max_requests=2, clock=FakeClock())
    assert rl.allow_request() is True
    assert rl.allow_request() is True
    assert rl.allow_request() is False


def test_day_rollover_resets_quota():
    clock = FakeClock()
    rl = DailyRateLimiter(max_requests=2, clock=clock)
    assert rl.acquire(2) == 2
    assert rl.acquire(1) == 0
    clock.t = 86400.0  # next UTC day
    assert rl.acquire(1) == 1


def test_negative_acquire_rejected():
    rl = DailyRateLimiter(max_requests=2, clock=FakeClock())
    with pytest.raises(ValueError):
        rl.acquire(-1)


def test_pipeline_admits_quota_and_dlqs_overflow(spark, tmp_path):
    staging = tmp_path / "staging"
    out = tmp_path / "facts"
    dlq = tmp_path / "dlq"
    fresh = NOW - dt.timedelta(hours=1)
    rows = [(f"t-{i:02d}", i, fresh, 1) for i in range(8)]
    spark.createDataFrame(rows, pipeline.ENVELOPE).write.mode("append").parquet(
        str(staging)
    )

    clock = FakeClock()
    limiter = DailyRateLimiter(max_requests=5, clock=clock)
    q = pipeline.run_pipeline_available_now(
        spark,
        str(staging),
        str(out),
        str(dlq),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=None,
        rate_limiter=limiter,
    )
    q.awaitTermination(120)

    # the 5 smallest task_ids were admitted (deterministic prefix)
    facts = sorted(
        r.task_id for r in manifest.read_manifest_table(spark, str(out)).collect()
    )
    assert facts == [f"t-{i:02d}" for i in range(5)]
    # overflow is in the DLQ, marked retryable so redrive picks it up
    dlq_rows = spark.read.parquet(str(dlq)).collect()
    assert sorted(r.task_id for r in dlq_rows) == [f"t-{i:02d}" for i in range(5, 8)]
    assert all(r.error.exception_type == "rate_limited" for r in dlq_rows)
    assert all(r.error.safe_to_retry for r in dlq_rows)
    assert limiter.remaining == 0
    redrivable = dlq_sink.redrive_candidates(spark, str(dlq))
    assert redrivable.count() == 3

    # quota resets at the day boundary: the next incremental run (same
    # checkpoint — only NEW files are read) admits a fresh batch in full
    clock.t = 86400.0
    rows2 = [(f"t-1{i}", 10 + i, fresh, 1) for i in range(3)]
    spark.createDataFrame(rows2, pipeline.ENVELOPE).write.mode("append").parquet(
        str(staging)
    )
    q2 = pipeline.run_pipeline_available_now(
        spark,
        str(staging),
        str(out),
        str(dlq),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=None,
        rate_limiter=limiter,
    )
    q2.awaitTermination(120)
    facts2 = sorted(
        r.task_id for r in manifest.read_manifest_table(spark, str(out)).collect()
    )
    assert facts2 == [f"t-{i:02d}" for i in range(5)] + [f"t-1{i}" for i in range(3)]
    assert spark.read.parquet(str(dlq)).count() == 3  # unchanged
    assert limiter.remaining == 2
