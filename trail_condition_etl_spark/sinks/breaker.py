"""R2: circuit breaker for sink boundaries.

The reference guards every external call with pybreaker (fail_max=5,
reset_timeout=60: categorize-trail-conditions/src/client.py:21-24,59-63;
schedule-jobs/scheduler/tasks.py:59-65). Spark absorbs the per-TASK
failure story, but a foreachBatch sink hitting a down dependency would
otherwise hammer it once per micro-batch; the breaker lives in the
DRIVER (one per streaming query — exactly one instance runs per query,
so driver-local state is correct) and short-circuits sink calls while
open, letting micro-batches fail fast until the cooldown probe.

Composes with `lease.retry_with_backoff`: retries absorb transient
blips inside one batch; the breaker stops repeated whole-batch failures
across batches.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from typing import TypeVar

T = TypeVar("T")

FAIL_MAX = 5  # categorize-trail-conditions/src/client.py:22
RESET_TIMEOUT_S = 60.0  # categorize-trail-conditions/src/client.py:23


class CircuitOpenError(RuntimeError):
    """Raised when the breaker is open and the cooldown has not elapsed."""


class CircuitBreaker:
    """CLOSED -> (fail_max consecutive failures) -> OPEN -> (cooldown)
    -> HALF-OPEN probe -> CLOSED on success / OPEN again on failure."""

    def __init__(
        self,
        fail_max: int = FAIL_MAX,
        reset_timeout_s: float = RESET_TIMEOUT_S,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        self.fail_max = fail_max
        self.reset_timeout_s = reset_timeout_s
        self._clock = clock
        self._consecutive_failures = 0
        self._opened_at: float | None = None

    @property
    def state(self) -> str:
        if self._opened_at is None:
            return "closed"
        if self._clock() - self._opened_at >= self.reset_timeout_s:
            return "half-open"
        return "open"

    def call(self, fn: Callable[[], T]) -> T:
        if self.state == "open":
            raise CircuitOpenError(
                f"circuit open for another "
                f"{self.reset_timeout_s - (self._clock() - self._opened_at):.1f}s"
            )
        try:
            out = fn()
        except Exception:
            self._consecutive_failures += 1
            if self._consecutive_failures >= self.fail_max:
                self._opened_at = self._clock()
            raise
        else:
            self._consecutive_failures = 0
            self._opened_at = None
            return out
