"""A1 + §3.1: the driver-side source adapter — scheduler-driven,
rate-limited polling that feeds micro-batches to the normalizers.

The reference's ingestion loop (cerebro.py:416-555 orchestrating
snoozerScheduler + clockworkScheduler + RateLimiter + SteamAPIClient)
re-expressed as a composable adapter:

    tick() -> pick due items (J2 urgency) -> acquire token (J1)
           -> fetch_fn(item) [pluggable transport; HTTP in prod, fake
              in tests — this container has no network]
           -> per-stream raw rows, handed to sources.wire normalizers
           -> per-key backoff on retryable failure (J4)

The CLOCKWORK path (J3: hourly archival at :30 UTC, with the fixed
[30, 60, 120, 240] s retry ladder J5) is `next_clockwork_tick` +
`fetch_with_retry_schedule`.

Only this adapter is driver-side — it produces a list of raw response
rows per tick; everything after `spark.createDataFrame(rows, WIRE_*)`
is distributed. That frame scans a Python RDD, so each action on it
runs a Python-worker stage; the normalizers checkpoint their output
locally, so a batch runs it once however many sinks read the batch.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

from hridaya_steam_market_tracker_spark.streaming.ratelimiter import (
    SlidingWindowRateLimiter,
)
from hridaya_steam_market_tracker_spark.streaming.scheduler import (
    ARCHIVAL_RETRY_SCHEDULE,
    PollScheduler,
)


class RetryableFetchError(Exception):
    """429 / 5xx / network — backoff applies (snoozerScheduler.py:192-222)."""


@dataclass
class PollingSource:
    """Micro-batch producer for the four live streams."""

    fetch_fn: Callable[[tuple[str, str]], dict]
    scheduler: PollScheduler = field(default_factory=PollScheduler)
    limiter: SlidingWindowRateLimiter = field(
        default_factory=lambda: SlidingWindowRateLimiter(15, 60.0)
    )
    clock: Callable[[], float] = time.monotonic

    def tick(self) -> dict[str, list[dict]]:
        """One scheduler pass: fetch every due item (most urgent first),
        respecting the global token budget. Returns raw response rows
        grouped by stream, ready for the wire normalizers."""
        now = self.clock()
        batches: dict[str, list[dict]] = {}
        for item in self.scheduler.due(now):
            if not self.limiter.try_acquire():
                break  # budget exhausted — remaining items stay due
            name, stream = item.key
            try:
                payload = self.fetch_fn(item.key)
            except RetryableFetchError:
                self.scheduler.record_failure(item.key, self.clock())
                continue
            self.scheduler.record_success(item.key, self.clock())
            batches.setdefault(stream, []).append(payload)
        return batches

    def sleep_until_next(self) -> float:
        return self.scheduler.next_wake(self.clock())


def next_clockwork_tick(now: datetime | None = None) -> datetime:
    """J3: next :30-past-the-hour UTC (clockworkScheduler.py:131-161)."""
    now = now or datetime.now(timezone.utc)
    candidate = now.replace(minute=30, second=0, microsecond=0)
    if candidate <= now:
        candidate += timedelta(hours=1)
    return candidate


def fetch_with_retry_schedule(
    fetch: Callable[[], dict],
    schedule: tuple[float, ...] = ARCHIVAL_RETRY_SCHEDULE,
    sleep: Callable[[float], None] = time.sleep,
) -> dict:
    """J5: archival fetch with the fixed retry ladder; re-raises after
    the last attempt (clockworkScheduler.py:175-238)."""
    last_err: Exception | None = None
    for i, delay in enumerate((0.0,) + tuple(schedule)):
        if delay:
            sleep(delay)
        try:
            return fetch()
        except RetryableFetchError as err:  # noqa: PERF203
            last_err = err
    raise last_err  # type: ignore[misc]
