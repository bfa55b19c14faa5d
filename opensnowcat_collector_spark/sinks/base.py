"""Sink protocol + retry/failover machinery.

reference parity:
- jittered backoff ``random(min,max) floored at 2/3 * previous``
  (KinesisSink.scala:360-363, RetryPolicy.scala:36-41);
- circuit breaker closed/open/half-open, 5 failures / 60 s reset
  (kafka/.../sqs/CircuitBreaker.scala:18-146);
- health-gated failover to a backup sink (KinesisSink.scala:144-155,
  KafkaSink.scala:236-277).

In Spark these run *inside the foreachBatch writer on the driver*, which is
the analogue of the reference's sink executor thread: Spark task retry
handles executor-side failure; this layer handles sink-API failure.
"""

from __future__ import annotations

import random
import time
from abc import ABC, abstractmethod
from collections.abc import Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass
class SinkHealth:
    healthy: bool = True
    last_error: str | None = None


class Sink(ABC):
    """Spark mapping of core/.../sinks/Sink.scala:25-36."""

    def __init__(self, max_bytes: int = 1000000000):
        self.max_bytes = max_bytes
        self.health = SinkHealth()

    @abstractmethod
    def write(self, df: DataFrame, epoch_id: int = 0) -> None:
        """Deliver one micro-batch (records already size-enforced)."""

    def is_healthy(self) -> bool:
        return self.health.healthy

    def probe(self) -> None:
        """Cheap active reachability check; raise on failure.  Subclasses
        with a remote endpoint override (describe-stream / get-queue-attrs
        / admin metadata); the default is a no-op so write-outcome health
        remains the signal for local sinks."""

    def shutdown(self) -> None:  # graceful drain hook (Collector.scala:206-233)
        pass


class RecordSink(Sink):
    """The one delivery loop of the queue and cloud sinks: every record's
    ``partition_key`` and ``serialized`` reach ``_deliver`` as dicts,
    per partition on the executors (``distributed`` — each partition
    with its own client; records never collect to the driver) or through
    a driver-side iterator for tests with injected fake clients (same
    ``_deliver`` code path)."""

    distributed: bool

    @abstractmethod
    def _deliver(self, rows: Iterable[dict]) -> None:
        """Deliver one partition's records; raise to fail the task."""

    def write(self, df: DataFrame, epoch_id: int = 0) -> None:
        recs = df.select("partition_key", "serialized")
        if self.distributed:
            deliver = self._deliver
            recs.foreachPartition(lambda rows: deliver(r.asDict() for r in rows))
        else:
            self._deliver(r.asDict() for r in recs.toLocalIterator())


@dataclass
class BackoffPolicy:
    """Jittered backoff: next = max(random(min, max), 2/3 * previous)."""

    min_backoff_ms: int = 500
    max_backoff_ms: int = 5000
    max_retries: int = 10

    def next_backoff_ms(self, previous_ms: int | None, rng: random.Random) -> int:
        jittered = rng.uniform(self.min_backoff_ms, self.max_backoff_ms)
        if previous_ms is not None:
            jittered = max(jittered, previous_ms * 2 / 3)
        return int(min(jittered, self.max_backoff_ms))


class CircuitBreaker:
    """closed/open/half-open; opens after `threshold` consecutive failures,
    half-opens after `reset_ms`."""

    CLOSED, OPEN, HALF_OPEN = "closed", "open", "half_open"

    def __init__(self, threshold: int = 5, reset_ms: int = 60000, clock=time.monotonic):
        self.threshold = threshold
        self.reset_ms = reset_ms
        self._clock = clock
        self.state = self.CLOSED
        self.failures = 0
        self._opened_at = 0.0

    def allow(self) -> bool:
        if self.state == self.OPEN:
            if (self._clock() - self._opened_at) * 1000 >= self.reset_ms:
                self.state = self.HALF_OPEN
                return True
            return False
        return True

    def record_success(self) -> None:
        self.failures = 0
        self.state = self.CLOSED

    def record_failure(self) -> None:
        self.failures += 1
        if self.state == self.HALF_OPEN or self.failures >= self.threshold:
            self.state = self.OPEN
            self._opened_at = self._clock()


class HealthProbe:
    """Active background health monitor — reference parity with the sink
    probe loops (KinesisSink.scala:372-395 describeStream,
    KafkaSink.scala:402-442 metadata fetch, GooglePubSubSink.scala:128-157
    topic check): calls ``sink.probe()`` every ``interval_s`` and flips
    ``sink.health`` so ``/sink-health`` reflects endpoint reachability
    BETWEEN batches, not just the last write outcome."""

    def __init__(self, sink: Sink, interval_s: float = 10.0):
        import threading

        self.sink = sink
        self.interval_s = interval_s
        self._stop = threading.Event()
        self._thread: object | None = None
        self._threading = threading

    def probe_once(self) -> bool:
        try:
            self.sink.probe()
        except Exception as e:
            self.sink.health = SinkHealth(False, f"probe: {e}")
            return False
        if not self.sink.health.healthy and (self.sink.health.last_error or "").startswith("probe:"):
            # recover only probe-detected unhealthiness; a write failure
            # stays visible until the next successful write
            self.sink.health = SinkHealth(True, None)
        return True

    def start(self) -> None:
        def loop():
            while not self._stop.wait(self.interval_s):
                self.probe_once()

        self._thread = self._threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()


class RetryingSink(Sink):
    """Wraps a primary sink with jittered-backoff retries and optional
    failover to a backup sink behind a circuit breaker (K1/K2/K8
    semantics).  ``sleep`` is injectable for tests."""

    def __init__(
        self,
        primary: Sink,
        backup: Sink | None = None,
        policy: BackoffPolicy | None = None,
        breaker: CircuitBreaker | None = None,
        rng: random.Random | None = None,
        sleep=time.sleep,
    ):
        super().__init__(max_bytes=primary.max_bytes)
        self.primary = primary
        self.backup = backup
        self.policy = policy or BackoffPolicy()
        self.breaker = breaker or CircuitBreaker()
        self.rng = rng or random.Random()
        self.sleep = sleep

    def write(self, df: DataFrame, epoch_id: int = 0) -> None:
        # health-gated fast failover (KinesisSink.scala:144-155): when the
        # active probe has already marked the primary unreachable, skip its
        # retry ladder entirely and deliver via the backup
        if (
            not self.primary.is_healthy()
            and self.backup is not None
            and self.breaker.allow()
        ):
            try:
                self.backup.write(df, epoch_id)
                self.breaker.record_success()
                return
            except Exception:
                self.breaker.record_failure()
                # fall through: give the primary its normal retry ladder
        backoff: int | None = None
        for attempt in range(self.policy.max_retries + 1):
            try:
                self.primary.write(df, epoch_id)
                self.health.healthy = True
                return
            except Exception as e:  # sink-API failure, not task failure
                self.health = SinkHealth(False, str(e))
                if attempt < self.policy.max_retries:
                    backoff = self.policy.next_backoff_ms(backoff, self.rng)
                    self.sleep(backoff / 1000.0)
        if self.backup is not None and self.breaker.allow():
            try:
                self.backup.write(df, epoch_id)
                self.breaker.record_success()
                return
            except Exception:
                self.breaker.record_failure()
                raise
        raise RuntimeError(
            f"sink delivery failed after {self.policy.max_retries} retries: {self.health.last_error}"
        )
