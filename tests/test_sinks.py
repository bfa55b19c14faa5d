"""Sink machinery tests: retry backoff, circuit breaker, failover
(EventBufferSpec / RetryPolicySpec analogues, SURVEY §5.5)."""

from __future__ import annotations

import random

import pytest

from opensnowcat_collector_spark.sinks.base import (
    BackoffPolicy,
    CircuitBreaker,
    RetryingSink,
)
from opensnowcat_collector_spark.sinks.files import ParquetSink
from opensnowcat_collector_spark.sinks.memory import MemorySink


def test_backoff_jitter_within_bounds():
    policy = BackoffPolicy(min_backoff_ms=100, max_backoff_ms=1000, max_retries=5)
    rng = random.Random(42)
    prev = None
    for _ in range(20):
        b = policy.next_backoff_ms(prev, rng)
        assert 66 <= b <= 1000
        if prev is not None:
            assert b >= int(prev * 2 / 3) or b == 1000
        prev = b


def test_circuit_breaker_states():
    t = [0.0]
    cb = CircuitBreaker(threshold=3, reset_ms=60000, clock=lambda: t[0])
    assert cb.allow() and cb.state == cb.CLOSED
    for _ in range(3):
        cb.record_failure()
    assert cb.state == cb.OPEN
    assert not cb.allow()
    t[0] = 61.0  # past reset window
    assert cb.allow() and cb.state == cb.HALF_OPEN
    cb.record_failure()
    assert cb.state == cb.OPEN
    t[0] = 125.0
    assert cb.allow()
    cb.record_success()
    assert cb.state == cb.CLOSED


def test_retrying_sink_recovers(spark):
    df = spark.range(3)
    primary = MemorySink(fail_first=2)
    sink = RetryingSink(
        primary,
        policy=BackoffPolicy(min_backoff_ms=1, max_backoff_ms=2, max_retries=3),
        sleep=lambda s: None,
    )
    sink.write(df)
    assert len(primary.batches) == 1
    assert sink.is_healthy() is False or sink.health.healthy  # healthy after success


def test_retrying_sink_fails_over_to_backup(spark):
    df = spark.range(3)
    primary = MemorySink(fail_first=100)
    backup = MemorySink()
    sink = RetryingSink(
        primary,
        backup=backup,
        policy=BackoffPolicy(min_backoff_ms=1, max_backoff_ms=2, max_retries=2),
        sleep=lambda s: None,
    )
    sink.write(df)
    assert len(backup.batches) == 1
    assert len(primary.batches) == 0


def test_retrying_sink_raises_without_backup(spark):
    df = spark.range(1)
    primary = MemorySink(fail_first=100)
    sink = RetryingSink(
        primary,
        policy=BackoffPolicy(min_backoff_ms=1, max_backoff_ms=2, max_retries=1),
        sleep=lambda s: None,
    )
    with pytest.raises(RuntimeError, match="sink delivery failed"):
        sink.write(df)


def _ids(df) -> list[int]:
    return sorted(r.id for r in df.select("id").collect())


def test_parquet_sink_rewritten_epoch_replaces_its_rows(spark, tmp_path):
    """A replayed epoch overwrites its own directory: the read-back is
    epoch 0 plus the newest write of epoch 1, never both writes of it."""
    sink = ParquetSink(str(tmp_path / "good"))
    sink.write(spark.range(0, 3), 0)
    sink.write(spark.range(10, 12), 1)
    sink.write(spark.range(20, 24), 1)
    got = sink.read(spark)
    assert _ids(got) == [0, 1, 2, 20, 21, 22, 23]
    assert sorted(r.epoch for r in got.select("epoch").distinct().collect()) == [0, 1]


def test_parquet_sink_newest_below_ignores_epoch_k(spark, tmp_path):
    """The snapshot a replayed epoch k reads is the newest one below k,
    never a (possibly torn) write of k itself."""
    sink = ParquetSink(str(tmp_path / "snap"))
    assert sink.read(spark, newest_below=0) is None  # nothing written yet
    sink.write(spark.range(0, 2), 0)
    sink.write(spark.range(10, 12), 2)
    sink.write(spark.range(20, 22), 3)
    assert _ids(sink.read(spark, newest_below=3)) == [10, 11]
    assert _ids(sink.read(spark, newest_below=2)) == [0, 1]
    assert _ids(sink.read(spark, newest_below=float("inf"))) == [20, 21]
    assert sink.read(spark, newest_below=0) is None


def test_parquet_sink_refuses_flat_layout_path(spark, tmp_path):
    """Part files directly under the path (the old flat append layout)
    would break partition discovery of every row: the sink refuses the
    path instead of writing next to them."""
    path = str(tmp_path / "good")
    spark.range(3).write.parquet(path)
    with pytest.raises(ValueError, match="new path"):
        ParquetSink(path)
    sink = ParquetSink(str(tmp_path / "fresh"))
    sink.write(spark.range(2), 0)
    ParquetSink(sink.path)  # its own layout is accepted


def test_retrying_parquet_sink_lands_batch_once(spark, tmp_path):
    """A write that lands and then fails (a lost acknowledgement) is
    retried; the retry overwrites the epoch, so the batch lands once."""

    class WriteThenFail(ParquetSink):
        attempts = 0

        def write(self, df, epoch_id=0):
            super().write(df, epoch_id)
            self.attempts += 1
            if self.attempts == 1:
                raise OSError("acknowledgement lost")

    path = str(tmp_path / "good")
    primary = WriteThenFail(path)
    sink = RetryingSink(
        primary,
        policy=BackoffPolicy(min_backoff_ms=1, max_backoff_ms=2, max_retries=3),
        rng=random.Random(7),
        sleep=lambda s: None,
    )
    sink.write(spark.range(5), 4)
    assert primary.attempts == 2
    assert _ids(spark.read.parquet(path)) == [0, 1, 2, 3, 4]


def test_stdout_sinks_on_one_stream_from_two_threads(spark, tmp_path, monkeypatch):
    """The collector writes the good and the bad sink of a batch at the
    same time, and both stdout sinks may share one stream: every output
    line is still one whole base64 record."""
    import base64
    import io
    import threading

    from opensnowcat_collector_spark.sinks.stdout import StdoutSink

    # records larger than the text buffer flush inside every write; cached,
    # so the two threads spend their time printing, not computing
    frames = {
        kind: spark.range(0, 600, 1, 2).selectExpr(
            f"concat('{kind}-', id, '-', repeat('x', 12000)) as serialized"
        ).cache()
        for kind in ("good", "bad")
    }
    expected = sorted(r.serialized for df in frames.values() for r in df.collect())
    path = tmp_path / "out.txt"
    with io.open(path, "w", encoding="ascii") as out:
        monkeypatch.setattr("sys.stdout", out)
        errors = []

        def write(df):
            try:
                StdoutSink().write(df)
            except BaseException as e:
                errors.append(e)

        threads = [threading.Thread(target=write, args=(df,)) for df in frames.values()]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    for df in frames.values():
        df.unpersist()
    assert not errors
    lines = path.read_text(encoding="ascii").split("\n")
    assert lines.pop() == ""
    got = sorted(base64.b64decode(ln, validate=True).decode("utf-8") for ln in lines)
    assert got == expected


def test_health_probe_flips_and_recovers():
    """Active probe (KinesisSink.scala:372-395 analogue): a failing probe
    marks the sink unhealthy; a succeeding probe recovers probe-detected
    unhealthiness (but never masks a write failure)."""
    from opensnowcat_collector_spark.sinks.base import HealthProbe, Sink, SinkHealth

    class Probeable(Sink):
        def __init__(self):
            super().__init__()
            self.fail_probe = False

        def write(self, df, epoch_id=0):
            pass

        def probe(self):
            if self.fail_probe:
                raise RuntimeError("endpoint down")

    s = Probeable()
    hp = HealthProbe(s, interval_s=0.01)
    assert hp.probe_once() and s.is_healthy()
    s.fail_probe = True
    assert not hp.probe_once()
    assert not s.is_healthy() and "endpoint down" in s.health.last_error
    s.fail_probe = False
    assert hp.probe_once() and s.is_healthy()
    # write-failure health is NOT cleared by a passing probe
    s.health = SinkHealth(False, "delivery failed")
    assert hp.probe_once()
    assert not s.is_healthy()


def test_probe_unhealthy_primary_fast_fails_over(spark):
    """When the active probe has marked the primary down, RetryingSink
    skips the primary retry ladder and delivers via the backup."""
    from opensnowcat_collector_spark.sinks.base import SinkHealth

    df = spark.range(3)
    primary = MemorySink(fail_first=100)
    primary.health = SinkHealth(False, "probe: endpoint down")
    backup = MemorySink()
    calls = {"n": 0}
    orig = primary.write

    def counting_write(d, e=0):
        calls["n"] += 1
        return orig(d, e)

    primary.write = counting_write
    sink = RetryingSink(
        primary,
        backup=backup,
        policy=BackoffPolicy(min_backoff_ms=1, max_backoff_ms=2, max_retries=5),
        sleep=lambda s: None,
    )
    sink.write(df)
    assert len(backup.batches) == 1
    assert calls["n"] == 0  # primary never attempted


def test_kinesis_probe_checks_stream_status():
    from opensnowcat_collector_spark.sinks.cloud import KinesisSink

    class DescribeClient:
        def __init__(self, status):
            self.status = status

        def describe_stream(self, StreamName):
            return {"StreamDescription": {"StreamStatus": self.status}}

    ok = KinesisSink("s", client_factory=lambda: DescribeClient("ACTIVE"))
    ok.probe()  # no raise
    bad = KinesisSink("s", client_factory=lambda: DescribeClient("DELETING"))
    with pytest.raises(RuntimeError, match="DELETING"):
        bad.probe()
