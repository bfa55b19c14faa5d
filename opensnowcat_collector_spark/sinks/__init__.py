"""Sink implementations (SURVEY §2.6).

All sinks share the reference's ``Sink`` surface (``storeRawEvents``,
``maxBytes``, ``isHealthy``, ``shutdown`` — core/.../sinks/Sink.scala:25-36)
re-expressed for Spark micro-batches: a sink is an object with
``write(df, epoch_id)`` called from ``foreachBatch`` (or a native
``writeStream`` format for Kafka/console).

Structured Streaming checkpointing upgrades the reference's at-least-once-
with-edge-loss delivery to at-least-once (exactly-once into idempotent /
transactional sinks) — SURVEY §4.1.  ``ParquetSink`` is such a sink: each
micro-batch overwrites its own epoch directory under its query's run
directory (``files.py``), so replays and retries land once and a new
checkpoint adds a run.  It refuses a path in the old flat append layout.
"""

from .base import BackoffPolicy, CircuitBreaker, RetryingSink, Sink, SinkHealth
from .cloud import KinesisSink, SqsSink
from .files import ParquetSink
from .memory import MemorySink
from .queues import EventBuffer, NsqSink, PubSubSink, RabbitMQSink
from .stdout import StdoutSink

__all__ = [
    "BackoffPolicy",
    "CircuitBreaker",
    "EventBuffer",
    "KinesisSink",
    "MemorySink",
    "NsqSink",
    "ParquetSink",
    "PubSubSink",
    "RabbitMQSink",
    "RetryingSink",
    "Sink",
    "SinkHealth",
    "SqsSink",
    "StdoutSink",
]


def build_sink(cfg, stream_name: str = "", **overrides):
    """Construct the concrete sink a ``SinkConfig`` names — the PySpark
    twin of the reference's per-module sink wiring (each collector
    flavor instantiates its sink from ``streams.sink.enabled``;
    e.g. KinesisCollector.scala / StdoutCollector.scala).  Kind-specific
    keys ride in ``SinkConfig.options`` (the config loader's HOCON
    passthrough); ``stream_name`` is the reference's ``streams.good`` /
    ``streams.bad`` name (stream, topic, queue, or path depending on the
    sink kind)."""
    from .kafka import KafkaSink

    kind = cfg.kind.lower().replace("-", "")
    o = dict(cfg.options)
    o.update(overrides)
    if kind in ("stdout", "console"):
        return StdoutSink(stream=o.get("stream", "out"), max_bytes=cfg.max_bytes)
    if kind in ("file", "files", "parquet"):
        return ParquetSink(path=o.get("path", stream_name or "collector-out"), max_bytes=cfg.max_bytes)
    if kind == "memory":
        return MemorySink(max_bytes=cfg.max_bytes)
    if kind == "kafka":
        return KafkaSink(
            brokers=str(o.get("brokers", "localhost:9092")),
            topic=stream_name or str(o.get("topic", "")),
            buffer=cfg.buffer,
            max_bytes=cfg.max_bytes,
        )
    if kind == "kinesis":
        return KinesisSink(
            stream_name=stream_name or str(o.get("streamName", "")),
            max_bytes=cfg.max_bytes,
            sqs_failover_queue_url=o.get("sqsGoodBuffer") or o.get("sqsBadBuffer"),
        )
    if kind == "sqs":
        return SqsSink(queue_url=stream_name or str(o.get("queueUrl", "")), max_bytes=cfg.max_bytes)
    if kind in ("googlepubsub", "pubsub"):
        ua = o.get("gcpUserAgent", {})
        return PubSubSink(
            topic=stream_name or str(o.get("topic", "")),
            buffer=cfg.buffer,
            max_bytes=cfg.max_bytes,
            gcp_user_agent_product=str(ua.get("productName", "Snowplow OSS")),
        )
    if kind == "nsq":
        return NsqSink(
            nsqd_http_address=str(o.get("host", "127.0.0.1:4151")),
            topic=stream_name or str(o.get("topic", "")),
            max_bytes=cfg.max_bytes,
        )
    if kind == "rabbitmq":
        return RabbitMQSink(
            exchange=str(o.get("exchange", "")),
            routing_key=stream_name or str(o.get("routingKey", "")),
        )
    raise ValueError(f"unknown sink kind: {cfg.kind!r}")
