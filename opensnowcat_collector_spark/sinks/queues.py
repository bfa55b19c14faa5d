"""K4 Google Pub/Sub, K5 NSQ, K6 RabbitMQ sinks + A3 bounded buffer.

reference parity:
- K4 (pubsub/.../GooglePubSubSink.scala:47-270): client-lib batching with
  element/byte/delay thresholds mirroring BufferConfig (:221-227),
  exponential-backoff RetrySettings (:229-240).  The google-cloud-pubsub
  client is not in this container — the publisher is injectable and the
  default factory import-gates with a clear error.
- K5 (nsq/.../NsqSink.scala:31-44): synchronous produceMulti, no
  buffering, no partition key — mapped to NSQ's HTTP /mpub endpoint
  (urllib, no extra dependency).
- K6 (rabbitmq/.../RabbitMQSink.scala:26-82): per-event publish with
  infinite multiplicative-backoff retry (:52-66; capped here by
  ``max_attempts`` so tests and draining shutdowns terminate); the
  exchange must pre-exist (:78-81).
- A3 (kafka/.../sinks/sqs/EventBuffer.scala:29-64): bounded FIFO that
  drops the OLDEST on overflow and counts drops.

Like cloud.py, delivery is ``base.RecordSink``'s loop: per-partition on
executors (``distributed=True``) or driver-side for fake-injected tests.
"""

from __future__ import annotations

import time
from collections import deque
from collections.abc import Callable, Iterable

from ..config import BufferConfig
from .base import RecordSink


class EventBuffer:
    """A3: bounded FIFO, drop-oldest on overflow, drop counter."""

    def __init__(self, max_size: int):
        self.max_size = max_size
        self._q: deque = deque()
        self.dropped = 0

    def add(self, item) -> None:
        if len(self._q) >= self.max_size:
            self._q.popleft()
            self.dropped += 1
        self._q.append(item)

    def drain(self) -> list:
        out = list(self._q)
        self._q.clear()
        return out

    def __len__(self) -> int:
        return len(self._q)


def create_gcp_user_agent(product_name: str = "Snowplow OSS") -> str:
    """GCP partner user-agent string, byte-identical with the reference
    (GooglePubSubSink.scala:218-219, GcpUserAgentSpec.scala): the GPN
    token is what GCP's partner attribution regex extracts."""
    return f"{product_name}/collector (GPN:Snowplow;)"


class PubSubSink(RecordSink):
    """K4: publisher injectable; batching knobs mirror BufferConfig;
    requests carry the GPN partner user-agent
    (GooglePubSubSink.scala:205-219, `gcpUserAgent.productName`)."""

    def __init__(
        self,
        topic: str,
        publisher_factory: Callable[[], object] | None = None,
        buffer: BufferConfig | None = None,
        max_bytes: int = 10 * 1024 * 1024,
        distributed: bool = True,
        gcp_user_agent_product: str = "Snowplow OSS",
    ):
        super().__init__(max_bytes=max_bytes)
        self.topic = topic
        self.user_agent = create_gcp_user_agent(gcp_user_agent_product)
        self.publisher_factory = publisher_factory or _default_pubsub_factory(
            buffer or BufferConfig(), self.user_agent
        )
        self.distributed = distributed

    def _deliver(self, rows: Iterable) -> None:
        pub = self.publisher_factory()
        futures = [
            pub.publish(self.topic, r["serialized"].encode("utf-8"), key=r["partition_key"])
            for r in rows
        ]
        for f in futures:  # surface the first failure -> Spark task retry
            f.result()


def _default_pubsub_factory(buffer: BufferConfig, user_agent: str | None = None):
    def factory():
        try:
            from google.cloud import pubsub_v1  # noqa: PLC0415
        except ImportError as e:  # pragma: no cover
            raise RuntimeError(
                "google-cloud-pubsub is not installed; inject publisher_factory"
            ) from e
        # element/byte/delay thresholds mirror BufferConfig
        # (GooglePubSubSink.scala:221-227)
        settings = pubsub_v1.types.BatchSettings(
            max_messages=buffer.record_limit,
            max_bytes=buffer.byte_limit,
            max_latency=buffer.time_limit_ms / 1000.0,
        )
        kwargs = {"batch_settings": settings}
        if user_agent:  # GPN partner header (GooglePubSubSink.scala:211)
            try:  # pragma: no cover - exercised only with the real client
                from google.api_core.client_info import ClientInfo  # noqa: PLC0415

                kwargs["client_info"] = ClientInfo(user_agent=user_agent)
            except ImportError:
                pass
        return pubsub_v1.PublisherClient(**kwargs)

    return factory


class NsqSink(RecordSink):
    """K5: synchronous multi-publish over NSQ's HTTP /mpub endpoint."""

    def __init__(
        self,
        nsqd_http_address: str,
        topic: str,
        http_post: Callable[[str, bytes], int] | None = None,
        max_bytes: int = 1_000_000,
        distributed: bool = True,
    ):
        super().__init__(max_bytes=max_bytes)
        self.url = f"http://{nsqd_http_address}/mpub?topic={topic}"
        self.http_post = http_post or _urllib_post
        self.distributed = distributed

    def _deliver(self, rows: Iterable) -> None:
        body = b"\n".join(r["serialized"].encode("utf-8") for r in rows)
        if body:
            status = self.http_post(self.url, body)
            if status >= 300:
                raise RuntimeError(f"nsq mpub returned {status}")


def _urllib_post(url: str, body: bytes) -> int:
    from urllib.request import Request, urlopen

    with urlopen(Request(url, data=body, method="POST"), timeout=30) as resp:
        return resp.status


class RabbitMQSink(RecordSink):
    """K6: per-event publish, multiplicative backoff (RabbitMQSink.scala:52-66)."""

    def __init__(
        self,
        exchange: str,
        routing_key: str,
        channel_factory: Callable[[], object] | None = None,
        backoff_min_ms: int = 100,
        backoff_multiplier: float = 2.0,
        max_attempts: int = 10,  # reference retries forever; bounded for drain
        distributed: bool = True,
        sleep: Callable[[float], None] = time.sleep,
    ):
        super().__init__()
        self.exchange = exchange
        self.routing_key = routing_key
        self.channel_factory = channel_factory or _default_pika_factory()
        self.backoff_min_ms = backoff_min_ms
        self.backoff_multiplier = backoff_multiplier
        self.max_attempts = max_attempts
        self.distributed = distributed
        self.sleep = sleep

    def _deliver(self, rows: Iterable) -> None:
        ch = self.channel_factory()
        for r in rows:
            backoff = self.backoff_min_ms
            for attempt in range(self.max_attempts):
                try:
                    ch.basic_publish(
                        exchange=self.exchange,
                        routing_key=self.routing_key,
                        body=r["serialized"].encode("utf-8"),
                    )
                    break
                except Exception:
                    if attempt == self.max_attempts - 1:
                        raise
                    self.sleep(backoff / 1000.0)
                    backoff = int(backoff * self.backoff_multiplier)


def _default_pika_factory():
    def factory():
        try:
            import pika  # noqa: PLC0415
        except ImportError as e:  # pragma: no cover
            raise RuntimeError("pika is not installed; inject channel_factory") from e
        conn = pika.BlockingConnection()
        return conn.channel()

    return factory
