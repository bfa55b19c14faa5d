"""K1 Kinesis + K3 SQS sinks (boto3), with the reference's delivery
semantics re-expressed for Spark.

reference parity:
- K1 Kinesis (kinesis/.../KinesisSink.scala:46-421): PutRecords batches
  with partition key; per-record failure isolation + jittered-backoff
  retry of only the failed subset (BatchResultErrorInfo handling,
  :278-302); after maxRetries, failover to an SQS buffer queue with
  base64 body + ``kinesisKey`` message attribute (:304-320).
- K3 SQS (sqs/.../SqsSink.scala:36-263): <=10-message SendMessageBatch
  (API limit, :55), base64 body, ``kinesisKey`` attribute, jittered
  retry; the 1 MiB message-size guard (SQSPublisher.scala:303-307).
- A2 sub-batching (KinesisSink.scala:545-572): first-fit packing into
  <=`max_records`, <=`max_batch_bytes` request groups.

Scale design: both sinks deliver through ``base.RecordSink``'s loop —
``foreachPartition``, so every executor delivers its own partition with
its own client and records never collect to the driver;
``distributed=False`` switches to a driver-side iterator for tests with
injected fake clients (same chunk/retry code path).
Spark task retry re-runs a failed partition; delivery is therefore
at-least-once, same as the reference (SURVEY §4.1).
"""

from __future__ import annotations

import base64
import random
import time
from collections.abc import Callable, Iterable, Iterator

from .base import BackoffPolicy, RecordSink

KINESIS_MAX_RECORDS = 500  # PutRecords API limit
SQS_MAX_BATCH = 10  # SendMessageBatch API limit (SqsSink.scala:55)
SQS_MAX_MSG_BYTES = 1024 * 1024  # hard cap incl. attributes (SQSPublisher.scala:303-305)
SQS_ATTR_OVERHEAD = 100  # estimated attribute overhead (SQSPublisher.scala:306-307)


def chunk_records(
    rows: Iterable[tuple[str, str]],
    max_records: int,
    max_batch_bytes: int,
    size_of: Callable[[tuple[str, str]], int] = lambda r: len(r[1].encode("utf-8")),
) -> Iterator[list[tuple[str, str]]]:
    """A2: greedy first-fit packing of (partition_key, payload) rows into
    batches bounded by record count AND byte size (KinesisSink.scala:545-572)."""
    batch: list[tuple[str, str]] = []
    batch_bytes = 0
    for row in rows:
        sz = size_of(row)
        if batch and (len(batch) >= max_records or batch_bytes + sz > max_batch_bytes):
            yield batch
            batch, batch_bytes = [], 0
        batch.append(row)
        batch_bytes += sz
    if batch:
        yield batch


def _retry_loop(send_failed, entries, policy, rng, sleep, on_exhausted):
    """Shared per-record failure isolation: `send_failed(entries)` returns
    the subset that failed; retry only that subset with jittered backoff."""
    backoff = None
    failed = send_failed(entries)
    for _ in range(policy.max_retries):
        if not failed:
            return
        backoff = policy.next_backoff_ms(backoff, rng)
        sleep(backoff / 1000.0)
        failed = send_failed(failed)
    if failed:
        on_exhausted(failed)


class KinesisSink(RecordSink):
    """K1: PutRecords with per-record retry and optional SQS failover."""

    def __init__(
        self,
        stream_name: str,
        client_factory: Callable[[], object] | None = None,
        max_bytes: int = 1_000_000,
        policy: BackoffPolicy | None = None,
        sqs_failover_queue_url: str | None = None,
        sqs_client_factory: Callable[[], object] | None = None,
        distributed: bool = True,
        rng: random.Random | None = None,
        sleep: Callable[[float], None] = time.sleep,
        max_batch_bytes: int = 5 * 1024 * 1024,
    ):
        super().__init__(max_bytes=max_bytes)
        self.stream_name = stream_name
        self.client_factory = client_factory or _default_boto3_factory("kinesis")
        self.policy = policy or BackoffPolicy()
        self.sqs_failover_queue_url = sqs_failover_queue_url
        self.sqs_client_factory = sqs_client_factory or _default_boto3_factory("sqs")
        self.distributed = distributed
        self.rng = rng or random.Random()
        self.sleep = sleep
        self.max_batch_bytes = max_batch_bytes

    def probe(self) -> None:
        """Active reachability check (KinesisSink.scala:372-395): the
        stream must describe as ACTIVE/UPDATING."""
        resp = self.client_factory().describe_stream(StreamName=self.stream_name)
        status = resp["StreamDescription"]["StreamStatus"]
        if status not in ("ACTIVE", "UPDATING"):
            raise RuntimeError(f"stream {self.stream_name} is {status}")

    def _deliver(self, rows: Iterable) -> None:
        client = self.client_factory()
        policy, rng, sleep = self.policy, self.rng, self.sleep

        def send_failed(entries: list[tuple[str, str]]) -> list[tuple[str, str]]:
            resp = client.put_records(
                StreamName=self.stream_name,
                Records=[
                    {"Data": payload.encode("utf-8"), "PartitionKey": pk}
                    for pk, payload in entries
                ],
            )
            if not resp.get("FailedRecordCount"):
                return []
            return [
                entries[i]
                for i, rec in enumerate(resp["Records"])
                if rec.get("ErrorCode")
            ]

        def on_exhausted(failed: list[tuple[str, str]]) -> None:
            if self.sqs_failover_queue_url:
                # KinesisSink.scala:304-320 — base64 body + kinesisKey attr
                sqs = self.sqs_client_factory()
                _sqs_send(
                    sqs,
                    self.sqs_failover_queue_url,
                    failed,
                    policy,
                    rng,
                    sleep,
                    on_exhausted=_raise_delivery_error,
                )
            else:
                _raise_delivery_error(failed)

        for batch in chunk_records(
            ((r["partition_key"], r["serialized"]) for r in rows),
            KINESIS_MAX_RECORDS,
            self.max_batch_bytes,
        ):
            _retry_loop(send_failed, batch, policy, rng, sleep, on_exhausted)


def _raise_delivery_error(failed) -> None:
    raise RuntimeError(f"delivery failed for {len(failed)} records after retries")


def _default_boto3_factory(service: str):
    def factory():
        import boto3

        return boto3.client(service)

    return factory


def _sqs_send(client, queue_url, entries, policy, rng, sleep, on_exhausted):
    """<=10-message batches, base64 body, kinesisKey attribute, 1 MiB guard,
    per-entry failure isolation (SqsSink.scala:66-121, SQSPublisher.scala:205-252)."""

    def b64(payload: str) -> str:
        return base64.b64encode(payload.encode("utf-8")).decode("ascii")

    oversized = [
        e for e in entries if len(b64(e[1])) + SQS_ATTR_OVERHEAD > SQS_MAX_MSG_BYTES
    ]
    if oversized:
        raise RuntimeError(
            f"{len(oversized)} records exceed the {SQS_MAX_MSG_BYTES} B SQS message cap"
        )

    def send_failed(ents: list[tuple[str, str]]) -> list[tuple[str, str]]:
        failed: list[tuple[str, str]] = []
        for batch in chunk_records(
            ents, SQS_MAX_BATCH, SQS_MAX_MSG_BYTES * SQS_MAX_BATCH,
            size_of=lambda r: len(b64(r[1])) + SQS_ATTR_OVERHEAD,
        ):
            resp = client.send_message_batch(
                QueueUrl=queue_url,
                Entries=[
                    {
                        "Id": str(i),
                        "MessageBody": b64(payload),
                        "MessageAttributes": {
                            "kinesisKey": {"DataType": "String", "StringValue": pk}
                        },
                    }
                    for i, (pk, payload) in enumerate(batch)
                ],
            )
            for f in resp.get("Failed", []):
                failed.append(batch[int(f["Id"])])
        return failed

    _retry_loop(send_failed, entries, policy, rng, sleep, on_exhausted)


class SqsSink(RecordSink):
    """K3: SQS primary sink."""

    def __init__(
        self,
        queue_url: str,
        client_factory: Callable[[], object] | None = None,
        max_bytes: int = 192 * 1024,
        policy: BackoffPolicy | None = None,
        distributed: bool = True,
        rng: random.Random | None = None,
        sleep: Callable[[float], None] = time.sleep,
    ):
        super().__init__(max_bytes=max_bytes)
        self.queue_url = queue_url
        self.client_factory = client_factory or _default_boto3_factory("sqs")
        self.policy = policy or BackoffPolicy()
        self.distributed = distributed
        self.rng = rng or random.Random()
        self.sleep = sleep

    def probe(self) -> None:
        """Active reachability check: queue attributes must resolve."""
        self.client_factory().get_queue_attributes(
            QueueUrl=self.queue_url, AttributeNames=["QueueArn"]
        )

    def _deliver(self, rows: Iterable) -> None:
        client = self.client_factory()
        entries = [(r["partition_key"], r["serialized"]) for r in rows]
        if entries:
            _sqs_send(
                client,
                self.queue_url,
                entries,
                self.policy,
                self.rng,
                self.sleep,
                on_exhausted=_raise_delivery_error,
            )
