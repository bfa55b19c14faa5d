"""The streaming collector job: readStream -> pipeline -> good/bad sinks.

reference analogue (SURVEY §3.1 step 5-6): the sink buffer thread boundary
becomes the micro-batch boundary; BufferConfig maps to
``trigger(processingTime=timeLimit)`` + ``maxFilesPerTrigger`` /
``maxOffsetsPerTrigger``; flush-on-shutdown becomes checkpoint recovery
(a strictly stronger guarantee).

The dataflow is built once per streaming query: ``start`` applies
``pipeline.route`` (the per-row half) to the source, so the engine plans
routing at every trigger without Python.  The good/bad split needs two
outputs per micro-batch, so the per-batch half runs in ``foreachBatch`` —
the classic good/quarantine pattern (SURVEY §1.2) with a single pass over
each micro-batch: the routed batch is persisted, ``pipeline.run`` and both
sink writes read the cache, then it is released.  The two writes run at
the same time, so the bad job uses the cores the good job leaves idle.

A trigger pays only for its own rows: no value of the routed rows
depends on when, or in which batch, it is processed (the event time is
the receiver's ``request_time``, new ids derive from ``request_id``), so
the generated code of the first batch serves every later one.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import pipeline
from ..config import CollectorConfig
from ..schema import RAW_REQUEST_SCHEMA
from ..sinks.base import Sink


def requests_from_kafka(records: DataFrame) -> DataFrame:
    """Raw request rows from Kafka records whose ``value`` is a receiver
    row as JSON.  The pipeline derives ids from ``request_id`` and the
    event time from ``request_time``, so a record from a producer that
    stamps neither is stamped from the record itself: ``request_id`` from
    its topic, partition and offset, ``request_time`` from its Kafka
    timestamp.  A replay reads both back unchanged, so it rewrites the
    same rows."""
    r = F.from_json(F.col("value").cast("string"), RAW_REQUEST_SCHEMA)
    kafka_id = F.concat_ws("-", "topic", "partition", "offset")
    return records.select(
        r.withField("request_id", F.coalesce(r["request_id"], kafka_id))
        .withField("request_time", F.coalesce(r["request_time"], F.col("timestamp")))
        .alias("r")
    ).select("r.*")


@dataclass
class StreamingCollector:
    spark: SparkSession
    cfg: CollectorConfig
    good_sink: Sink
    bad_sink: Sink

    def source_from_files(self, landing_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
        """File landing-zone source: a thin HTTP receiver appends raw
        request rows (json) to `landing_dir`; Spark tails it exactly-once.
        At scale this is Kafka (`source_from_kafka`); the pipeline is
        source-agnostic."""
        reader = (
            self.spark.readStream.schema(RAW_REQUEST_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger or 1000)
        )
        return reader.json(landing_dir)

    def source_from_kafka(self, brokers: str, topic: str, max_offsets: int | None = None) -> DataFrame:
        reader = (
            self.spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", brokers)
            .option("subscribe", topic)
        )
        if max_offsets:
            reader = reader.option("maxOffsetsPerTrigger", str(max_offsets))
        return requests_from_kafka(reader.load())

    def process_batch(self, routed: DataFrame, epoch_id: int) -> None:
        """One micro-batch of ``pipeline.route`` rows -> both sinks, written
        at the same time: the bad write runs on its own thread while this
        one writes the good rows, and either failure fails the batch.  An
        ``InheritableThread`` carries this thread's local properties, the
        streaming query id among them, which ``ParquetSink`` files the
        batch under."""
        routed = routed.persist()
        try:
            res = pipeline.run(routed, self.cfg)
            bad_error: list[BaseException] = []

            def write_bad() -> None:
                try:
                    self.bad_sink.write(res.bad, epoch_id)
                except BaseException as e:  # re-raised on this thread
                    bad_error.append(e)

            bad = InheritableThread(write_bad)
            bad.start()
            try:
                self.good_sink.write(res.good, epoch_id)
            finally:
                bad.join()
            if bad_error:
                raise bad_error[0]
        finally:
            routed.unpersist()

    def start(
        self,
        source: DataFrame,
        checkpoint_dir: str,
        available_now: bool = False,
    ) -> StreamingQuery:
        writer = (
            pipeline.route(source, self.cfg)
            .writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            # BufferConfig.time_limit_ms is the flush cadence (A1)
            writer = writer.trigger(processingTime=f"{self.cfg.good_sink.buffer.time_limit_ms} milliseconds")
        return writer.start()

    def stop(self, query: StreamingQuery, grace_seconds: float | None = None) -> None:
        """X4 graceful drain (Collector.scala:206-233 analogue): let the
        in-flight micro-batch finish, stop the query, then shut both sinks
        down.  The drain budget defaults to the configured
        terminationDeadline.  Checkpointing makes redelivery-on-restart
        safe, so this is strictly stronger than the reference's
        best-effort flush."""
        import time as _time

        if grace_seconds is None:
            grace_seconds = self.cfg.termination_deadline_ms / 1000.0

        deadline = _time.monotonic() + grace_seconds
        while query.isActive and query.status["isDataAvailable"] and _time.monotonic() < deadline:
            _time.sleep(0.2)
        if query.isActive:
            query.stop()
        query.awaitTermination(int(grace_seconds))
        self.good_sink.shutdown()
        self.bad_sink.shutdown()
