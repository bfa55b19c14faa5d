"""Canonical schemas for the collector dataflow.

- ``RAW_REQUEST_SCHEMA``: one row per HTTP request (FIXTURES.md §1), the
  input of the pipeline (batch DataFrame or readStream).
- ``collector payload`` columns: the Spark mapping of the Thrift
  CollectorPayload struct (reference: CollectorService.scala:288-304,
  SURVEY §1.1) — struct columns, not opaque bytes (Spark-idiomatic; a
  Thrift codec UDF at the edges is optional wire-parity).
- ``BAD_ROW_SCHEMA``: the quarantine side-channel (SURVEY §1.2).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

RAW_REQUEST_SCHEMA = StructType(
    [
        StructField("request_id", StringType()),
        StructField("method", StringType()),
        StructField("path", StringType()),
        StructField("querystring", StringType()),
        StructField("body", StringType()),
        StructField("user_agent", StringType()),
        StructField("referer_uri", StringType()),
        StructField("hostname", StringType()),
        StructField("remote_ip", StringType()),
        StructField("headers", ArrayType(StringType())),
        StructField("origin", StringType()),
        StructField("cookies", MapType(StringType(), StringType())),
        StructField("content_type", StringType()),
        StructField("sp_anonymous", StringType()),
        StructField("request_time", TimestampType()),
    ]
)

BAD_ROW_SCHEMA = StructType(
    [
        StructField("kind", StringType()),  # size_violation | generic_error
        StructField("app_name", StringType()),
        StructField("app_version", StringType()),
        StructField("failure_timestamp", LongType()),  # epoch millis
        StructField("maximum_allowed_size_bytes", IntegerType()),
        StructField("actual_size_bytes", IntegerType()),
        StructField("expectation", StringType()),
        StructField("errors", ArrayType(StringType())),
        StructField("payload", StringType()),
        StructField("partition_key", StringType()),
    ]
)

# Self-describing bad-row envelope schemas (snowplow-badrows parity)
SIZE_VIOLATION_SCHEMA = "iglu:com.snowplowanalytics.snowplow.badrows/size_violation/jsonschema/1-0-0"
GENERIC_ERROR_SCHEMA = "iglu:com.snowplowanalytics.snowplow.badrows/generic_error/jsonschema/1-0-0"

PIXEL_GIF_BASE64 = "R0lGODlhAQABAPAAAP///wAAACH5BAEAAAAALAAAAAABAAEAAAICRAEAOw=="
