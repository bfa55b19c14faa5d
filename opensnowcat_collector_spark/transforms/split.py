"""§2.4 batch splitting — the reference's signature transform.

reference: SplitBatch.scala:48-113.  Semantics reproduced:

- serialized event < maxBytes -> single good record, untouched;
- oversized with no body (GET) -> SizeViolation("GET requests cannot be split");
- body not JSON / not self-describing / no data array -> SizeViolation with
  the corresponding message;
- envelope without the data array still too big -> SizeViolation;
- else greedy sequential first-fit bin-packing of the data array elements
  into batches whose projected serialized size fits maxBytes (joinSize=1
  per element, exactly the reference's accounting: an element fails alone
  when elemSize + 1 > maximum where maximum = maxBytes - wholeEventBytes
  + initialBodyDataBytes); each batch re-serializes as a payload copy with
  the sub-array as body; per-element overflow -> SizeViolation("this POST
  request split is still too large").

Size accounting: the whole event is measured by its serialized-Thrift
size — byte-exact reference parity (SplitBatch.scala:84-99,147-151; the
JVM routing expression ``thrift_size_expr`` and the Python
``thrift_codec`` encoder agree bit-for-bit).  Element sizes and
``initialBodyDataBytes`` are compact-JSON UTF-8 bytes, exactly like the
reference (``getSize(Json)`` = noSpaces UTF-8).  Batch membership
matches the reference's walk; batch emission order is input order (the
reference emits reversed — order is not semantically meaningful for
delivery).

Spark mapping: the whole operator runs inside ``mapInPandas`` on the
oversized subset only (group = one input payload, embarrassingly parallel,
no shuffle — SURVEY §2.4's "custom Python function" case).  The common
small-event path never leaves the JVM.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..thrift_codec import FIELDS as _THRIFT_FIELDS
from ..thrift_codec import encode_collector_payload

# Canonical payload JSON field order for serialization/size accounting.
_PAYLOAD_FIELDS = [
    "schema",
    "ip_address",
    "timestamp",
    "encoding",
    "collector",
    "querystring",
    "body",
    "path",
    "user_agent",
    "referer_uri",
    "hostname",
    "network_user_id",
    "headers",
    "content_type",
]

# The split stage emits FULL payload rows (not just rewritten bodies) so
# the pipeline never has to join split outputs back to their originals —
# a request_id is not unique after the Amplitude fan-out, and a re-join
# keyed on it could cross-match bodies between sibling payloads.  The
# payload columns already cross the Arrow boundary on the way in, so
# carrying them out adds no extra transfer beyond the (rare) split rows.
SPLIT_OUT_SCHEMA = StructType(
    [
        StructField("request_id", StringType()),
        StructField("schema", StringType()),
        StructField("ip_address", StringType()),
        StructField("timestamp", LongType()),
        StructField("encoding", StringType()),
        StructField("collector", StringType()),
        StructField("querystring", StringType()),
        StructField("body", StringType()),  # rewritten body for good splits
        StructField("path", StringType()),
        StructField("user_agent", StringType()),
        StructField("referer_uri", StringType()),
        StructField("hostname", StringType()),
        StructField("network_user_id", StringType()),
        StructField("headers", ArrayType(StringType())),
        StructField("content_type", StringType()),
        StructField("partition_key", StringType()),
        StructField("split_index", IntegerType()),
        StructField("is_bad", IntegerType()),
        StructField("serialized", StringType()),
        StructField("serialized_size", LongType()),
        StructField("bad_expectation", StringType()),
        StructField("bad_actual_size", IntegerType()),
        StructField("bad_payload", StringType()),
    ]
)


def _compact(obj) -> str:
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=False)


def _utf8_size(s: str) -> int:
    return len(s.encode("utf-8"))


def serialize_payload(row: dict) -> str:
    """Canonical compact-JSON serialization of a payload dict."""
    return _compact({k: row.get(k) for k in _PAYLOAD_FIELDS})


def payload_size(row: dict) -> int:
    """Serialized-Thrift size of a payload (reference parity)."""
    return len(encode_collector_payload(row))


def thrift_size_expr():
    """Column expression computing the exact TBinaryProtocol size of the
    payload columns — bit-for-bit equal to
    ``len(thrift_codec.encode_collector_payload(row))``, but evaluated
    JVM-side so the common small-event routing decision never leaves
    codegen.  Per-field cost: header 3 bytes; string +4 len prefix +
    utf8 bytes; i64 +8; list<string> +5 (elem type + count) then +4+utf8
    per element; +1 trailing STOP.

    Built as ONE parsed SQL expression (``sqlfrag``, optimization r14):
    the fold tree is identical to the Column-built one, construction
    drops from ~180 ms to ~1 ms on this VM."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    parts = ["1"]  # T_STOP
    for _fid, name, ftype in _THRIFT_FIELDS:
        if ftype == 10:  # T_I64
            fs = "11"
        elif ftype == 15:  # T_LIST<string>
            # coalesce keeps the fold total under null elements (a null
            # header would otherwise null the whole size and the event
            # would satisfy neither routing predicate — silently dropped)
            fs = (
                f"aggregate({name}, 8,"
                " (acc, x) -> acc + coalesce(octet_length(x), 0) + 4)"
            )
        else:  # T_STRING
            fs = f"(octet_length({name}) + 7)"
        parts.append(f"(CASE WHEN {name} IS NULL THEN 0 ELSE {fs} END)")
    return F.expr("cast((" + " + ".join(parts) + ") as bigint)")


def split_elements(elements: list, maximum: int, join_size: int = 1) -> tuple[list[list], list]:
    """Greedy sequential first-fit (SplitBatch.scala:48-74 semantics).

    Returns (good_batches, failed_big_elements); batches in input order.
    """
    batches: list[list] = []
    current: list = []
    total = 0
    failed: list = []
    for h in elements:
        head_size = _utf8_size(_compact(h))
        if head_size + join_size > maximum:
            failed.append(h)
        elif head_size + total + join_size > maximum:
            if current:
                batches.append(current)
            current = [h]
            total = head_size + join_size
        else:
            current.append(h)
            total += head_size + join_size
    if current:
        batches.append(current)
    return batches, failed


# SchemaKey format the reference's SelfDescribingData.parse enforces
# (iglu-core SchemaKey.fromUri): iglu:vendor/name/format/M-R-A
_IGLU_URI_RE = __import__("re").compile(
    r"^iglu:[a-zA-Z0-9\-_.]+/[a-zA-Z0-9\-_]+/[a-zA-Z0-9\-_]+/[0-9]+-[0-9]+-[0-9]+$"
)


def split_and_serialize(row: dict, max_bytes: int) -> tuple[list[dict], list[dict]]:
    """One payload -> (good rows, bad rows); pure function for unit tests.

    Good rows: {'body': new_body or original, 'serialized': str, 'size': int}
    Bad rows: {'expectation': str, 'actual_size': int, 'payload': str}
    """
    whole = serialize_payload(row)
    whole_bytes = payload_size(row)
    if whole_bytes < max_bytes:
        return [{"body": row.get("body"), "serialized": whole, "size": whole_bytes}], []

    def bad(msg: str, size: int) -> tuple[list, list]:
        return [], [
            {
                "expectation": msg,
                "actual_size": size,
                "payload": whole[: max_bytes // 10],
            }
        ]

    body = row.get("body")
    if body is None:
        return bad("GET requests cannot be split", whole_bytes)
    try:
        parsed = json.loads(body)
    except (ValueError, TypeError) as e:
        return bad(f"cannot split POST requests which are not json {e}", whole_bytes)
    if (
        not isinstance(parsed, dict)
        or "schema" not in parsed
        or "data" not in parsed
        or not isinstance(parsed["schema"], str)
        or not _IGLU_URI_RE.match(parsed["schema"])
    ):
        return bad("cannot split POST requests which are not self-describing", whole_bytes)
    data = parsed["data"]
    if not isinstance(data, list):
        return bad("cannot split POST requests which do not contain a data array", whole_bytes)

    # element + initial-data sizes are compact-JSON bytes, exactly like
    # the reference (getSize(Json) = noSpaces UTF-8)
    initial_body_data_bytes = _utf8_size(_compact(data))
    if whole_bytes - initial_body_data_bytes >= max_bytes:
        return bad(
            'cannot split this POST request because event without "data" field is still too big',
            whole_bytes,
        )

    maximum = max_bytes - whole_bytes + initial_body_data_bytes
    batches, failed = split_elements(data, maximum)

    schema = parsed["schema"]
    goods = []
    for batch in batches:
        new_body = _compact({"schema": schema, "data": batch})
        new_row = dict(row)
        new_row["body"] = new_body
        goods.append(
            {
                "body": new_body,
                "serialized": serialize_payload(new_row),
                "size": payload_size(new_row),
            }
        )
    bads = [
        {
            "expectation": "this POST request split is still too large",
            "actual_size": _utf8_size(_compact(e)),
            "payload": whole[: max_bytes // 10],
        }
        for e in failed
    ]
    return goods, bads


def make_split_map_fn(max_bytes: int):
    """mapInPandas function over payload rows (only the oversized subset is
    routed here by the pipeline)."""

    payload_field_names = set(_PAYLOAD_FIELDS) | {"request_id", "partition_key"}

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            for rec in pdf.to_dict("records"):
                headers = rec.get("headers")
                if headers is not None and not isinstance(headers, list):
                    headers = list(headers)
                    rec["headers"] = headers
                # a null timestamp (a row without request_time) turns the
                # whole Arrow column into float64 with NaN
                ts = rec.get("timestamp")
                rec["timestamp"] = None if pd.isna(ts) else int(ts)
                goods, bads = split_and_serialize(rec, max_bytes)
                base = {k: rec.get(k) for k in payload_field_names}
                for i, g in enumerate(goods):
                    out_rows.append(
                        {
                            **base,
                            "body": g["body"],
                            "split_index": i,
                            "is_bad": 0,
                            "serialized": g["serialized"],
                            "serialized_size": g["size"],
                            "bad_expectation": None,
                            "bad_actual_size": None,
                            "bad_payload": None,
                        }
                    )
                for b in bads:
                    out_rows.append(
                        {
                            **base,
                            "body": None,
                            "split_index": None,
                            "is_bad": 1,
                            "serialized": None,
                            "serialized_size": None,
                            "bad_expectation": b["expectation"],
                            "bad_actual_size": b["actual_size"],
                            "bad_payload": b["payload"],
                        }
                    )
            yield pd.DataFrame(
                out_rows, columns=[f.name for f in SPLIT_OUT_SCHEMA.fields]
            )

    return fn
