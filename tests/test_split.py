"""SplitBatchSpec port (reference: core/src/test/.../SplitBatchSpec.scala)
— pure-function tests of the bin-packer + split/serialize semantics, plus
the Spark mapInPandas path."""

from __future__ import annotations

import json

from opensnowcat_collector_spark.config import CollectorConfig
from opensnowcat_collector_spark.transforms.split import (
    _compact,
    _utf8_size,
    payload_size,
    serialize_payload,
    split_and_serialize,
    split_elements,
)


def _payload(body=None, **kw) -> dict:
    row = {
        "schema": "iglu:com.snowplowanalytics.snowplow/CollectorPayload/thrift/1-0-0",
        "ip_address": "1.2.3.4",
        "timestamp": 1705320000000,
        "encoding": "UTF-8",
        "collector": "app-0.1.0-stdout",
        "querystring": "e=pv",
        "body": body,
        "path": "/com.snowplowanalytics.snowplow/tp2",
        "user_agent": "ua",
        "referer_uri": None,
        "hostname": "h",
        "network_user_id": "n",
        "headers": ["A: b"],
        "content_type": "application/json",
    }
    row.update(kw)
    return row


# --- split() semantics (SplitBatchSpec "split" cases) ----------------------


def test_split_empty():
    batches, failed = split_elements([], 1000)
    assert batches == [] and failed == []


def test_split_single_batch_when_all_fit():
    els = [{"k": i} for i in range(3)]
    batches, failed = split_elements(els, 1000)
    assert batches == [els] and failed == []


def test_split_oversized_element_fails_alone():
    big = {"k": "x" * 100}
    small = {"k": 1}
    batches, failed = split_elements([big, small], 50)
    assert failed == [big]
    assert batches == [[small]]


def test_split_respects_byte_budget_exactly():
    # elements of known serialized size: {"k":"xxxx"} = 12 bytes, +1 join
    el = {"k": "xxxx"}
    size = _utf8_size(_compact(el))
    assert size == 12
    # budget fits exactly two elements: 2*(12+1) = 26
    batches, failed = split_elements([el, el, el], 26)
    assert failed == []
    assert [len(b) for b in batches] == [2, 1]


def test_split_boundary_one_byte_short():
    el = {"k": "xxxx"}
    batches, failed = split_elements([el, el], 25)  # 26 needed for two
    assert [len(b) for b in batches] == [1, 1]
    assert failed == []


# --- splitAndSerializePayload semantics ------------------------------------


def test_small_event_passes_through():
    p = _payload(body='{"schema":"s","data":[1]}')
    goods, bads = split_and_serialize(p, 1_000_000)
    assert len(goods) == 1 and not bads
    assert goods[0]["serialized"] == serialize_payload(p)


def test_oversized_get_cannot_be_split():
    p = _payload(body=None, querystring="e=pv&" + "x" * 500)
    goods, bads = split_and_serialize(p, 400)
    assert not goods and len(bads) == 1
    assert bads[0]["expectation"] == "GET requests cannot be split"
    assert bads[0]["actual_size"] == payload_size(p)
    # payload truncated to a tenth of the max
    assert len(bads[0]["payload"]) == 400 // 10


def test_oversized_non_json_body():
    p = _payload(body="not json" + "x" * 500)
    goods, bads = split_and_serialize(p, 400)
    assert not goods and len(bads) == 1
    assert bads[0]["expectation"].startswith("cannot split POST requests which are not json")


def test_oversized_not_self_describing():
    p = _payload(body=json.dumps({"data": ["x" * 500]}))
    goods, bads = split_and_serialize(p, 400)
    assert bads and bads[0]["expectation"].startswith(
        "cannot split POST requests which are not self-describing"
    )


def test_oversized_envelope_still_too_big():
    # tiny data array but a huge querystring: removing data can't save it
    p = _payload(
        body='{"schema":"iglu:com.acme/ev/jsonschema/1-0-0","data":[1]}', querystring="e=pv&" + "q" * 1000
    )
    goods, bads = split_and_serialize(p, 500)
    assert not goods and len(bads) == 1
    assert 'event without "data" field is still too big' in bads[0]["expectation"]


def test_split_three_good_four_bad():
    """SplitBatchSpec.scala:139-157 analogue: mixed small/huge elements."""
    small = [{"e": "pv", "i": i} for i in range(3)]
    huge = [{"e": "pv", "blob": "z" * 2000} for _ in range(4)]
    body = _compact({"schema": "iglu:com.acme/ev/jsonschema/1-0-0", "data": small + huge})
    p = _payload(body=body)
    assert payload_size(p) > 800
    goods, bads = split_and_serialize(p, 800)
    assert len(bads) == 4
    assert all(b["expectation"] == "this POST request split is still too large" for b in bads)
    # all small elements survive across the good batches
    recovered = []
    for g in goods:
        recovered.extend(json.loads(g["body"])["data"])
    assert recovered == small
    # every good batch respects the size limit
    assert all(g["size"] < 800 or len(json.loads(g["body"])["data"]) == 1 for g in goods)


def test_split_batches_fit_max_bytes():
    els = [{"e": "pv", "n": i, "pad": "p" * 40} for i in range(20)]
    body = _compact({"schema": "iglu:com.acme/ev/jsonschema/1-0-0", "data": els})
    p = _payload(body=body)
    goods, bads = split_and_serialize(p, 700)
    assert not bads
    assert len(goods) >= 2
    recovered = [e for g in goods for e in json.loads(g["body"])["data"]]
    assert recovered == els
    assert all(g["size"] <= 700 for g in goods)


# --- Spark path -------------------------------------------------------------


def test_pipeline_split_oversized(spark):
    from opensnowcat_collector_spark import pipeline
    from opensnowcat_collector_spark.config import SinkConfig
    from opensnowcat_collector_spark.schema import RAW_REQUEST_SCHEMA

    from .fixtures import _req

    els = [{"e": "pv", "n": i, "pad": "p" * 60} for i in range(12)]
    body = _compact(
        {"schema": "iglu:com.snowplowanalytics.snowplow/payload_data/jsonschema/1-0-4", "data": els}
    )
    reqs = [
        _req(0),
        _req(
            1,
            method="POST",
            path="/com.snowplowanalytics.snowplow/tp2",
            body=body,
            content_type="application/json",
            querystring=None,
        ),
        _req(2, querystring="e=pv&huge=" + "x" * 2000),  # oversized GET
    ]
    cfg = CollectorConfig(
        deterministic_now_ms=1705320000000,
        good_sink=SinkConfig(kind="stdout", max_bytes=900),
    )
    raw = spark.createDataFrame(reqs, RAW_REQUEST_SCHEMA)
    res = pipeline.run(pipeline.route(raw, cfg), cfg)
    good = res.good.collect()
    bad = res.bad.collect()
    # req-0 is small -> one good; req-1 splits into >=2 goods; req-2 -> bad
    by_req = {}
    for r in good:
        by_req.setdefault(r["request_id"], []).append(r)
    assert len(by_req["req-0000"]) == 1
    assert len(by_req["req-0001"]) >= 2
    ordered = sorted(by_req["req-0001"], key=lambda r: r["split_index"])
    recovered = [e for r in ordered for e in json.loads(r["body"])["data"]]
    assert recovered == els
    # joinSize accounting counts n join-bytes where the real batch json
    # has n-1 commas + 2 brackets: full batches can land at max_bytes+1,
    # exactly as in the reference's split() walk (SplitBatch.scala:48-74)
    assert all(r["serialized_size"] <= 900 + 1 for r in by_req["req-0001"])
    sv = [b for b in bad if b["kind"] == "size_violation"]
    assert len(sv) == 1
    assert "GET requests cannot be split" in sv[0]["expectation"]
    assert sv[0]["maximum_allowed_size_bytes"] == 900
    # JVM serialization must match the Python splitter's canonical form,
    # and the JVM routing size must match the Thrift encoder exactly
    r0 = by_req["req-0000"][0].asDict()
    assert r0["serialized"] == serialize_payload(r0)
    assert r0["serialized_size"] == payload_size(r0)


def test_split_no_cross_match_on_shared_request_id(spark):
    """Two oversized payloads sharing a request_id (possible after the
    Amplitude fan-out, or from replayed logs) must each get back exactly
    their own split bodies — the split stage emits full payload rows
    instead of re-joining on the non-unique request_id."""
    from opensnowcat_collector_spark import pipeline
    from opensnowcat_collector_spark.config import SinkConfig
    from opensnowcat_collector_spark.schema import RAW_REQUEST_SCHEMA

    from .fixtures import _req

    def tp2_body(pad_char: str):
        # same element shape/size as test_pipeline_split_oversized; the pad
        # character marks which payload an element came from
        els = [{"e": "pv", "n": i, "pad": pad_char * 60} for i in range(12)]
        return els, _compact(
            {
                "schema": "iglu:com.snowplowanalytics.snowplow/payload_data/jsonschema/1-0-4",
                "data": els,
            }
        )

    els_a, body_a = tp2_body("a")
    els_b, body_b = tp2_body("b")
    shared = dict(
        method="POST",
        path="/com.snowplowanalytics.snowplow/tp2",
        content_type="application/json",
        querystring=None,
    )
    reqs = [
        _req(0, body=body_a, **shared),
        _req(0, body=body_b, **shared),  # same request_id "req-0000"
    ]
    cfg = CollectorConfig(
        deterministic_now_ms=1705320000000,
        good_sink=SinkConfig(kind="stdout", max_bytes=900),
    )
    raw = spark.createDataFrame(reqs, RAW_REQUEST_SCHEMA)
    good = pipeline.run(pipeline.route(raw, cfg), cfg).good.collect()
    assert len(good) >= 4 and all(r["request_id"] == "req-0000" for r in good)
    recovered: dict[str, list] = {"a": [], "b": []}
    for r in sorted(good, key=lambda r: r["split_index"]):
        els = json.loads(r["body"])["data"]
        tags = {e["pad"][0] for e in els}
        assert len(tags) == 1, f"split body mixes payloads: {tags}"
        recovered[tags.pop()].extend(els)
    assert recovered["a"] == els_a
    assert recovered["b"] == els_b


# --- Thrift-accounting spec ports (SplitBatchSpec.scala:76-158) -------------
# The reference sizes the whole event by its serialized-Thrift bytes; these
# cases pin the exact byte counts from the Scala spec.


def test_thrift_spec_oversized_get_1019():
    """SplitBatchSpec 'Reject an oversized GET': querystring of 1000 x's on
    an otherwise-empty payload serializes to exactly 1019 Thrift bytes."""
    p = {"querystring": "x" * 1000, "timestamp": 0}
    goods, bads = split_and_serialize(p, 100)
    assert not goods and len(bads) == 1
    assert bads[0]["expectation"] == "GET requests cannot be split"
    assert bads[0]["actual_size"] == 1019
    assert len(bads[0]["payload"]) == 100 // 10


def test_thrift_spec_unparseable_body_1019():
    """SplitBatchSpec 'unparseable body': body of 1000 s's -> 1019 Thrift
    bytes, not-json rejection."""
    p = {"body": "s" * 1000, "timestamp": 0}
    goods, bads = split_and_serialize(p, 100)
    assert not goods and len(bads) == 1
    assert bads[0]["expectation"].startswith(
        "cannot split POST requests which are not json"
    )
    assert bads[0]["actual_size"] == 1019


def test_thrift_spec_invalid_iglu_uri_1091():
    """SplitBatchSpec 'oversized even without its body': schema "s" is not
    a valid Iglu URI -> not-self-describing; whole event = 1091 Thrift
    bytes (path 1000 + body 65 + timestamp + framing)."""
    body = _compact(
        {
            "schema": "s",
            "data": [{"e": "se", "tv": "js"}, {"e": "se", "tv": "js"}],
        }
    )
    p = {"body": body, "path": "p" * 1000, "timestamp": 0}
    goods, bads = split_and_serialize(p, 1000)
    assert not goods and len(bads) == 1
    assert bads[0]["expectation"].startswith(
        "cannot split POST requests which are not self-describing"
    )
    assert bads[0]["actual_size"] == 1091


def test_thrift_spec_two_good_four_bad():
    """SplitBatchSpec 'three large events and four very large events':
    maxBytes=1000 -> 2 good batches, 4 failed big events."""
    uri = "iglu:com.snowplowanalytics.snowplow.badrows/size_violation/jsonschema/1-0-0"
    data = [
        {"e": "se", "tv": "x" * 600},
        {"e": "se", "tv": "x" * 5},
        {"e": "se", "tv": "x" * 600},
        {"e": "se", "tv": "y" * 1000},
        {"e": "se", "tv": "y" * 1000},
        {"e": "se", "tv": "y" * 1000},
        {"e": "se", "tv": "y" * 1000},
    ]
    p = {"body": _compact({"schema": uri, "data": data}), "timestamp": 0}
    goods, bads = split_and_serialize(p, 1000)
    assert len(goods) == 2
    assert len(bads) == 4
    assert all(
        b["expectation"] == "this POST request split is still too large" for b in bads
    )


def test_thrift_size_expr_matches_codec(spark):
    """The JVM routing expression and the Python Thrift encoder must agree
    bit-for-bit on every null-pattern of the payload."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from opensnowcat_collector_spark.transforms.split import (
        _PAYLOAD_FIELDS,
        thrift_size_expr,
    )

    rows = [
        _payload(body='{"schema":"s","data":[1]}'),
        _payload(body=None, querystring=None, referer_uri=None, headers=None),
        _payload(headers=["a: b", "c: d", "Content-Type: application/json"]),
        _payload(content_type=None, user_agent="Mozilla/5.0 (X11; Linux) ünïcödé"),
        {k: None for k in _PAYLOAD_FIELDS} | {"timestamp": 0},
    ]
    schema = StructType(
        [
            StructField(
                n,
                LongType()
                if n == "timestamp"
                else ArrayType(StringType())
                if n == "headers"
                else StringType(),
            )
            for n in _PAYLOAD_FIELDS
        ]
    )
    df = spark.createDataFrame(rows, schema)
    got = [r[0] for r in df.select(thrift_size_expr()).collect()]
    want = [payload_size(r) for r in rows]
    assert got == want


def test_collector_split_accounting_oracle_constants():
    """The collector_split_accounting DuckDB oracle uses closed-form thrift
    size constants (OP=303 POST overhead, OG=220 GET overhead, s=26 small
    element, S=435 big element, 54 envelope chars).  Pin each against the
    REAL encoder so the oracle arithmetic can never silently drift from
    thrift_codec / the fixture shapes."""
    import json

    from opensnowcat_collector_spark.config import COLLECTOR_PAYLOAD_SCHEMA
    from opensnowcat_collector_spark.engine.collector_queries import _IGLU, _SPLIT_CFG
    from opensnowcat_collector_spark.thrift_codec import encode_collector_payload

    assert _SPLIT_CFG.good_sink.max_bytes == 700
    tag = _SPLIT_CFG.collector_tag
    uid = 1234
    qs = f"e=pv&nuid=u-{uid}"
    nuid = f"u-{uid}"
    body = '{"schema":"' + _IGLU + '","data":[{"e":"pv","i":"000000001"}]}'
    post = {
        "schema": COLLECTOR_PAYLOAD_SCHEMA,
        "ip_address": "10.0.0.1",
        "timestamp": _SPLIT_CFG.deterministic_now_ms,
        "encoding": "UTF-8",
        "collector": tag,
        "querystring": qs,
        "body": body,
        "path": "/com.snowplowanalytics.snowplow/tp2",
        "user_agent": "UA",
        "referer_uri": None,
        "hostname": "collector.local",
        "network_user_id": nuid,
        "headers": ["application/json"],
        "content_type": "application/json",
    }
    op = len(encode_collector_payload(post)) - len(qs) - len(nuid) - len(body)
    assert op == 303
    get = post | {"body": None, "content_type": None, "headers": [], "path": "/i"}
    og = len(encode_collector_payload(get)) - len(qs) - len(nuid)
    assert og == 220
    compact = lambda o: json.dumps(o, separators=(",", ":"))  # noqa: E731
    assert len(compact({"e": "pv", "i": "000000001"})) == 26
    assert len(compact({"e": "pv", "i": "000000001", "pad": "x" * 400})) == 435
    assert body.index("[") == 53  # 54 envelope chars incl. trailing '}'
