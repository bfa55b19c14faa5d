"""Collector dataflow operators exposed in the graded query gate.

Synthesizes a deterministic raw-request DataFrame from the ``events``
table (pure column expressions — no extra input data), runs the REAL
pipeline ``enrich`` stage (transforms T1-T6, F1, F3, F6 from SURVEY §2),
and projects the decision columns.  The DuckDB oracle replicates the
transform semantics directly over ``events``, so this is an end-to-end
parity check of the collector logic itself, not just of the relational
toolkit it is built from.

reference semantics verified here:
- T1 nuid resolution order (CollectorService.scala:133-141,539-547):
  SP-Anonymous -> zero UUID; else ``nuid`` query param; else cookie.
- T2 ip fallback + partition key (CollectorService.scala:520-532).
- T3 path mapping (CollectorService.scala:102-108).
- T4/F3 querystring parse + percent-encoding validation
  (CollectorService.scala:184-199).
- S3 redirect detection (CollectorService.scala:131).
- F1 do-not-track regex cookie (model.scala:69-72).
- F6 header scrubbing incl. SP-Anonymous extras (CollectorService.scala:466-478).
- T5 Set-Cookie suppression under DNT/anonymous (CollectorService.scala:401-434).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import pipeline
from ..config import (
    CollectorConfig,
    CookieBounceConfig,
    DoNotTrackCookieConfig,
    RedirectMacroConfig,
    SinkConfig,
)
from ..sqlfrag import sql_str
from .relational import register
from .tables import table

_CFG = CollectorConfig(
    deterministic_now_ms=1705320000000,
    do_not_track_cookie=DoNotTrackCookieConfig(enabled=True, name="dnt", value="opt-out"),
    paths={"/ice.png": "/i"},
    use_ip_address_as_partition_key=True,
    # the roundtrip query exercises both bridges (reference default is
    # off; enabled here exactly like the reference's bridge test configs)
    enable_analyticsjs_bridge=True,
    enable_amplitude_bridge=True,
)

# DuckDB replica of identity._uuid_expr's deterministic v4-shaped UUID.
_DUCK_UUID = (
    "substr(md5(request_id),1,8) || '-' || substr(md5(request_id),9,4)"
    " || '-4' || substr(md5(request_id),14,3)"
    " || '-8' || substr(md5(request_id),18,3)"
    " || '-' || substr(md5(request_id),21,12)"
)

_ORACLE = f"""
WITH r AS (
  SELECT 'ev-' || CAST(event_id AS VARCHAR) AS request_id,
         user_id, event_type
  FROM events
)
SELECT request_id,
       CASE WHEN user_id % 7 = 0 THEN '00000000-0000-0000-0000-000000000000'
            WHEN user_id % 7 = 1 AND user_id % 17 <> 0
                 THEN 'ck-' || CAST(user_id AS VARCHAR)
            ELSE 'u-' || CAST(user_id AS VARCHAR) END AS network_user_id,
       CASE WHEN user_id % 13 = 0 THEN 'unknown'
            ELSE '10.0.' || CAST(user_id % 250 AS VARCHAR) || '.7' END AS ip_address,
       CASE WHEN user_id % 13 = 0 THEN {_DUCK_UUID}
            ELSE '10.0.' || CAST(user_id % 250 AS VARCHAR) || '.7' END AS partition_key,
       CASE WHEN user_id % 5 = 2 THEN '/r/track' ELSE '/i' END AS mapped_path,
       user_id % 5 = 2 AS is_redirect,
       user_id % 17 <> 0 AS qs_valid,
       CASE WHEN user_id % 17 = 0 THEN NULL ELSE event_type END AS param_e,
       CAST(CASE WHEN user_id % 7 = 0 THEN 1 ELSE 2 END AS INTEGER) AS n_headers,
       user_id % 11 = 0 AS do_not_track,
       NOT (user_id % 11 = 0 OR user_id % 7 = 0) AS has_set_cookie
FROM r
"""


@register("collector_enrich_events", oracle=_ORACLE)
def collector_enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> synthetic raw HTTP requests -> REAL pipeline.enrich ->
    decision columns.  Shuffle-free narrow plan (the enrich stage is pure
    projections/filters), identical at any scale."""
    e = table(spark, sf_dir, "events")
    uid = F.col("user_id")
    uid_s = uid.cast("string")
    et = F.col("event_type")

    qs = (
        F.when(uid % 17 == 0, F.concat(F.lit("e=%zz&nuid=u-"), uid_s))
        .when(uid % 7 == 1, F.concat(F.lit("e="), et))
        .otherwise(F.concat(F.lit("e="), et, F.lit("&nuid=u-"), uid_s))
    )
    base_cookies = F.create_map(F.lit("sp"), F.concat(F.lit("ck-"), uid_s))
    cookies = F.when(
        uid % 11 == 0,
        F.map_concat(base_cookies, F.create_map(F.lit("dnt"), F.lit("opt-out"))),
    ).otherwise(base_cookies)

    raw = e.select(
        F.concat(F.lit("ev-"), F.col("event_id").cast("string")).alias("request_id"),
        F.lit("GET").alias("method"),
        F.when(uid % 5 == 0, F.lit("/ice.png"))
        .when(uid % 5 == 2, F.lit("/r/track"))
        .otherwise(F.lit("/i"))
        .alias("path"),
        qs.alias("querystring"),
        F.lit(None).cast("string").alias("body"),
        F.lit("UA").alias("user_agent"),
        F.lit(None).cast("string").alias("referer_uri"),
        F.lit("collector.local").alias("hostname"),
        F.when(uid % 13 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("10.0."), (uid % 250).cast("string"), F.lit(".7")))
        .alias("remote_ip"),
        F.array(
            F.lit("User-Agent: UA"),
            F.lit("X-Forwarded-For: 9.9.9.9"),
            F.lit("Raw-Request-URI: /x"),
        ).alias("headers"),
        F.lit(None).cast("string").alias("origin"),
        cookies.alias("cookies"),
        F.lit(None).cast("string").alias("content_type"),
        F.when(uid % 7 == 0, F.lit("*")).otherwise(F.lit(None).cast("string")).alias(
            "sp_anonymous"
        ),
        F.col("ts").alias("request_time"),
    )
    enriched = pipeline.enrich(raw, _CFG)
    return enriched.select(
        "request_id",
        "network_user_id",
        "ip_address",
        "partition_key",
        "mapped_path",
        "is_redirect",
        "qs_valid",
        F.col("query_params")["e"].alias("param_e"),
        F.size("scrubbed_headers").alias("n_headers"),
        "do_not_track",
        F.col("set_cookie").isNotNull().alias("has_set_cookie"),
    )


# ---------------------------------------------------------------------------
# T7/T8 bridge round-trip: synthesize Segment + Amplitude requests from
# events, run the REAL pipeline (route + run, incl. the
# amplitude explode fan-out), then extract every constructed envelope
# field back out (incl. unbase64'ing ue_px) and compare to the oracle's
# directly-computed truth.
# ---------------------------------------------------------------------------

_BRIDGE_ORACLE = """
WITH seg AS (
  SELECT 'ev-' || CAST(event_id AS VARCHAR) AS request_id,
         user_id, event_id, event_type
  FROM events WHERE user_id % 2 = 0
), amp AS (
  SELECT 'ev-' || CAST(e.event_id AS VARCHAR) AS request_id,
         e.user_id, e.event_id, e.ts, sub.sfx
  FROM events e CROSS JOIN (VALUES ('a'), ('b')) AS sub(sfx)
  WHERE e.user_id % 2 = 1
)
SELECT request_id,
       '/com.snowplowanalytics.snowplow/tp2' AS path,
       'ajs_bridge' AS aid, 'ue' AS e_param, 'web' AS p_param,
       '1.2.3' AS tv,
       'u-' || CAST(user_id AS VARCHAR) AS tnuid,
       'su' || CAST(user_id AS VARCHAR) AS uid_param,
       'anon-' || CAST(user_id AS VARCHAR) AS duid,
       CAST(NULL AS VARCHAR) AS dtm,
       'https://site/' || event_type AS url,
       'pg-' || CAST(event_id AS VARCHAR) AS page,
       'en-US' AS lang,
       'iglu:com.segment/page/jsonschema/2-0-0' AS inner_schema,
       CAST(NULL AS VARCHAR) AS inner_ip
FROM seg
UNION ALL
SELECT request_id,
       '/com.snowplowanalytics.snowplow/tp2' AS path,
       'amp_bridge' AS aid, 'ue' AS e_param, 'app' AS p_param,
       'amplitude-js/8.0' AS tv,
       'u-' || CAST(user_id AS VARCHAR) AS tnuid,
       'au' || CAST(user_id AS VARCHAR) || '-' || sfx AS uid_param,
       'd' || CAST(user_id AS VARCHAR) || '-' || sfx AS duid,
       CAST(epoch_ms(ts) AS VARCHAR) AS dtm,
       CAST(NULL AS VARCHAR) AS url,
       CAST(NULL AS VARCHAR) AS page,
       CAST(NULL AS VARCHAR) AS lang,
       'iglu:com.amplitude/payload/jsonschema/1-0-0' AS inner_schema,
       '10.0.' || CAST(user_id % 250 AS VARCHAR) || '.7' AS inner_ip
FROM amp
"""


@register("collector_bridge_roundtrip", oracle=_BRIDGE_ORACLE)
def collector_bridge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment (T7) and Amplitude (T8, 2-event fan-out) requests through
    the full pipeline; every envelope field is then re-extracted from the
    produced body — aid/e/p constants, tv, uid/duid/dtm lifts, url/page/
    locale lifts, and the base64 ue_px inner payload (schema + substituted
    $remote ip).  Narrow plan + one explode; no shuffle."""
    e = table(spark, sf_dir, "events")
    uid = F.col("user_id")
    uid_s = uid.cast("string")
    eid_s = F.col("event_id").cast("string")
    ip = F.concat(F.lit("10.0."), (uid % 250).cast("string"), F.lit(".7"))
    ms = F.unix_millis(F.col("ts")).cast("string")

    seg_body = F.concat(
        F.lit('{"userId":"su'), uid_s,
        F.lit('","properties":{"url":"https://site/'), F.col("event_type"),
        F.lit('","page":"pg-'), eid_s,
        F.lit('"},"context":{"library":{"version":"1.2.3"},"locale":"en-US","timezone":"UTC"}}'),
    )

    def amp_event(sfx: str):
        return F.concat(
            F.lit('{"device_id":"d'), uid_s, F.lit(f'-{sfx}'),
            F.lit('","user_id":"au'), uid_s, F.lit(f'-{sfx}'),
            F.lit('","time":'), ms,
            F.lit(',"ip":"$remote","library":"amplitude-js/8.0"}'),
        )

    amp_body = F.concat(
        F.lit('{"api_key":"k","events":['), amp_event("a"), F.lit(","), amp_event("b"), F.lit("]}")
    )

    is_seg = uid % 2 == 0
    raw = e.select(
        F.concat(F.lit("ev-"), eid_s).alias("request_id"),
        F.lit("POST").alias("method"),
        F.when(is_seg, F.lit("/com.segment/v1/p"))
        .otherwise(F.lit("/com.amplitude/2/httpapi"))
        .alias("path"),
        F.concat(F.lit("nuid=u-"), uid_s).alias("querystring"),
        F.when(is_seg, seg_body).otherwise(amp_body).alias("body"),
        F.lit("UA").alias("user_agent"),
        F.lit(None).cast("string").alias("referer_uri"),
        F.lit("collector.local").alias("hostname"),
        ip.alias("remote_ip"),
        F.array().cast("array<string>").alias("headers"),
        F.lit(None).cast("string").alias("origin"),
        F.when(
            is_seg, F.create_map(F.lit("ajs_anonymous_id"), F.concat(F.lit("anon-"), uid_s))
        ).otherwise(F.create_map().cast("map<string,string>")).alias("cookies"),
        F.lit("application/json").alias("content_type"),
        F.lit(None).cast("string").alias("sp_anonymous"),
        F.col("ts").alias("request_time"),
    )
    res = pipeline.run(pipeline.route(raw, _CFG), _CFG)
    body = F.col("body")
    d0 = "$.data[0]."
    ue_px = F.decode(F.unbase64(F.get_json_object(body, d0 + "ue_px")), "UTF-8")
    return res.good.select(
        "request_id",
        "path",
        F.get_json_object(body, d0 + "aid").alias("aid"),
        F.get_json_object(body, d0 + "e").alias("e_param"),
        F.get_json_object(body, d0 + "p").alias("p_param"),
        F.get_json_object(body, d0 + "tv").alias("tv"),
        F.get_json_object(body, d0 + "tnuid").alias("tnuid"),
        F.get_json_object(body, d0 + "uid").alias("uid_param"),
        F.get_json_object(body, d0 + "duid").alias("duid"),
        F.get_json_object(body, d0 + "dtm").alias("dtm"),
        F.get_json_object(body, d0 + "url").alias("url"),
        F.get_json_object(body, d0 + "page").alias("page"),
        F.get_json_object(body, d0 + "lang").alias("lang"),
        F.get_json_object(ue_px, "$.data.schema").alias("inner_schema"),
        F.get_json_object(ue_px, "$.data.data.data.ip").alias("inner_ip"),
    )


# ---------------------------------------------------------------------------
# Structured Streaming under the oracle gate: the hourly rollup computed
# by an actual streaming query (file source -> watermark -> tumbling
# window -> memory sink), hash-compared to the same SQL as the batch twin.
# ---------------------------------------------------------------------------

_STREAMING_ROLLUP_ORACLE = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_value
FROM events
GROUP BY 1, 2
"""

_STREAM_Q_SEQ = [0]


@register("streaming_hourly_rollup", oracle=_STREAMING_ROLLUP_ORACLE)
def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events replayed through a REAL streaming query: parquet file
    source -> 1h watermark -> tumbling window agg -> memory sink
    (availableNow drains everything, so the complete result equals the
    batch rollup and the DuckDB oracle).  This puts the Structured
    Streaming execution path itself under the correctness gate."""
    import tempfile

    from .streaming_queries import ROCKSDB_PROVIDER, _stream_table
    from .tables import normalize_event_ts

    # match _drain_to_memory: the driver's bare session must run the
    # graded streaming path on the production RocksDB state store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    batch = table(spark, sf_dir, "events")
    src = normalize_event_ts(_stream_table(spark, sf_dir, "events"))
    _STREAM_Q_SEQ[0] += 1
    qname = f"stream_rollup_{_STREAM_Q_SEQ[0]}"
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast("double") / 100.0
            ).alias("total_value"),
        )
    )
    ckpt = tempfile.mkdtemp(prefix="ckpt_rollup_")
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    from .streaming_queries import _await_drain

    try:
        _await_drain(q, "streaming_hourly_rollup")
    finally:
        # same no-leak discipline as streaming_queries._drain_to_memory:
        # RocksDB state files per run would otherwise accumulate in /tmp
        # forever across sweep/bench/driver rounds
        if not q.isActive:
            import shutil

            shutil.rmtree(ckpt, ignore_errors=True)
    assert batch is not None  # keep the batch loader exercised for schema parity
    return spark.table(qname).select(
        F.col("w.start").alias("hour_start"),
        "event_type",
        "n_events",
        "total_value",
    )


# ---------------------------------------------------------------------------
# F2 cookie bounce under the oracle gate: bounce-enabled config, requests
# with/without resolvable nuid.
# ---------------------------------------------------------------------------

_BOUNCE_CFG = CollectorConfig(
    deterministic_now_ms=1705320000000,
    cookie_bounce=CookieBounceConfig(enabled=True),
)

_BOUNCE_ORACLE = f"""
SELECT 'ev-' || CAST(event_id AS VARCHAR) AS request_id,
       -- bounce iff nuid unresolvable (no qs nuid, no cookie), not already
       -- bouncing (n3pc), pixel GET, not a redirect
       (user_id % 3 = 0 AND user_id % 4 <> 0 AND user_id % 5 <> 2) AS bounce,
       CASE WHEN user_id % 3 = 0 AND user_id % 4 = 0
                 THEN '00000000-0000-0000-0000-000000000000'  -- bouncing: fallback nuid
            WHEN user_id % 3 = 0 THEN {_DUCK_UUID}                  -- deterministic md5-derived uuid
            ELSE 'u-' || CAST(user_id AS VARCHAR) END AS resolved_nuid,
       user_id % 4 = 0 AS already_bouncing
FROM (SELECT 'ev-' || CAST(event_id AS VARCHAR) AS request_id, user_id, event_id FROM events) r
"""


@register("collector_bounce_events", oracle=_BOUNCE_ORACLE)
def collector_bounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 cookie-bounce semantics (CollectorService.scala:134-141) through
    the real enrich stage: bounce fires only for pixel GETs with an
    unresolvable nuid that aren't already carrying the n3pc marker and
    aren't redirects.  deterministic_now_ms freezes the fresh-uuid branch
    so ALL nuid outcomes (fallback / md5-uuid / qs) are oracle-exact."""
    e = table(spark, sf_dir, "events")
    uid = F.col("user_id")
    uid_s = uid.cast("string")

    # uid%3==0: no nuid anywhere (bounce candidates); others carry qs nuid.
    # uid%4==0: already bouncing (n3pc=true in qs).
    # uid%5==2: redirect path (never bounces).
    qs = (
        F.when((uid % 3 == 0) & (uid % 4 == 0), F.lit("e=pv&n3pc=true"))
        .when(uid % 3 == 0, F.lit("e=pv"))
        .when(uid % 4 == 0, F.concat(F.lit("e=pv&n3pc=true&nuid=u-"), uid_s))
        .otherwise(F.concat(F.lit("e=pv&nuid=u-"), uid_s))
    )
    raw = e.select(
        F.concat(F.lit("ev-"), F.col("event_id").cast("string")).alias("request_id"),
        F.lit("GET").alias("method"),
        F.when(uid % 5 == 2, F.lit("/r/track")).otherwise(F.lit("/i")).alias("path"),
        qs.alias("querystring"),
        F.lit(None).cast("string").alias("body"),
        F.lit("UA").alias("user_agent"),
        F.lit(None).cast("string").alias("referer_uri"),
        F.lit("collector.local").alias("hostname"),
        F.lit("10.0.0.1").alias("remote_ip"),
        F.array().cast("array<string>").alias("headers"),
        F.lit(None).cast("string").alias("origin"),
        F.create_map().cast("map<string,string>").alias("cookies"),
        F.lit(None).cast("string").alias("content_type"),
        F.lit(None).cast("string").alias("sp_anonymous"),
        F.col("ts").alias("request_time"),
    )
    enriched = pipeline.enrich(raw, _BOUNCE_CFG)
    # deterministic_now_ms freezes the fresh-uuid branch to an md5-derived
    # v4-shaped uuid of request_id, which the oracle reproduces exactly
    return enriched.select(
        "request_id",
        "bounce",
        F.col("network_user_id").alias("resolved_nuid"),
        F.col("qs_bouncing").alias("already_bouncing"),
    )


# ---------------------------------------------------------------------------
# §2.4 + F7 + T10 split/size-guard accounting under the oracle gate: the
# reference's signature transform (SplitBatch.scala:48-113) end-to-end
# through the REAL pipeline.run size routing + mapInPandas split stage,
# graded per-request against a closed-form DuckDB oracle.
# ---------------------------------------------------------------------------

_SPLIT_CFG = CollectorConfig(
    deterministic_now_ms=1705320000000,
    good_sink=SinkConfig(max_bytes=700),  # small cap so fixtures stay compact
)

# Closed-form size constants under the default "thrift" accounting
# (TBinaryProtocol, thrift_codec.encode_collector_payload — pinned
# byte-exact by tests/test_split.py and test_collector_split_constants):
#   OP  = 303  thrift bytes of a tp2 POST payload minus len(querystring)
#              + len(network_user_id) + len(body)   [all other fields fixed]
#   OG  = 220  same for a pixel GET (no body/content_type, empty headers)
#   s   = 26   compact-JSON bytes of a small data element
#              {"e":"pv","i":"<9 digits>"}
#   S   = 435  big element (adds ,"pad":"<400 x's>")
# With L = len(str(user_id)) and n = 3 + user_id % 40 elements:
#   whole(split body) = OP + (12+L) + (2+L) + 54 + ibd  [54 = envelope chars]
#   maximum = max_bytes - whole + ibd = 329 - 2L        [ibd cancels]
#   k = maximum // 27 elements per batch; n_batches = ceil(n_small / k)
_SPLIT_ORACLE = """
WITH p AS (
  SELECT 'ev-' || CAST(event_id AS VARCHAR) AS request_id,
         user_id % 8 AS m,
         3 + user_id % 40 AS n,
         length(CAST(user_id AS VARCHAR)) AS l
  FROM events
), f AS (
  SELECT request_id, m, n, l,
         (329 - 2*l) // 27 AS k,
         (n + 2) // 3 AS nbig,
         n - (n + 2) // 3 AS nsmall,
         372 + 2*l + 27*n AS whole1
  FROM p
)
SELECT request_id,
       CAST(CASE WHEN m = 0 THEN 1
                 WHEN m = 1 AND whole1 < 700 THEN 1
                 WHEN m = 1 THEN (n + k - 1) // k
                 WHEN m = 4 THEN (nsmall + k - 1) // k
                 ELSE 0 END AS BIGINT) AS n_good,
       CAST(CASE WHEN m IN (0, 1) THEN 0
                 WHEN m = 4 THEN nbig
                 ELSE 1 END AS BIGINT) AS n_bad,
       CASE WHEN m = 2 THEN 'not_json'
            WHEN m = 3 THEN 'get'
            WHEN m = 4 THEN 'element_too_big'
            WHEN m = 5 THEN 'not_self_describing'
            WHEN m = 6 THEN 'no_data_array'
            WHEN m = 7 THEN 'envelope_too_big'
            END AS reason,
       CAST(CASE WHEN m = 0 THEN 1
                 WHEN m = 1 THEN n
                 WHEN m = 4 THEN nsmall END AS BIGINT) AS n_elements_out,
       CAST(CASE WHEN m = 2 THEN 1017 + 2*l
                 WHEN m = 3 THEN 999 + 2*l
                 WHEN m = 4 THEN 435
                 WHEN m = 5 THEN 1044 + 2*l
                 WHEN m = 6 THEN 1073 + 2*l
                 WHEN m = 7 THEN 1164 + 2*l END AS BIGINT) AS max_bad_size
FROM f
"""

_IGLU = "iglu:com.acme/ev/jsonschema/1-0-0"


@register("collector_split_accounting", oracle=_SPLIT_ORACLE)
def collector_split_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 split bin-packing + F7 size guard + T10 size-violation rows,
    per-request accounting through the REAL ``pipeline.run`` path
    (SplitBatch.scala:48-113 semantics, SplitBatchSpec.scala:35-158 cases).

    Each event synthesizes one request covering a split branch by
    ``user_id % 8``: 0 small (never routed to Python), 1 clean greedy
    first-fit split (small n stays on the JVM fast path — the routing
    threshold itself is graded), 2 oversized non-JSON POST, 3 oversized
    pixel GET, 4 split with unsplittable big elements (good batches AND
    per-element SizeViolations from one request), 5 non-self-describing,
    6 no data array, 7 envelope-without-data still too big.

    Output per request: good-split count, bad-row count, violation
    category, total elements preserved across split bodies, and the max
    SizeViolation actual-size — the last two force the oracle to
    reproduce the exact thrift size accounting and the greedy walk.

    Scale: synthesis + split are narrow (mapInPandas on the oversized
    subset only); the accounting is one groupBy(request_id) + two
    broadcast-free left joins on the same key — co-partitioned by AQE,
    linear in request count."""
    e = table(spark, sf_dir, "events")
    pad760 = "x" * 760
    pad400 = "x" * 400
    pad700x = "x" * 700
    pad700z = "z" * 700

    # synthesis as parsed SQL fragments (sqlfrag, optimization r14):
    # identical expression trees, ~15 py4j calls instead of ~500
    m = "(user_id % 8)"
    n = "cast(user_id % 40 + 3 as int)"
    small_el = (
        lambda i: "concat('{\"e\":\"pv\",\"i\":\"',"
        f" lpad(cast({i} as string), 9, '0'), '\"}}')"
    )
    big_el = (
        lambda i: "concat('{\"e\":\"pv\",\"i\":\"',"
        f" lpad(cast({i} as string), 9, '0'),"
        " '\",\"pad\":\"" + pad400 + "\"}')"
    )

    def sd_body(elements: str) -> str:
        head = '{"schema":"' + _IGLU + '","data":['
        return f"concat({sql_str(head)}, array_join({elements}, ','), ']}}')"

    els_small = f"transform(sequence(1, {n}), i -> {small_el('i')})"
    els_mixed = (
        f"transform(sequence(1, {n}),"
        f" i -> CASE WHEN i % 3 = 1 THEN {big_el('i')}"
        f" ELSE {small_el('i')} END)"
    )
    one_el = f"array({small_el('1')})"

    body = (
        f"CASE WHEN {m} = 0 THEN {sd_body(one_el)}"
        f" WHEN {m} = 1 THEN {sd_body(els_small)}"
        f" WHEN {m} = 2 THEN '{pad700z}'"
        f" WHEN {m} = 3 THEN cast(NULL as string)"
        f" WHEN {m} = 4 THEN {sd_body(els_mixed)}"
        f" WHEN {m} = 5 THEN {sql_str(chr(123) + chr(34) + 'schema' + chr(34) + ':' + chr(34) + 'nope' + chr(34) + ',' + chr(34) + 'data' + chr(34) + ':' + chr(34) + pad700x + chr(34) + chr(125))}"
        f" WHEN {m} = 6 THEN {sql_str(chr(123) + chr(34) + 'schema' + chr(34) + ':' + chr(34) + _IGLU + chr(34) + ',' + chr(34) + 'data' + chr(34) + ':' + chr(34) + pad700x + chr(34) + chr(125))}"
        f" ELSE {sd_body(one_el)} END"  # m == 7: small body, huge querystring
    )
    qs = (
        f"CASE WHEN {m} IN (3, 7)"
        f" THEN concat('e=pv&pad={pad760}&nuid=u-', cast(user_id as string))"
        " ELSE concat('e=pv&nuid=u-', cast(user_id as string)) END"
    )
    is_get = f"{m} = 3"
    raw = e.selectExpr(
        "concat('ev-', cast(event_id as string)) as request_id",
        f"CASE WHEN {is_get} THEN 'GET' ELSE 'POST' END as method",
        f"CASE WHEN {is_get} THEN '/i'"
        " ELSE '/com.snowplowanalytics.snowplow/tp2' END as path",
        f"{qs} as querystring",
        f"{body} as body",
        "'UA' as user_agent",
        "cast(NULL as string) as referer_uri",
        "'collector.local' as hostname",
        "'10.0.0.1' as remote_ip",
        "cast(array() as array<string>) as headers",
        "cast(NULL as string) as origin",
        "cast(map() as map<string,string>) as cookies",
        f"CASE WHEN {is_get} THEN cast(NULL as string)"
        " ELSE 'application/json' END as content_type",
        "cast(NULL as string) as sp_anonymous",
        "ts as request_time",
    )
    res = pipeline.run(pipeline.route(raw, _SPLIT_CFG), _SPLIT_CFG)

    goods = res.good.groupBy("request_id").agg(
        F.count(F.lit(1)).alias("n_good"),
        F.sum(
            F.size(
                F.from_json(
                    F.get_json_object("body", "$.data"), "array<map<string,string>>"
                )
            )
        ).cast("long").alias("n_elements_out"),
    )
    exp = F.col("bad_expectation")
    # Order-preserving int coding of the reason label (optimization r15):
    # max(<string>) has no fixed-width aggregation buffer, so the bads
    # arm planned a SortAggregate pair (sort + partial + sort + final).
    # The codes below are assigned in the labels' LEXICOGRAPHIC order
    # (element_too_big < envelope_too_big < get < no_data_array <
    # not_json < not_self_describing — note 'no_' < 'not' on '_' < 't'),
    # so max(code) selects exactly the row max(label) would; the label
    # is decoded after the aggregate.  All three aggregates are now
    # fixed-width -> HashAggregate (guide §2.3 narrower types;
    # the agg_countmin_heavy_hitters int-flag precedent).
    reason_code = (
        F.when(exp == "GET requests cannot be split", 3)
        .when(exp.startswith("cannot split POST requests which are not json"), 5)
        .when(exp == "cannot split POST requests which are not self-describing", 6)
        .when(exp == "cannot split POST requests which do not contain a data array", 4)
        .when(exp == 'cannot split this POST request because event without "data"'
              " field is still too big", 2)
        .when(exp == "this POST request split is still too large", 1)
    )
    _REASON_LABELS = {
        1: "element_too_big",
        2: "envelope_too_big",
        3: "get",
        4: "no_data_array",
        5: "not_json",
        6: "not_self_describing",
    }
    decoded = F.lit(None).cast("string")
    for code, label in _REASON_LABELS.items():
        decoded = F.when(F.col("reason_code") == code, label).otherwise(decoded)
    bads = (
        res.split_out.filter(F.col("is_bad") == 1)
        .groupBy("request_id")
        .agg(
            F.count(F.lit(1)).alias("n_bad"),
            F.max(reason_code).alias("reason_code"),
            F.max("bad_actual_size").cast("long").alias("max_bad_size"),
        )
        .select(
            "request_id", "n_bad", decoded.alias("reason"), "max_bad_size"
        )
    )
    base = raw.select("request_id")
    return (
        base.join(goods, "request_id", "left")
        .join(bads, "request_id", "left")
        .select(
            "request_id",
            F.coalesce(F.col("n_good"), F.lit(0)).cast("long").alias("n_good"),
            F.coalesce(F.col("n_bad"), F.lit(0)).cast("long").alias("n_bad"),
            "reason",
            "n_elements_out",
            "max_bad_size",
        )
    )


# ---------------------------------------------------------------------------
# F4 + F5 + T6 under the oracle gate (r7): redirect-domain allowlist,
# redirect macro expansion, and the Amplitude origin wildcard allowlist —
# the three remaining request-side filters that were pytest-only.
# ---------------------------------------------------------------------------

_REDIR_CFG = CollectorConfig(
    deterministic_now_ms=1705320000000,
    redirect_domains=("trusted.example.com", "ok.org"),
    redirect_macro=RedirectMacroConfig(enabled=True),  # default ${SP_NUID}
    enable_amplitude_bridge=True,
    amplitude_allowed_domains=("*.allowed.com", "exact.net"),
)

# ``allowed`` folds F4 (redirect rows) and F5 (amplitude rows) into ONE
# non-null boolean: nullable booleans hash differently across the two
# engines' pandas bridges (None vs NaN), and tri-state adds nothing here.
_REDIR_ORACLE = """
SELECT 'ev-' || CAST(event_id AS VARCHAR) AS request_id,
       CASE WHEN user_id % 2 = 0 THEN 'redirect' ELSE 'amplitude' END AS kind,
       CASE WHEN user_id % 2 = 0 THEN user_id % 10 IN (0, 4, 6)
            ELSE user_id % 14 IN (1, 3, 5, 7) END AS allowed,
       CASE WHEN user_id % 2 = 0 AND user_id % 10 = 0
                 THEN 'https://trusted.example.com/lp'
            WHEN user_id % 2 = 0 AND user_id % 10 = 4
                 THEN 'https://ok.org/page'
            WHEN user_id % 2 = 0 AND user_id % 10 = 6
                 THEN 'https://trusted.example.com/r/u-' || CAST(user_id AS VARCHAR)
            END AS redirect_location
FROM events
"""


@register("collector_redirect_origin_gates", oracle=_REDIR_ORACLE)
def collector_redirect_origin_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 redirect-domain allowlist (CollectorService.scala:391-398 —
    ``Option(new URL(target).getHost)`` then
    ``redirectDomains.exists(url.contains)``, which is Scala
    Option.contains: EXACT host equality, so ``ok.org.evil.com`` and
    ``sub.ok.org`` are both denied under entry 'ok.org'), T6 ${SP_NUID}
    macro expansion (CollectorService.scala redirect macro), and F5
    Amplitude origin wildcard allowlist (AmplitudeBridge.scala:56-112:
    '*.d' and exact entries both admit the apex and subdomains;
    'notallowed.com' must NOT match '*.allowed.com') — all through the
    REAL ``pipeline.enrich``.

    Even user_ids synthesize /r/* redirect GETs cycling five targets
    (allowed apex, the 'ok.org.evil.com' suffix trap a substring match
    would wrongly admit, the second allowlist apex exactly, allowed +
    macro, missing u param); odd user_ids synthesize Amplitude POSTs
    cycling seven Origin values (subdomain/apex of a wildcard entry,
    exact-entry apex/subdomain, denied host, the 'notallowed.com'
    suffix trap, null).  Narrow shuffle-free projection plan."""
    e = table(spark, sf_dir, "events")
    uid = F.col("user_id")
    uid_s = uid.cast("string")
    is_redir = uid % 2 == 0
    t = (uid % 10) / 2  # 0..4 over even uids
    target = (
        F.when(t == 0, F.lit("https://trusted.example.com/lp"))
        .when(t == 1, F.lit("https://ok.org.evil.com/phish"))
        .when(t == 2, F.lit("https://ok.org/page"))
        .when(t == 3, F.lit("https://trusted.example.com/r/${SP_NUID}"))
    )  # t == 4: no u param at all
    qs = F.when(
        is_redir & (t != 4),
        F.concat(F.lit("u="), target, F.lit("&nuid=u-"), uid_s),
    ).otherwise(F.concat(F.lit("nuid=u-"), uid_s))
    o = ((uid % 14) - 1) / 2  # 0..6 over odd uids (uid % 14 is odd there)
    origin = (
        F.when(o == 0, F.lit("app.allowed.com"))
        .when(o == 1, F.lit("allowed.com"))
        .when(o == 2, F.lit("exact.net"))
        .when(o == 3, F.lit("sub.exact.net"))
        .when(o == 4, F.lit("evil.net"))
        .when(o == 5, F.lit("notallowed.com"))  # suffix trap: must be denied
    )  # o == 6: null Origin -> denied
    amp_body = F.lit('{"api_key":"k","events":[{"device_id":"d","time":1}]}')
    raw = e.select(
        F.concat(F.lit("ev-"), F.col("event_id").cast("string")).alias("request_id"),
        F.when(is_redir, F.lit("GET")).otherwise(F.lit("POST")).alias("method"),
        F.when(is_redir, F.lit("/r/track"))
        .otherwise(F.lit("/com.amplitude/2/httpapi"))
        .alias("path"),
        qs.alias("querystring"),
        F.when(is_redir, F.lit(None).cast("string")).otherwise(amp_body).alias("body"),
        F.lit("UA").alias("user_agent"),
        F.lit(None).cast("string").alias("referer_uri"),
        F.lit("collector.local").alias("hostname"),
        F.lit("10.0.0.1").alias("remote_ip"),
        F.array().cast("array<string>").alias("headers"),
        F.when(is_redir, F.lit(None).cast("string")).otherwise(origin).alias("origin"),
        F.create_map().cast("map<string,string>").alias("cookies"),
        F.when(is_redir, F.lit(None).cast("string"))
        .otherwise(F.lit("application/json"))
        .alias("content_type"),
        F.lit(None).cast("string").alias("sp_anonymous"),
        F.col("ts").alias("request_time"),
    )
    enriched = pipeline.enrich(raw, _REDIR_CFG)
    return enriched.select(
        "request_id",
        F.when(F.col("is_redirect"), F.lit("redirect"))
        .otherwise(F.lit("amplitude"))
        .alias("kind"),
        F.when(F.col("is_redirect"), F.col("redirect_allowed"))
        .otherwise(F.col("amp_valid"))
        .alias("allowed"),
        "redirect_location",
    )


# ---------------------------------------------------------------------------
# T9 Thrift wire codec under the oracle gate (r7): encode -> decode
# roundtrip through the REAL pandas-UDF codec pair, graded on every
# payload field plus the exact TBinaryProtocol record size.
# ---------------------------------------------------------------------------

_RT_UNI_UA = "Mozilla/5.0 (X11; Linux) ünïcödé"  # 32 chars, 36 utf8 bytes
_RT_BODY = '{"schema":"iglu:com.acme/ev/jsonschema/1-0-0","data":[{"e":"pv"}]}'  # 66 B
_RT_TAG = "opensnowcat-collector-spark-0.1.0-stdout"

# Closed-form TBinaryProtocol size (string 7+utf8, i64 11, list<string>
# 8 + 4+utf8 per element, +1 stop; null fields omitted).  BASE=255 covers
# every fixed field; pinned against the real encoder by
# test_collector_thrift_roundtrip_constants.
_RT_ORACLE = f"""
WITH p AS (
  SELECT 'ev-' || CAST(event_id AS VARCHAR) AS request_id,
         user_id, event_id, ts,
         user_id % 2 = 0 AS even,
         user_id % 3 = 0 AS uni,
         user_id % 3 = 1 AS has_ref,
         length(CAST(user_id AS VARCHAR)) AS l,
         length(CAST(event_id AS VARCHAR)) AS le,
         length(CAST(user_id % 250 AS VARCHAR)) AS d
  FROM events
)
SELECT request_id,
       '10.0.' || CAST(user_id % 250 AS VARCHAR) || '.7' AS ip_address,
       epoch_ms(ts) AS "timestamp",
       'e=pv&eid=ev-' || CAST(event_id AS VARCHAR)
         || '&nuid=u-' || CAST(user_id AS VARCHAR) AS querystring,
       CASE WHEN even THEN '{_RT_BODY.replace("'", "''")}' END AS body,
       CASE WHEN even THEN '/com.snowplowanalytics.snowplow/tp2'
            ELSE '/i' END AS path,
       CASE WHEN uni THEN '{_RT_UNI_UA}' ELSE 'UA' END AS user_agent,
       CASE WHEN has_ref
            THEN 'https://ref/' || CAST(user_id % 10 AS VARCHAR) END AS referer_uri,
       'collector.local' AS hostname,
       'u-' || CAST(user_id AS VARCHAR) AS network_user_id,
       CASE WHEN even THEN 'application/json' END AS content_type,
       CAST(1 AS INTEGER) AS n_headers,
       'User-Agent: ' || (CASE WHEN uni THEN '{_RT_UNI_UA}' ELSE 'UA' END)
         AS header0,
       CAST(255 + d + le + 2*l
            + 2 * (CASE WHEN uni THEN 36 ELSE 2 END)
            + (CASE WHEN has_ref THEN 20 ELSE 0 END)
            + (CASE WHEN even THEN 129 ELSE 0 END) AS BIGINT) AS thrift_len
FROM p
"""


@register("collector_thrift_roundtrip", oracle=_RT_ORACLE)
def collector_thrift_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9 byte codec (thrift_codec.py; reference SplitBatch.scala:36-38
    TSerializer/TBinaryProtocol) driver-graded end-to-end: payload rows
    synthesized from ``events`` -> REAL ``with_thrift_bytes`` encoder ->
    REAL ``read_thrift_records`` decoder (its ingest direction, with the
    r7 passthrough columns) -> every field compared against identity plus
    the exact wire size against the closed-form TBinaryProtocol
    arithmetic.  Branch coverage: null-field omission (odd rows drop
    body/content_type/referer), multi-byte UTF-8 accounting (every third
    row's user agent), i64 timestamps, list<string> headers.

    Scale: two Arrow-batched Python stages (encode, decode) in one
    narrow pipeline — no shuffle, no join; the passthrough keeps record
    provenance without a post-decode join."""
    from ..thrift_codec import read_thrift_records, with_thrift_bytes

    e = table(spark, sf_dir, "events")
    uid = F.col("user_id")
    uid_s = uid.cast("string")
    eid_s = F.col("event_id").cast("string")
    even = uid % 2 == 0
    ua = F.when(uid % 3 == 0, F.lit(_RT_UNI_UA)).otherwise(F.lit("UA"))
    payload = e.select(
        F.concat(F.lit("ev-"), eid_s).alias("request_id"),
        F.lit(
            "iglu:com.snowplowanalytics.snowplow/CollectorPayload/thrift/1-0-0"
        ).alias("schema"),
        F.concat(F.lit("10.0."), (uid % 250).cast("string"), F.lit(".7")).alias(
            "ip_address"
        ),
        F.unix_millis(F.col("ts")).alias("timestamp"),
        F.lit("UTF-8").alias("encoding"),
        F.lit(_RT_TAG).alias("collector"),
        F.concat(
            F.lit("e=pv&eid=ev-"), eid_s, F.lit("&nuid=u-"), uid_s
        ).alias("querystring"),
        F.when(even, F.lit(_RT_BODY)).alias("body"),
        F.when(even, F.lit("/com.snowplowanalytics.snowplow/tp2"))
        .otherwise(F.lit("/i"))
        .alias("path"),
        ua.alias("user_agent"),
        F.when(
            uid % 3 == 1, F.concat(F.lit("https://ref/"), (uid % 10).cast("string"))
        ).alias("referer_uri"),
        F.lit("collector.local").alias("hostname"),
        F.concat(F.lit("u-"), uid_s).alias("network_user_id"),
        F.array(F.concat(F.lit("User-Agent: "), ua)).alias("headers"),
        F.when(even, F.lit("application/json")).alias("content_type"),
    )
    encoded = with_thrift_bytes(payload).withColumn(
        "thrift_len", F.octet_length("thrift_bytes").cast("long")
    )
    decoded = read_thrift_records(
        encoded, passthrough=("request_id", "thrift_len")
    )
    return decoded.select(
        "request_id",
        "ip_address",
        "timestamp",
        "querystring",
        "body",
        "path",
        "user_agent",
        "referer_uri",
        "hostname",
        "network_user_id",
        "content_type",
        F.size("headers").alias("n_headers"),
        F.col("headers")[0].alias("header0"),
        "thrift_len",
    )
