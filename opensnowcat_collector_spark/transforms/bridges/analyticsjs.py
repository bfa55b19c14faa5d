"""T7 analytics.js (Segment) payload rewrite.

reference: AnalyticsJsBridge.scala:28-169.  Requests arrive on
``/com.segment/v1/{i,t,p,s,g,a}``; the body is a Segment JSON event.  The
bridge rewrites it into a Snowplow ``payload_data/1-0-4`` envelope whose
single tracker event carries the original body base64-wrapped inside an
``unstruct_event`` (``ue_px``), and the canonical path becomes
``/com.snowplowanalytics.snowplow/tp2``.

Everything is JVM-side JSON expression work: get_json_object probing,
to_json/named-struct construction, base64 — no UDFs (SURVEY §2.3 T7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

UNSTRUCT_SCHEMA = "iglu:com.snowplowanalytics.snowplow/unstruct_event/jsonschema/1-0-0"
PAYLOAD_DATA_SCHEMA = "iglu:com.snowplowanalytics.snowplow/payload_data/jsonschema/1-0-4"
CANONICAL_PATH = "/com.snowplowanalytics.snowplow/tp2"
APP_ID = "ajs_bridge"

# path segment -> (event type, Iglu schema) — AnalyticsJsBridge.scala:42-50,96-103
SEGMENT_EVENT_SCHEMAS = {
    "i": ("identify", "iglu:com.segment/identify/jsonschema/1-0-0"),
    "t": ("track", "iglu:com.segment/track/jsonschema/1-0-0"),
    "p": ("page", "iglu:com.segment/page/jsonschema/2-0-0"),
    "s": ("screen", "iglu:com.segment/screen/jsonschema/2-0-0"),
    "g": ("group", "iglu:com.segment/group/jsonschema/2-0-0"),
    "a": ("alias", "iglu:com.segment/alias/jsonschema/2-0-0"),
}

_SEG_RE = r"^/com\.segment/v1/([itpsga])$"


def is_analyticsjs(path: Column) -> Column:
    return path.rlike(_SEG_RE)


def disabled(df: DataFrame) -> DataFrame:
    """Bridge switched off (experimental.enableAnalyticsJsBridge=false,
    the reference default): Segment-path requests fall through as plain
    /{vendor}/{version} events — same columns, all null/false, so the
    pipeline's coalesces keep the original body/path untouched."""
    return df.withColumns(
        {
            "is_analyticsjs": F.lit(False),
            "ajs_valid": F.expr("cast(NULL as boolean)"),
            "ajs_body": F.expr("cast(NULL as string)"),
            "ajs_path": F.expr("cast(NULL as string)"),
            "ajs_content_type": F.expr("cast(NULL as string)"),
        }
    )


def rewrite(df: DataFrame) -> DataFrame:
    """Adds ``ajs_body`` (the rewritten payload_data envelope),
    ``ajs_path`` (canonical tp2 path), and ``ajs_content_type``
    (text/plain normalized to application/json) for rows matching the
    Segment route; null elsewhere.  The pipeline coalesces these over the
    originals.

    Field mapping (AnalyticsJsBridge.scala:118-159):
      uid  <- ajs_user_id cookie, else body.userId
      duid <- ajs_anonymous_id cookie
      url/page <- properties.url/page ; lang/tz <- context.locale/timezone
      tv   <- context.library.version (required — rows without it are
              rejected upstream; here they yield null tv and are routed bad
              by the pipeline's bridge-validity predicate)

    Built as parsed SQL fragments (``sqlfrag``): identical expression
    trees, ~1 py4j call per output column (optimization r14).
    """
    from ...sqlfrag import sql_str

    seg_re = sql_str(_SEG_RE)
    seg = f"regexp_extract(path, {seg_re}, 1)"
    matched = f"(path rlike {seg_re} AND method = 'POST')"
    schema_map = "map(" + ", ".join(
        f"{sql_str(k)}, {sql_str(schema)}"
        for k, (_, schema) in SEGMENT_EVENT_SCHEMAS.items()
    ) + ")"

    # Splice the raw body into the unstruct envelope textually so the
    # embedded event stays JSON (to_json of a string column would quote it).
    head = '{"schema":"' + UNSTRUCT_SCHEMA + '","data":{"schema":"'
    mid = '","data":'
    event_payload = (
        f"concat({sql_str(head)}, {schema_map}[{seg}],"
        f" {sql_str(mid)}, body, {sql_str('}}')})"
    )

    tv = "get_json_object(body, '$.context.library.version')"
    uid = "coalesce(cookies['ajs_user_id'], get_json_object(body, '$.userId'))"

    tracker_event = (
        "named_struct("
        f"'aid', {sql_str(APP_ID)},"
        " 'e', 'ue',"
        f" 'tv', {tv},"
        " 'p', 'web',"
        f" 'ue_px', base64(encode({event_payload}, 'UTF-8')),"
        " 'tnuid', network_user_id,"
        " 'url', get_json_object(body, '$.properties.url'),"
        " 'page', get_json_object(body, '$.properties.page'),"
        " 'lang', get_json_object(body, '$.context.locale'),"
        " 'tz', get_json_object(body, '$.context.timezone'),"
        f" 'uid', {uid},"
        " 'duid', cookies['ajs_anonymous_id'])"
    )
    envelope = (
        f"to_json(named_struct('schema', {sql_str(PAYLOAD_DATA_SCHEMA)},"
        f" 'data', array({tracker_event})), map('ignoreNullFields', 'true'))"
    )
    return df.withColumns(
        {
            "is_analyticsjs": F.expr(matched),
            "ajs_valid": F.expr(
                f"CASE WHEN {matched} THEN body IS NOT NULL AND {tv} IS NOT NULL END"
            ),
            "ajs_body": F.expr(
                f"CASE WHEN {matched} AND {tv} IS NOT NULL THEN {envelope} END"
            ),
            "ajs_path": F.expr(
                f"CASE WHEN {matched} THEN {sql_str(CANONICAL_PATH)} END"
            ),
            "ajs_content_type": F.expr(
                f"CASE WHEN {matched} THEN replace(lower(coalesce(content_type,"
                " 'application/json')), 'text/plain', 'application/json') END"
            ),
        }
    )
