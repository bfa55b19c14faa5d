"""The collector dataflow: raw requests DataFrame -> (good, bad) DataFrames.

Mirrors the reference's request path (SURVEY §3.1): route/filter ->
identity resolution -> bridge rewrites -> buildEvent -> split/serialize ->
good/bad routing.  It comes in two halves so that a streaming query can
plan the per-row work once and keep only the per-batch work in
``foreachBatch`` (the Structured Streaming shape, PAPERS.md SIGMOD'18):

``route(raw, cfg)`` — per row, one narrow chain with no ``Union`` and no
Python, legal on a batch or a streaming frame::

    raw ─ path mapping ─ qs parse/validate ─ nuid ─ ip/pk ─ DNT/bounce
        ─ header scrub ─ bridge rewrites ─ keep events + invalid-qs rows
        ─ explode (Amplitude fan-out; other rows explode one element)
        ─ payload columns ─ serialized/serialized_size (events only)

``run(routed, cfg)`` — per batch: small events are good as they are; only
the oversized subset goes through the one Python stage (``mapInPandas``
split, lazily ``localCheckpoint``'d because its goods and its bad rows
both read it); its size violations union with the generic errors of the
rejected rows.

Batch callers compose the halves: ``run(route(raw, cfg), cfg)``.

Every value is a function of the request row alone.  The event's
``timestamp`` (and a bad row's ``failure_timestamp``) is when the
receiver got the request, its ``request_time`` (CollectorService.scala:291
stamps it while handling the request).  New ids (a cookieless
``network_user_id``, ``partition_key``) derive from ``request_id``
(``transforms.identity``).  So the pipeline takes receiver-stamped rows:
the receiver stamps both columns on every row it lands, and the Kafka
source stamps a record that lacks them from the record itself
(``streaming.job.requests_from_kafka``).  A batch caller's row without
``request_time`` gets a null ``timestamp``, omitted from the Thrift
record like an optional field (Snowplow enrich then reads a
``collector_tstamp`` of 0); one without ``request_id`` gets null new ids.
So a row routes to the same output in any batch, a replay rewrites the
same rows, and a streaming query's generated code compiles once.

Scale: the pipeline is shuffle-free end-to-end (narrow transformations
only — even the amplitude explode is per-row fan-out).  Sink partitioning
is by ``partition_key``, exactly the reference's Kinesis/Kafka keying.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import COLLECTOR_PAYLOAD_SCHEMA, EVENT_PATH_RE, CollectorConfig
from .sqlfrag import sql_str
from .transforms import badrows, identity, paths, privacy, split
from .transforms.bridges import amplitude, analyticsjs

_OPS_PATH_RE = r"^/(health|sink-health|crossdomain\.xml|robots\.txt|)$"

#: columns of a routed event row that the split stage reads and the good
#: sink receives (before ``split_index``)
_EVENT_COLUMNS = [
    "request_id",
    *split._PAYLOAD_FIELDS,
    "partition_key",
    "serialized",
    "serialized_size",
]


@dataclass
class PipelineResult:
    good: DataFrame  # canonical collector payloads (struct columns + serialized)
    bad: DataFrame  # BAD_ROW_SCHEMA rows
    #: split-stage output (SPLIT_OUT_SCHEMA rows, oversized subset only) —
    #: kept so per-request split accounting (the collector_split_accounting
    #: gate) can attribute bad rows to their request_id, which the
    #: BAD_ROW_SCHEMA rows deliberately do not carry
    split_out: DataFrame


def enrich(raw: DataFrame, cfg: CollectorConfig) -> DataFrame:
    """Steps 1-3 of the request lifecycle as one narrow projection chain."""
    df = paths.apply_path_mapping(raw, cfg)
    df = paths.extract_query_params(df)
    df = paths.detect_redirect(df)
    df = paths.pixel_expected(df)
    df = identity.resolve_network_user_id(df, cfg)
    df = identity.ip_and_partition_key(df, cfg)
    df = privacy.do_not_track(df, cfg)
    df = privacy.cookie_bounce(df, cfg)
    df = privacy.scrub_headers(df)
    df = privacy.cookie_domain(df, cfg)
    df = privacy.set_cookie_struct(df, cfg)
    df = privacy.redirect_allowed(df, cfg)
    df = privacy.redirect_location(df, cfg)
    # bridge dispatch mirrors the reference's conditional route table
    # (CollectorRoute.scala bridges map, experimental.enable*Bridge):
    # disabled bridges contribute null columns and the vendor paths fall
    # through as plain events
    if cfg.enable_analyticsjs_bridge:
        df = analyticsjs.rewrite(df)
    else:
        df = analyticsjs.disabled(df)
    if cfg.enable_amplitude_bridge:
        df = amplitude.fan_out(df, cfg.amplitude_allowed_domains)
    else:
        df = amplitude.disabled(df)
    return df


def route(raw: DataFrame, cfg: CollectorConfig) -> DataFrame:
    """The per-row half: one row per stored event or rejected request,
    tagged by ``is_event``.  Event rows carry the payload columns plus
    ``serialized`` / ``serialized_size``; the rejected rows are the
    invalid-querystring requests (F3, CollectorService.scala:184-195),
    whose GenericError ``run`` builds from their querystring and
    partition key.

    Event rows follow buildEvent (CollectorService.scala:251-305): bridge
    bodies/paths coalesced over the originals, Amplitude batches exploded
    into per-event rows.  Built as parsed SQL fragments (``sqlfrag``): the
    expression trees are the Column-built ones, construction is ~1 py4j
    call per operation (optimization r14).

    Session confs are pinned here, on the caller's session: a streaming
    query runs on a copy of the session taken at ``writeStream.start()``,
    so they must hold before that."""
    from .ship import ensure_shipped

    spark = raw.sparkSession
    ensure_shipped(spark)
    # Defensive: an externally-created session (an outside harness, a user
    # notebook) defaults to mapKeyDedupPolicy=EXCEPTION, under which one
    # ?e=pv&e=pp request would kill the whole batch in str_to_map.
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    enriched = enrich(raw, cfg)

    stored = (
        f"mapped_path rlike {sql_str(EVENT_PATH_RE)}"
        f" AND NOT mapped_path rlike {sql_str(_OPS_PATH_RE)}"
        " AND method IN ('GET', 'POST', 'HEAD')"
        " AND NOT do_not_track AND NOT bounce"
        " AND qs_valid"
        # bridge-invalid rows are rejected with 400 and produce no event
        " AND coalesce(ajs_valid, true) AND coalesce(amp_valid, true)"
    )
    # invalid querystring rows (whatever their path) are the generic-error
    # rows; every other kept row is a stored event
    kept = enriched.filter(f"({stored}) OR NOT qs_valid")
    # Amplitude fan-out: one row per element of amp_events; every other
    # row explodes a one-element array and passes through once
    exploded = kept.withColumn(
        "amp_event",
        F.expr(
            "explode(CASE WHEN is_amplitude AND qs_valid THEN amp_events"
            " ELSE array(cast(NULL as string)) END)"
        ),
    )
    exploded = amplitude.rewrite_event(exploded)

    payload = exploded.selectExpr(
        "qs_valid as is_event",
        "request_id",
        f"{sql_str(COLLECTOR_PAYLOAD_SCHEMA)} as schema",
        "ip_address",
        f"{identity.request_time_ms(cfg)} as timestamp",
        "'UTF-8' as encoding",
        f"{sql_str(cfg.collector_tag)} as collector",
        "querystring",
        "CASE WHEN is_amplitude THEN amp_body ELSE coalesce(ajs_body, body) END as body",
        "CASE WHEN is_amplitude THEN amp_path"
        " ELSE coalesce(ajs_path, mapped_path) END as path",
        "user_agent",
        "referer_uri",
        "hostname",
        "network_user_id",
        "concat(scrubbed_headers,"
        " CASE WHEN content_type IS NOT NULL THEN array(content_type)"
        " ELSE cast(array() as array<string>) END) as headers",
        "CASE WHEN is_amplitude THEN 'application/json'"
        " ELSE coalesce(ajs_content_type, content_type) END as content_type",
        "partition_key",
    )

    # F7 size routing: the JVM computes the size so only oversized rows
    # pay the Python stage.  The size is the exact TBinaryProtocol record
    # size (reference parity, SplitBatch.scala:84-99).
    # ignoreNullFields=false so the JVM serialization matches the Python
    # splitter's canonical form (null fields included) byte-for-byte.
    is_event = F.col("is_event")
    serialized = F.expr(
        f"to_json(struct({', '.join(split._PAYLOAD_FIELDS)}),"
        " map('ignoreNullFields', 'false'))"
    )
    return (
        payload.withColumn("serialized", F.when(is_event, serialized))
        .withColumn("serialized_size", F.when(is_event, split.thrift_size_expr()))
        .select("is_event", *_EVENT_COLUMNS)
    )


def run(routed: DataFrame, cfg: CollectorConfig) -> PipelineResult:
    """The per-batch half over ``route``'s rows: size routing, the split
    of the oversized subset, and the good/bad outputs.  ``routed`` must be
    a batch frame (a ``foreachBatch`` micro-batch or a batch read), where
    ``localCheckpoint`` is legal."""
    max_bytes = cfg.good_sink.max_bytes
    events = routed.filter("is_event").select(*_EVENT_COLUMNS)
    small = events.filter(f"serialized_size < {max_bytes}")
    oversized = events.filter(f"serialized_size >= {max_bytes}")

    # The Python split stage has two downstream consumers (split goods
    # union + bad rows): without a checkpoint each consumer re-ran the
    # whole mapInPandas from the scan — two MapInPandas stages for one
    # logical split (optimization r14, guide §4 / §2.4).  Lazy: callers
    # that never execute (plan-only inspection) pay nothing.
    split_out = oversized.mapInPandas(
        split.make_split_map_fn(max_bytes), split.SPLIT_OUT_SCHEMA
    ).localCheckpoint(eager=False)
    # The split stage emits full payload rows, so split goods union straight
    # back — no re-join on request_id (which is NOT unique after the
    # Amplitude fan-out and could cross-match sibling payloads' bodies).
    split_good = split_out.filter("is_bad = 0").select(*_EVENT_COLUMNS, "split_index")
    good = small.withColumn("split_index", F.lit(0)).unionByName(split_good)

    bad_split = split_out.filter("is_bad = 1").select(
        badrows.size_violation(
            cfg,
            max_bytes,
            "bad_actual_size",
            "bad_expectation",
            "bad_payload",
        ).alias("bad")
    )
    bad_qs = routed.filter("NOT is_event").select(
        badrows.generic_error(
            cfg,
            "array('Illegal query: invalid percent-encoding')",
            "querystring",
        ).alias("bad")
    )
    bad = bad_split.select("bad.*").unionByName(bad_qs.select("bad.*"))
    return PipelineResult(good=good, bad=bad, split_out=split_out)
