"""T1 network-user-id resolution + T2 ip/partition-key extraction, and
the event time.

reference: CollectorService.scala:133-141,520-547.

Resolution order (T1):
1. ``SP-Anonymous`` header present -> constant all-zero UUID
2. ``nuid`` query parameter
3. collector cookie value
4. if bouncing -> configured fallback nuid, else a new UUID

A new id (the cookieless ``network_user_id``, ``partition_key``) is
derived from the request's ``request_id``: a v4-shaped UUID cut from its
md5.  The receiver draws ``request_id`` as a random ``uuid4`` per
request, so ids stay unique per request, and the receiver's twin
(``config.request_uuid``) puts the same nuid in its Set-Cookie.  Only
stamped rows are supported: both streaming sources stamp every row
(``streaming.job``), and a batch caller's row without ``request_id``
gets null new ids, never one value shared by all such rows.  The
event time (``request_time_ms``) is when the receiver got the request,
its ``request_time``, as the reference stamps it while handling the
request (CollectorService.scala:291).  So no value depends on when, or
in which micro-batch, a row is processed: a streaming query compiles its
generated code once, a replayed batch writes the same rows, and golden
tests compare exact values.

Expressions are parsed SQL fragments (``sqlfrag``): identical trees,
one py4j call per transform (optimization r14).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import ZERO_UUID, CollectorConfig
from ..sqlfrag import sql_str


_H = "md5(request_id)"
#: v4-shaped UUID from md5(request_id); ``config.request_uuid`` is its
#: Python twin.  ``concat`` keeps a null ``request_id``'s id null, not
#: the empty string every such row would share.
_UUID_FRAG = (
    f"concat(substring({_H}, 1, 8), '-', substring({_H}, 9, 4),"
    f" '-4', substring({_H}, 14, 3), '-8', substring({_H}, 18, 3),"
    f" '-', substring({_H}, 21, 12))"
)


def request_time_ms(cfg: CollectorConfig) -> str:
    """Event time in epoch millis: when the receiver got the request
    (``request_time``; null when the row has none), or
    ``cfg.deterministic_now_ms`` when set."""
    if cfg.deterministic_now_ms is not None:
        return f"cast({cfg.deterministic_now_ms} as bigint)"
    return "unix_millis(request_time)"


def resolve_network_user_id(df: DataFrame, cfg: CollectorConfig) -> DataFrame:
    """Adds ``network_user_id`` plus the intermediate ``nuid_opt_missing``
    flag the bounce filter needs (CollectorService.scala:134-141)."""
    qs_params = "str_to_map(coalesce(querystring, ''), '&', '=')"
    nuid_opt = (
        f"CASE WHEN sp_anonymous IS NOT NULL THEN {sql_str(ZERO_UUID)}"
        f" ELSE coalesce({qs_params}['nuid'],"
        f" cookies[{sql_str(cfg.cookie.name)}]) END"
    )
    bouncing = f"{qs_params}[{sql_str(cfg.cookie_bounce.name)}] IS NOT NULL"
    nuid = (
        f"coalesce({nuid_opt}, CASE WHEN {bouncing}"
        f" THEN {sql_str(cfg.cookie_bounce.fallback_network_user_id)}"
        f" ELSE {_UUID_FRAG} END)"
    )
    return df.withColumns(
        {
            "nuid_opt_missing": F.expr(f"({nuid_opt}) IS NULL"),
            "qs_bouncing": F.expr(bouncing),
            "network_user_id": F.expr(nuid),
        }
    )


def ip_and_partition_key(df: DataFrame, cfg: CollectorConfig) -> DataFrame:
    """ip 'unknown' fallback + partition key (ip or UUID).
    The partition key feeds sink partitioning (Kafka key / repartition) —
    with useIpAddressAsPartitionKey the stream co-locates per-client events
    (useful for sessionization but skew-prone at scale; a per-request UUID
    is the default for uniform shard load, as in the reference)."""
    use_ip = "true" if cfg.use_ip_address_as_partition_key else "false"
    return df.withColumns(
        {
            "ip_address": F.expr("coalesce(remote_ip, 'unknown')"),
            "partition_key": F.expr(
                f"CASE WHEN remote_ip IS NULL THEN {_UUID_FRAG}"
                f" WHEN {use_ip} THEN remote_ip"
                f" ELSE {_UUID_FRAG} END"
            ),
        }
    )
