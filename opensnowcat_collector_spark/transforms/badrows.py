"""T10 bad-row construction + F7 per-record size guard.

reference: SplitBatch.scala:124-151 (SizeViolation, truncation to
maxBytes/10), CollectorService.scala:184-195 (GenericError on illegal
querystring); self-describing envelope per snowplow-badrows.

Bad rows are structured columns here (BAD_ROW_SCHEMA); ``to_self_describing_json``
renders the wire format for sinks.  A bad row's ``failure_timestamp`` is
its payload's ``timestamp``, the time the receiver got the request.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import CollectorConfig
from ..schema import GENERIC_ERROR_SCHEMA, SIZE_VIOLATION_SCHEMA
from ..sqlfrag import sql_str


def size_violation(
    cfg: CollectorConfig,
    max_bytes: int,
    actual_size: str,
    expectation: str,
    payload: str,
) -> Column:
    """SizeViolation struct with the payload truncated to maxBytes/10
    (SplitBatch.scala:142).  ``actual_size`` / ``expectation`` /
    ``payload`` are SQL fragments (column references or expressions) —
    the struct is built as ONE parsed expression (optimization r14,
    ``sqlfrag``)."""
    return F.expr(
        "named_struct("
        "'kind', 'size_violation',"
        f" 'app_name', {sql_str(cfg.app_name)},"
        f" 'app_version', {sql_str(cfg.app_version)},"
        " 'failure_timestamp', timestamp,"
        f" 'maximum_allowed_size_bytes', cast({max_bytes} as int),"
        f" 'actual_size_bytes', cast({actual_size} as int),"
        f" 'expectation', concat('oversized collector payload: ', {expectation}),"
        " 'errors', cast(NULL as array<string>),"
        f" 'payload', substring({payload}, 1, {max_bytes // 10}),"
        " 'partition_key', partition_key)"
    )


def generic_error(cfg: CollectorConfig, errors: str, payload: str) -> Column:
    """GenericError struct (illegal querystring path).  ``errors`` /
    ``payload`` are SQL fragments."""
    return F.expr(
        "named_struct("
        "'kind', 'generic_error',"
        f" 'app_name', {sql_str(cfg.app_name)},"
        f" 'app_version', {sql_str(cfg.app_version)},"
        " 'failure_timestamp', timestamp,"
        " 'maximum_allowed_size_bytes', cast(NULL as int),"
        " 'actual_size_bytes', cast(NULL as int),"
        " 'expectation', cast(NULL as string),"
        f" 'errors', {errors},"
        f" 'payload', coalesce({payload}, ''),"
        " 'partition_key', partition_key)"
    )


def to_self_describing_json(bad: Column) -> Column:
    """Render a bad-row struct as the self-describing JSON wire format."""
    schema = F.when(bad["kind"] == "size_violation", F.lit(SIZE_VIOLATION_SCHEMA)).otherwise(
        F.lit(GENERIC_ERROR_SCHEMA)
    )
    return F.to_json(
        F.struct(
            schema.alias("schema"),
            F.struct(
                F.struct(
                    bad["app_name"].alias("artifact"),
                    bad["app_version"].alias("version"),
                ).alias("processor"),
                F.struct(
                    bad["failure_timestamp"].alias("timestamp"),
                    bad["maximum_allowed_size_bytes"].alias("maximumAllowedSizeBytes"),
                    bad["actual_size_bytes"].alias("actualSizeBytes"),
                    bad["expectation"].alias("expectation"),
                    bad["errors"].alias("messages"),
                ).alias("failure"),
                bad["payload"].alias("payload"),
            ).alias("data"),
        )
    )
