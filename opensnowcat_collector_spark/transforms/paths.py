"""T3 path mapping + T4 query-parameter extraction + F3 querystring
validation.

reference: CollectorService.scala:102-108 (determinePath), :198-199
(extractQueryParams), :184-195 (GenericError on illegal querystring).

Expressions are built as parsed SQL fragments (see ``sqlfrag``): one
py4j call per transform instead of one per operator — the parsed tree is
identical to the Column-built one, only construction gets cheaper
(optimization r14).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CollectorConfig
from ..sqlfrag import sql_str


def apply_path_mapping(df: DataFrame, cfg: CollectorConfig) -> DataFrame:
    """Config-map path rewrite with identity default.  The mapping is a
    tiny literal map -> constant-folded by Catalyst (no join, no shuffle)."""
    if not cfg.paths:
        return df.withColumn("mapped_path", F.col("path"))
    map_lit = "map(" + ", ".join(
        f"{sql_str(k)}, {sql_str(v)}" for k, v in cfg.paths.items()
    ) + ")"
    return df.withColumn(
        "mapped_path", F.expr(f"coalesce({map_lit}[path], path)")
    )


# A querystring is illegal when it contains a percent sign not followed by
# two hex digits (the same class of error pekko's Uri.Query rejects).
_ILLEGAL_QS_RE = "%(?![0-9A-Fa-f]{2})"

#: the same predicate as a SQL fragment over a column reference
_VALID_QS_FRAG = f"NOT coalesce(querystring, '') rlike {sql_str(_ILLEGAL_QS_RE)}"


def extract_query_params(df: DataFrame) -> DataFrame:
    """querystring -> MAP<STRING,STRING> with url-decoding, plus the F3
    validity predicate routing invalid rows to the bad side-channel.
    str_to_map + url_decode are JVM built-ins — no UDF."""
    raw_map = "str_to_map(coalesce(querystring, ''), '&', '=')"
    decoded = (
        f"map_from_arrays(transform(map_keys({raw_map}), k -> url_decode(k)),"
        f" transform(map_values({raw_map}), v -> url_decode(coalesce(v, ''))))"
    )
    return df.withColumns(
        {
            "qs_valid": F.expr(_VALID_QS_FRAG),
            "query_params": F.expr(
                "CASE WHEN querystring IS NULL THEN"
                " cast(map() as map<string,string>)"
                f" WHEN {_VALID_QS_FRAG} THEN {decoded} END"
            ),
        }
    )


def detect_redirect(df: DataFrame) -> DataFrame:
    """S3: /r/* click-tracking redirect detection (CollectorService.scala:131)."""
    return df.withColumn("is_redirect", F.expr("startswith(mapped_path, '/r/')"))


def pixel_expected(df: DataFrame) -> DataFrame:
    """S2: GET/HEAD pixel endpoints — event data in querystring, 1x1 GIF
    response (CollectorRoute.scala:114-152)."""
    return df.withColumn(
        "pixel_expected",
        F.expr(
            "method IN ('GET', 'HEAD') AND NOT"
            " mapped_path rlike '^/(health|sink-health|crossdomain\\\\.xml|robots\\\\.txt)$'"
        ),
    )
