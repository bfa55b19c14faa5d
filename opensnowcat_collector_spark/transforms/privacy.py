"""F1 do-not-track filter, F2 cookie-bounce filter, F6 header scrubbing,
T5 cookie-header construction, T6 redirect-macro substitution, F4
redirect-domain allowlist.

reference: model.scala:69-78, CollectorService.scala:134-141,161,374-464,
466-478,485-518.

Expressions are parsed SQL fragments (``sqlfrag``): identical trees,
one py4j call per transform (optimization r14).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import CollectorConfig
from ..sqlfrag import sql_str, sql_str_list
from .identity import request_time_ms


def do_not_track(df: DataFrame, cfg: CollectorConfig) -> DataFrame:
    """F1: DNT cookie name exists and value fullmatches the configured
    regex -> event not stored (response still 200)."""
    if not cfg.do_not_track_cookie.enabled:
        return df.withColumn("do_not_track", F.lit(False))
    val = f"cookies[{sql_str(cfg.do_not_track_cookie.name)}]"
    rx = sql_str(f"^(?:{cfg.do_not_track_cookie.value})$")
    return df.withColumn(
        "do_not_track",
        F.expr(f"{val} IS NOT NULL AND {val} rlike {rx}"),
    )


def cookie_bounce(df: DataFrame, cfg: CollectorConfig) -> DataFrame:
    """F2: bounce iff enabled ∧ nuid unresolvable ∧ not already bouncing ∧
    pixel request ∧ not a redirect (CollectorService.scala:134-141).
    Requires resolve_network_user_id + detect_redirect + pixel_expected."""
    if not cfg.cookie_bounce.enabled:
        return df.withColumn("bounce", F.lit(False))
    return df.withColumn(
        "bounce",
        F.expr(
            "nuid_opt_missing AND NOT qs_bouncing AND pixel_expected"
            " AND NOT is_redirect"
        ),
    )


_ALWAYS_SCRUBBED = ["remote-address", "raw-request-uri"]
_ANON_SCRUBBED = _ALWAYS_SCRUBBED + ["x-forwarded-for", "x-real-ip", "cookie"]


def _header_name(h: str) -> str:
    return f"lower(trim(substring_index({h}, ':', 1)))"


def scrub_headers(df: DataFrame) -> DataFrame:
    """F6: drop Remote-Address / Raw-Request-URI always; additionally
    X-Forwarded-For / X-Real-Ip / Cookie under SP-Anonymous — a
    higher-order filter() over the headers array, no explode."""
    denylist = (
        "CASE WHEN sp_anonymous IS NOT NULL"
        f" THEN array({sql_str_list(_ANON_SCRUBBED)})"
        f" ELSE array({sql_str_list(_ALWAYS_SCRUBBED)}) END"
    )
    return df.withColumn(
        "scrubbed_headers",
        F.expr(
            "filter(coalesce(headers, cast(array() as array<string>)),"
            f" h -> NOT array_contains({denylist}, {_header_name('h')}))"
        ),
    )


def cookie_domain(df: DataFrame, cfg: CollectorConfig) -> DataFrame:
    """T5 domain resolution: first configured domain the Origin host
    matches exactly or as a subdomain, else fallback
    (CollectorService.scala:485-518).  The origin column carries the
    Origin-header host."""
    fallback = f"cast({sql_str(cfg.cookie.fallback_domain)} as string)" if (
        cfg.cookie.fallback_domain is not None
    ) else "cast(NULL as string)"
    if not cfg.cookie.domains:
        return df.withColumn("cookie_domain", F.expr(fallback))
    whens = " ".join(
        "WHEN origin IS NOT NULL AND (origin = {d} OR endswith(origin, {sub}))"
        " THEN {d}".format(d=sql_str(d), sub=sql_str("." + d))
        for d in cfg.cookie.domains
    )
    return df.withColumn(
        "cookie_domain", F.expr(f"CASE {whens} ELSE {fallback} END")
    )


def set_cookie_struct(df: DataFrame, cfg: CollectorConfig) -> DataFrame:
    """T5: response Set-Cookie struct — suppressed under DNT or
    SP-Anonymous (CollectorService.scala:401-434).  Response assembly is
    the thin receiver's job; the engine computes the decision columns."""
    if not cfg.cookie.enabled:
        return df.withColumn("set_cookie", F.lit(None).cast(
            "struct<name:string,value:string,expires_ms:bigint,domain:string,path:string,"
            "secure:boolean,http_only:boolean,same_site:string>"
        ))
    same_site = (
        f"cast({sql_str(cfg.cookie.same_site)} as string)"
        if cfg.cookie.same_site is not None
        else "cast(NULL as string)"
    )
    struct = (
        f"named_struct('name', {sql_str(cfg.cookie.name)},"
        " 'value', network_user_id,"
        f" 'expires_ms', {request_time_ms(cfg)} + {cfg.cookie.expiration_ms},"
        " 'domain', cookie_domain,"
        " 'path', '/',"
        f" 'secure', {'true' if cfg.cookie.secure else 'false'},"
        f" 'http_only', {'true' if cfg.cookie.http_only else 'false'},"
        f" 'same_site', {same_site})"
    )
    return df.withColumn(
        "set_cookie",
        F.expr(
            "CASE WHEN do_not_track OR sp_anonymous IS NOT NULL THEN NULL"
            f" ELSE {struct} END"
        ),
    )


# Host extraction equivalent to the reference's ``new URL(target).getHost``
# (CollectorService.scala:393-397): scheme '://', optional userinfo '@',
# host up to ':' port / '/' path.  NOT Spark's parse_url: (a) strict
# parse_url ABORTS THE WHOLE BATCH on any invalid URL in the column
# (found by the r7 collector_redirect_origin_gates oracle gate), and
# (b) even try_parse_url uses the stricter java.net.URI, which rejects a
# pre-substitution macro placeholder path (``u=https://d/${SP_NUID}``)
# that java.net.URL — and therefore the reference — accepts and allows.
# The scheme alternation mirrors java.net.URL's built-in protocol
# handlers (case-insensitive, like the JDK): an unknown scheme such as
# ``foo://h/x`` throws MalformedURLException in the reference and must
# yield a null host (=> denied) here, not a parsed one.  The host
# capture's first alternative keeps bracketed IPv6 literals whole —
# java.net.URL.getHost returns '[::1]' (brackets INCLUDED) for
# 'https://[::1]/x', so an allowlist entry '[::1]' must match; without
# it the [^/?#:]+ class stops at the first ':' inside the literal.
_URL_HOST_RE = r"^(?i:https?|ftp|file|jar|netdoc)://(?:[^/?#@]*@)?(\[[^/?#\]]+\]|[^/?#:]+)"


def redirect_allowed(df: DataFrame, cfg: CollectorConfig) -> DataFrame:
    """F4: redirect target host must EXACTLY equal a configured domain.
    The reference (CollectorService.scala:391-398) wraps the host in an
    Option — ``Option(new URL(target).getHost)`` — and then calls
    ``config.redirectDomains.exists(url.contains)``: that is Scala
    ``Option.contains``, i.e. host == domain, NOT substring match (a
    substring match would admit ``ok.org.evil.com`` — an open-redirect
    bypass).  An EMPTY allowlist short-circuits to true BEFORE the URL
    is ever parsed (CollectorService.scala:391), so a present-but-
    malformed target — including the blank ``u=``, which reaches the
    match as Some("") — is still allowed in that mode; only the non-empty
    path reaches the try block where MalformedURLException => false
    (target unparseable -> disallowed)."""
    target = "query_params['u']"
    if not cfg.redirect_domains:
        allowed = f"{target} IS NOT NULL"
    else:
        host = f"nullif(regexp_extract({target}, {sql_str(_URL_HOST_RE)}, 1), '')"
        allowed = (
            f"{host} IS NOT NULL AND {host} IN ({sql_str_list(cfg.redirect_domains)})"
        )
    return df.withColumn(
        "redirect_allowed",
        F.expr(f"CASE WHEN is_redirect THEN {allowed} END"),
    )


def redirect_location(df: DataFrame, cfg: CollectorConfig) -> DataFrame:
    """T6: substitute the redirect macro (default ``${SP_NUID}``) with the
    resolved nuid in the target when enabled.

    The macro token stays a COLUMN literal: embedding ``${SP_NUID}`` in
    SQL text would be rewritten by variable substitution before parsing
    (see ``sqlfrag.sql_str``)."""
    target = F.col("query_params")["u"]
    if cfg.redirect_macro.enabled:
        token = cfg.redirect_macro.placeholder or "${SP_NUID}"
        loc = F.replace(target, F.lit(token), F.col("network_user_id"))
    else:
        loc = target
    return df.withColumn(
        "redirect_location",
        F.when(F.col("is_redirect") & F.col("redirect_allowed"), loc),
    )
