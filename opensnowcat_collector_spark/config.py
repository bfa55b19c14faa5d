"""Collector configuration model.

Mirrors the semantic knobs of the reference's HOCON-backed config tree
(``core/.../model.scala:231-265``, defaults ``core/src/main/resources/
reference.conf:1-98``) as plain dataclasses.  Only knobs that affect
dataflow semantics are modeled; HTTP-serving knobs (interface, port, TLS)
belong to the thin receiver, not the engine.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

ZERO_UUID = "00000000-0000-0000-0000-000000000000"
PAYLOAD_DATA_SCHEMA = "iglu:com.snowplowanalytics.snowplow/payload_data/jsonschema/1-0-4"
COLLECTOR_PAYLOAD_SCHEMA = "iglu:com.snowplowanalytics.snowplow/CollectorPayload/thrift/1-0-0"

#: event endpoints served by the collector (SURVEY §2.1); anything else is
#: an ops endpoint or 404 and produces no event.  Read by the receiver
#: (Python ``re``) and by the pipeline (Spark ``rlike``): the pattern means
#: the same in both dialects.
EVENT_PATH_RE = (
    r"^(/r/.*|/i|/ice\.png|/com\.snowplowanalytics\.snowplow/tp2"
    r"|/com\.segment/v1/[itpsga]|/com\.amplitude/2/(httpapi|batch)|/[^/]+/[^/]+)$"
)


@dataclass(frozen=True)
class CookieConfig:
    """reference: core/.../model.scala:54-63"""

    enabled: bool = True
    name: str = "sp"
    expiration_ms: int = 365 * 24 * 3600 * 1000  # reference.conf:25 (365 days)
    domains: tuple[str, ...] | None = None
    fallback_domain: str | None = None
    secure: bool = False
    http_only: bool = False
    same_site: str | None = None


@dataclass(frozen=True)
class DoNotTrackCookieConfig:
    """DNT cookie with regex-matched value — reference: model.scala:69-72"""

    enabled: bool = False
    name: str = ""
    value: str = ""  # regex

    def matches(self, cookie_value: str | None) -> bool:
        if not self.enabled or cookie_value is None:
            return False
        return re.fullmatch(self.value, cookie_value) is not None


@dataclass(frozen=True)
class CookieBounceConfig:
    """reference: model.scala:73-78"""

    enabled: bool = False
    name: str = "n3pc"
    fallback_network_user_id: str = ZERO_UUID
    forwarded_protocol_header: str | None = None


@dataclass(frozen=True)
class RedirectMacroConfig:
    """reference: model.scala:79-82"""

    enabled: bool = False
    placeholder: str | None = None  # defaults to ${SP_NUID}


@dataclass(frozen=True)
class P3PConfig:
    """P3P compact-policy header on event responses — model.scala:41-44,
    reference.conf:45-48."""

    policy_ref: str = "/w3c/p3p.xml"
    cp: str = "NOI DSP COR NID PSA OUR IND COM NAV STA"

    @property
    def header_value(self) -> str:
        return f'policyref="{self.policy_ref}", CP="{self.cp}"'


@dataclass(frozen=True)
class RootResponseConfig:
    """Configurable response for '/' — model.scala:90-96,
    reference.conf:50-55 (default disabled -> 404)."""

    enabled: bool = False
    status_code: int = 302
    headers: tuple[tuple[str, str], ...] = ()
    body: str = ""


@dataclass(frozen=True)
class CrossDomainConfig:
    """crossdomain.xml policy — model.scala:46-50, reference.conf:11-15
    (default disabled -> 404, matching the reference's route guard)."""

    enabled: bool = False
    domains: tuple[str, ...] = ("*",)
    secure: bool = True


@dataclass(frozen=True)
class CORSConfig:
    """reference.conf:60-62 cors block — preflight cache lifetime."""

    access_control_max_age_ms: int = 60 * 60 * 1000  # "60 minutes"


@dataclass(frozen=True)
class TelemetryConfig:
    """Heartbeat endpoint/schedule — reference.conf:64-72, model.scala
    TelemetryConfig.  ``disable`` (not ``enabled``) matches the
    reference's knob name."""

    disable: bool = False
    interval_ms: int = 60 * 60 * 1000  # "60 minutes"
    method: str = "POST"
    url: str = "sp.snowcatcloud.com"
    port: int = 443
    secure: bool = True

    @property
    def endpoint(self) -> str:
        scheme = "https" if self.secure else "http"
        return f"{scheme}://{self.url}:{self.port}/com.snowplowanalytics.snowplow/tp2"


@dataclass(frozen=True)
class SslConfig:
    """reference.conf:38-42 ssl block (model.scala SSLConfig) —
    parsed-and-carried for config round-trip fidelity.  TLS itself
    terminates IN FRONT of the receiver in this deployment shape (LB /
    ingress / sidecar — SURVEY §7: HTTP-serving knobs belong to the
    receiver tier, not the engine); ``redirect``/``port`` are surfaced so
    an operator's reference config maps losslessly."""

    enable: bool = False
    redirect: bool = False
    port: int = 443


@dataclass(frozen=True)
class BufferConfig:
    """Flush thresholds — reference: model.scala:174; example defaults
    examples/config.kinesis.extended.hocon:253-255.  In Structured
    Streaming these become trigger/maxOffsets options (SURVEY §2.5)."""

    byte_limit: int = 3145728
    record_limit: int = 500
    time_limit_ms: int = 5000


@dataclass(frozen=True)
class SinkConfig:
    """Per-sink knobs shared by all sink kinds — reference: model.scala:104-173"""

    kind: str = "stdout"
    max_bytes: int = 1000000000  # stdout default, config.stdout.extended.hocon:190
    buffer: BufferConfig = field(default_factory=BufferConfig)
    options: dict = field(default_factory=dict)
    #: how payload bytes are counted against max_bytes for split routing:
    #: "thrift" = serialized-Thrift size (reference parity,
    #: SplitBatch.scala:84-99) or "json" = canonical compact-JSON UTF-8
    #: size (for sinks that ship the JSON serialization as the record).
    size_accounting: str = "thrift"


@dataclass(frozen=True)
class CollectorConfig:
    app_name: str = "opensnowcat-collector-spark"
    app_version: str = "0.1.0"
    cookie: CookieConfig = field(default_factory=CookieConfig)
    do_not_track_cookie: DoNotTrackCookieConfig = field(default_factory=DoNotTrackCookieConfig)
    cookie_bounce: CookieBounceConfig = field(default_factory=CookieBounceConfig)
    redirect_macro: RedirectMacroConfig = field(default_factory=RedirectMacroConfig)
    p3p: P3PConfig = field(default_factory=P3PConfig)
    root_response: RootResponseConfig = field(default_factory=RootResponseConfig)
    cross_domain: CrossDomainConfig = field(default_factory=CrossDomainConfig)
    cors: CORSConfig = field(default_factory=CORSConfig)
    ssl: SslConfig = field(default_factory=SslConfig)
    #: reference.conf:1 default false: /r/* answers 404 "redirects
    #: disabled" unless explicitly enabled (CollectorRoute.scala:43-49)
    enable_default_redirect: bool = False
    redirect_domains: tuple[str, ...] = ()
    paths: dict[str, str] = field(default_factory=dict)  # path mappings, model.scala:234
    use_ip_address_as_partition_key: bool = False  # model.scala:178
    good_sink: SinkConfig = field(default_factory=SinkConfig)
    bad_sink: SinkConfig = field(default_factory=SinkConfig)
    telemetry: TelemetryConfig = field(default_factory=TelemetryConfig)
    #: graceful-drain budget (X4) — reference.conf terminationDeadline
    termination_deadline_ms: int = 10000
    #: pre-termination drain window — reference.conf preTerminationPeriod:
    #: keep serving for this long after shutdown begins so load balancers
    #: can drain connections
    pre_termination_period_ms: int = 10000
    #: reference.conf preTerminationUnhealthy: report /health 503 while
    #: draining so LBs stop routing new requests
    pre_termination_unhealthy: bool = False
    #: experimental bridge toggles (reference.conf experimental block,
    #: both default false): when off, the vendor paths fall through as
    #: plain /{vendor}/{version} events with no rewrite/fan-out, exactly
    #: like the reference's conditional route dispatch
    enable_analyticsjs_bridge: bool = False
    enable_amplitude_bridge: bool = False
    #: F5 Amplitude origin allowlist (AmplitudeBridge.scala:56-112)
    amplitude_allowed_domains: tuple[str, ...] = ()
    # engine-only knob: freeze nondeterministic exprs (uuid/now) for tests —
    # when set, uuids derive from request_id and "now" is this epoch-millis.
    deterministic_now_ms: int | None = None

    @property
    def collector_tag(self) -> str:
        """'appName-appVersion-sinktype' — reference: CollectorService.scala:85-86"""
        return f"{self.app_name}-{self.app_version}-{self.good_sink.kind}"
