"""HOCON config-file loading for the collector.

reference: the collector loads a user HOCON file with the packaged
``reference.conf`` defaults underneath and pureconfig derivation on top
(``model.scala:267-281``, ``core/src/main/resources/reference.conf:1-98``,
``Collector.scala`` ConfigFactory wiring); ``ConfigReaderSpec`` pins two
behaviors this module ports: a valid config file parses against the
defaults, and a ``cookie.fallbackDomain`` containing a character illegal
in a domain name is rejected with
``fallbackDomain contains invalid character for a domain: [<char>]``.

``parse_hocon`` implements the HOCON *subset* the reference's shipped
config files actually use — comments, nested/dotted object keys, ``=`` /
``:`` separators, inline and multiline lists, quoted/unquoted scalars,
duration values ("365 days", "10.seconds"), object merge on repeated
keys, and optional environment substitutions (``key = ${?ENV}`` — the
one substitution form the reference's shipped example configs use;
unset variable = key not set).  Other substitutions (``${...}``) and
``include`` are intentionally out of scope and raise, so a config
relying on them fails loudly rather than silently misparsing.
"""

from __future__ import annotations

import json
import re
from typing import Any

from .config import (
    BufferConfig,
    CollectorConfig,
    CookieBounceConfig,
    CookieConfig,
    CORSConfig,
    CrossDomainConfig,
    DoNotTrackCookieConfig,
    P3PConfig,
    RedirectMacroConfig,
    RootResponseConfig,
    SinkConfig,
    SslConfig,
    TelemetryConfig,
)

_DURATION_UNITS_MS = {
    "ms": 1,
    "milli": 1,
    "millis": 1,
    "millisecond": 1,
    "milliseconds": 1,
    "s": 1000,
    "second": 1000,
    "seconds": 1000,
    "m": 60_000,
    "minute": 60_000,
    "minutes": 60_000,
    "h": 3_600_000,
    "hour": 3_600_000,
    "hours": 3_600_000,
    "d": 86_400_000,
    "day": 86_400_000,
    "days": 86_400_000,
}

# pureconfig's invalidDomainMatcher: ".*([^A-Za-z0-9-.]).*" (model.scala:273)
_INVALID_DOMAIN_CHAR = re.compile(r"[^A-Za-z0-9\-.]")


def parse_duration_ms(value: Any) -> int:
    """'365 days' / '10.seconds' / '5 m' / bare int -> milliseconds."""
    if isinstance(value, (int, float)):
        return int(value)
    s = str(value).strip().strip('"')
    m = re.fullmatch(r"(\d+(?:\.\d+)?)[. ]?\s*([A-Za-z]*)", s)
    if not m:
        raise ValueError(f"cannot parse duration: {value!r}")
    qty, unit = float(m.group(1)), m.group(2).lower()
    if not unit:
        return int(qty)
    if unit not in _DURATION_UNITS_MS:
        raise ValueError(f"unknown duration unit {unit!r} in {value!r}")
    return int(qty * _DURATION_UNITS_MS[unit])


def _strip_comment(line: str) -> str:
    out = []
    in_str = False
    i = 0
    while i < len(line):
        c = line[i]
        if c == '"':
            in_str = not in_str
        if not in_str and (c == "#" or line[i : i + 2] == "//"):
            break
        out.append(c)
        i += 1
    return "".join(out)


def _scalar(tok: str) -> Any:
    tok = tok.strip()
    if tok.startswith('"') and tok.endswith('"') and len(tok) >= 2:
        return tok[1:-1]
    if "${" in tok:
        raise ValueError(f"HOCON substitutions are not supported: {tok!r}")
    low = tok.lower()
    if low in ("true", "on", "yes"):
        return True
    if low in ("false", "off", "no"):
        return False
    if low in ("null", "none"):
        return None
    try:
        return int(tok)
    except ValueError:
        pass
    try:
        return float(tok)
    except ValueError:
        pass
    return tok  # unquoted string (possibly a duration like '365 days')


def _parse_list(text: str) -> list:
    inner = text.strip()[1:-1].strip()
    if not inner:
        return []
    parts, buf, in_str = [], [], False
    for c in inner:
        if c == '"':
            in_str = not in_str
        if c == "," and not in_str:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(c)
    if buf:
        parts.append("".join(buf))
    return [_scalar(p) for p in parts if p.strip()]


def _set_path(tree: dict, dotted: str, value: Any) -> None:
    keys = _key_path(dotted)
    node = tree
    for k in keys[:-1]:
        nxt = node.get(k)
        if not isinstance(nxt, dict):
            nxt = {}
            node[k] = nxt
        node = nxt
    last = keys[-1]
    if isinstance(value, dict) and isinstance(node.get(last), dict):
        _deep_merge(node[last], value)  # HOCON object merge semantics
    else:
        node[last] = value


def _key_path(key: str) -> list[str]:
    """A quoted key is atomic (no dot-splitting — e.g. the path-mapping key
    "/com.acme/track"); an unquoted key splits on dots."""
    key = key.strip()
    if key.startswith('"') and key.endswith('"'):
        return [key[1:-1]]
    return [k for k in key.split(".") if k]


def _deep_merge(base: dict, overlay: dict) -> dict:
    for k, v in overlay.items():
        if isinstance(v, dict) and isinstance(base.get(k), dict):
            _deep_merge(base[k], v)
        else:
            base[k] = v
    return base


def parse_hocon(text: str) -> dict:
    """Parse the supported HOCON subset into a nested dict."""
    lines = text.splitlines()
    root: dict = {}
    stack: list[dict] = [root]
    i = 0
    while i < len(lines):
        line = _strip_comment(lines[i]).strip()
        i += 1
        if not line:
            continue
        if "include " in line or line.startswith("include"):
            raise ValueError(f"HOCON include is not supported: {line!r}")
        if line == "}":
            if len(stack) == 1:
                raise ValueError("unbalanced '}' in config")
            stack.pop()
            continue
        # one-line object: `key { a = b, c = d }`
        m = re.fullmatch(r'("[^"]+"|[\w.\-]+)\s*[:=]?\s*\{(.+)\}', line)
        if m and m.group(2).count("{") == m.group(2).count("}"):
            inner, buf, in_str = [], [], False
            for c in m.group(2):
                if c == '"':
                    in_str = not in_str
                if c == "," and not in_str:
                    inner.append("".join(buf))
                    buf = []
                else:
                    buf.append(c)
            inner.append("".join(buf))
            _set_path(stack[-1], m.group(1), parse_hocon("\n".join(inner)))
            continue
        # `key {` / `a.b.c {`  (with or without '=' / ':')
        m = re.fullmatch(r'("[^"]+"|[\w.\-]+)\s*[:=]?\s*\{', line)
        if m:
            child: dict = {}
            _set_path(stack[-1], m.group(1), child)
            # descend into the freshly-merged node
            node = stack[-1]
            for k in _key_path(m.group(1)):
                node = node[k]
            stack.append(node)
            continue
        # key = value  (or key: value)
        m = re.fullmatch(r'("[^"]+"|[\w.\-]+)\s*[:=]\s*(.+)', line)
        if not m:
            raise ValueError(f"cannot parse config line: {line!r}")
        key, raw = m.group(1), m.group(2).strip()
        # optional env substitution `key = ${?ENV}` (the one substitution
        # form the reference's shipped examples use): resolves from the
        # environment; an unset variable means the key is simply not set
        # (HOCON semantics), falling back to whatever defaults underlie.
        env_opt = re.fullmatch(r"\$\{\?([A-Za-z_][A-Za-z0-9_]*)\}", raw)
        if env_opt:
            import os

            val = os.environ.get(env_opt.group(1))
            if val is not None:
                _set_path(stack[-1], key, _scalar(val))
            continue
        if raw == "{}":
            _set_path(stack[-1], key, {})
        elif raw.startswith("["):
            while raw.count("[") > raw.count("]"):
                if i >= len(lines):
                    raise ValueError("unterminated list in config")
                raw += " " + _strip_comment(lines[i]).strip()
                i += 1
            _set_path(stack[-1], key, _parse_list(raw))
        else:
            _set_path(stack[-1], key, _scalar(raw))
    if len(stack) != 1:
        raise ValueError("unbalanced '{' in config")
    return root


#: the packaged defaults every user file is merged over —
#: core/src/main/resources/reference.conf:1-98 re-expressed as data
REFERENCE_DEFAULTS: dict = {
    "paths": {},
    "cookie": {
        "enabled": True,
        "expiration": "365 days",
        "name": "sp",
        "secure": True,
        "httpOnly": True,
        "sameSite": "None",
    },
    "doNotTrackCookie": {"enabled": False, "name": "", "value": ""},
    "cookieBounce": {
        "enabled": False,
        "name": "n3pc",
        "fallbackNetworkUserId": "00000000-0000-4000-A000-000000000000",
    },
    "redirectMacro": {"enabled": False},
    "redirectDomains": [],
    "enableDefaultRedirect": False,
    "crossDomain": {"enabled": False, "domains": ["*"], "secure": True},
    "p3p": {
        "policyRef": "/w3c/p3p.xml",
        "CP": "NOI DSP COR NID PSA OUR IND COM NAV STA",
    },
    "rootResponse": {"enabled": False, "statusCode": 302, "headers": {}, "body": ""},
    "telemetry": {
        "disable": False,
        "interval": "60 minutes",
        "method": "POST",
        "url": "sp.snowcatcloud.com",
        "port": 443,
        "secure": True,
    },
    "cors": {"accessControlMaxAge": "60 minutes"},
    "ssl": {"enable": False, "redirect": False, "port": 443},
    "terminationDeadline": "10.seconds",
    "streams": {"useIpAddressAsPartitionKey": False},
}


def _validate_fallback_domain(domain: Any) -> str | None:
    if domain is None:
        return None
    m = _INVALID_DOMAIN_CHAR.search(str(domain))
    if m:
        raise ValueError(
            f"fallbackDomain contains invalid character for a domain: [{m.group(0)}]"
        )
    return str(domain)


def _sink_config(tree: dict, base: SinkConfig) -> SinkConfig:
    sink = tree.get("sink", {}) if isinstance(tree.get("sink"), dict) else {}
    buf = tree.get("buffer", {}) if isinstance(tree.get("buffer"), dict) else {}
    buffer = BufferConfig(
        byte_limit=int(buf.get("byteLimit", base.buffer.byte_limit)),
        record_limit=int(buf.get("recordLimit", base.buffer.record_limit)),
        time_limit_ms=parse_duration_ms(buf.get("timeLimit", base.buffer.time_limit_ms)),
    )
    known = {"enabled", "maxBytes"}
    return SinkConfig(
        kind=str(sink.get("enabled", base.kind)),
        max_bytes=int(sink.get("maxBytes", base.max_bytes)),
        buffer=buffer,
        options={k: v for k, v in sink.items() if k not in known},
    )


def collector_config_from_tree(tree: dict, base: CollectorConfig | None = None) -> CollectorConfig:
    """Nested HOCON dict (already merged over defaults) -> CollectorConfig.

    Only semantic-dataflow knobs are mapped (SURVEY §7: HTTP-serving knobs
    like interface/port/TLS belong to the receiver, not the engine);
    unknown keys are ignored, exactly like pureconfig's default."""
    base = base or CollectorConfig()
    ck = tree.get("cookie", {})
    domains = ck.get("domains")
    cookie = CookieConfig(
        enabled=bool(ck.get("enabled", True)),
        name=str(ck.get("name", "sp")),
        expiration_ms=parse_duration_ms(ck.get("expiration", "365 days")),
        domains=tuple(domains) if domains else None,
        fallback_domain=_validate_fallback_domain(ck.get("fallbackDomain")),
        secure=bool(ck.get("secure", True)),
        http_only=bool(ck.get("httpOnly", True)),
        same_site=ck.get("sameSite"),
    )
    dnt = tree.get("doNotTrackCookie", {})
    bounce = tree.get("cookieBounce", {})
    macro = tree.get("redirectMacro", {})
    p3p = tree.get("p3p", {})
    rr = tree.get("rootResponse", {})
    xd = tree.get("crossDomain", {})
    tel = tree.get("telemetry", {})
    streams = tree.get("streams", {})
    return CollectorConfig(
        app_name=base.app_name,
        app_version=base.app_version,
        cookie=cookie,
        do_not_track_cookie=DoNotTrackCookieConfig(
            enabled=bool(dnt.get("enabled", False)),
            name=str(dnt.get("name", "")),
            value=str(dnt.get("value", "")),
        ),
        cookie_bounce=CookieBounceConfig(
            enabled=bool(bounce.get("enabled", False)),
            name=str(bounce.get("name", "n3pc")),
            fallback_network_user_id=str(
                bounce.get("fallbackNetworkUserId", "00000000-0000-4000-A000-000000000000")
            ),
            forwarded_protocol_header=bounce.get("forwardedProtocolHeader"),
        ),
        redirect_macro=RedirectMacroConfig(
            enabled=bool(macro.get("enabled", False)),
            placeholder=macro.get("placeholder"),
        ),
        p3p=P3PConfig(
            policy_ref=str(p3p.get("policyRef", "/w3c/p3p.xml")),
            cp=str(p3p.get("CP", "NOI DSP COR NID PSA OUR IND COM NAV STA")),
        ),
        root_response=RootResponseConfig(
            enabled=bool(rr.get("enabled", False)),
            status_code=int(rr.get("statusCode", 302)),
            headers=tuple(sorted((str(k), str(v)) for k, v in (rr.get("headers") or {}).items())),
            body=str(rr.get("body", "")),
        ),
        cross_domain=CrossDomainConfig(
            enabled=bool(xd.get("enabled", False)),
            domains=tuple(xd.get("domains", ("*",))),
            secure=bool(xd.get("secure", True)),
        ),
        cors=CORSConfig(
            access_control_max_age_ms=parse_duration_ms(
                (tree.get("cors") or {}).get("accessControlMaxAge", "60 minutes")
            ),
        ),
        # reference.conf:38-42: parsed-and-carried so reference configs
        # with an ssl{} block round-trip; TLS terminates in front of the
        # receiver (SslConfig docstring)
        ssl=SslConfig(
            enable=bool((tree.get("ssl") or {}).get("enable", False)),
            redirect=bool((tree.get("ssl") or {}).get("redirect", False)),
            port=int((tree.get("ssl") or {}).get("port", 443)),
        ),
        enable_default_redirect=bool(tree.get("enableDefaultRedirect", False)),
        redirect_domains=tuple(tree.get("redirectDomains", ())),
        paths=dict(tree.get("paths", {})),
        use_ip_address_as_partition_key=bool(
            streams.get("useIpAddressAsPartitionKey", False)
        ),
        good_sink=_sink_config(streams, base.good_sink),
        bad_sink=_sink_config(streams, base.bad_sink),
        telemetry=TelemetryConfig(
            disable=bool(tel.get("disable", False)),
            interval_ms=parse_duration_ms(tel.get("interval", "60 minutes")),
            method=str(tel.get("method", "POST")),
            url=str(tel.get("url", "sp.snowcatcloud.com")),
            port=int(tel.get("port", 443)),
            secure=bool(tel.get("secure", True)),
        ),
        termination_deadline_ms=parse_duration_ms(
            tree.get("terminationDeadline", "10.seconds")
        ),
        pre_termination_period_ms=parse_duration_ms(
            tree.get("preTerminationPeriod", "10.seconds")
        ),
        pre_termination_unhealthy=bool(tree.get("preTerminationUnhealthy", False)),
        enable_analyticsjs_bridge=bool(
            (tree.get("experimental") or {}).get("enableAnalyticsJsBridge", False)
        ),
        enable_amplitude_bridge=bool(
            (tree.get("experimental") or {}).get("enableAmplitudeBridge", False)
        ),
        # AmplitudeBridge.scala:76-103: origin whitelisting follows the
        # crossDomain block — enabled with specific domains means
        # whitelist; disabled or ["*"] means allow-all (empty tuple here,
        # which origin_allowed treats as allow-all).
        amplitude_allowed_domains=(
            tuple(str(d) for d in (xd.get("domains") or ()))
            if bool(xd.get("enabled", False)) and "*" not in (xd.get("domains") or ["*"])
            else ()
        ),
        deterministic_now_ms=base.deterministic_now_ms,
    )


def load_collector_config(
    path: str | None = None,
    text: str | None = None,
    base: CollectorConfig | None = None,
) -> CollectorConfig:
    """Load a HOCON (or JSON — it's a HOCON subset) collector config file,
    merged over REFERENCE_DEFAULTS, validated, mapped to dataclasses.
    With neither ``path`` nor ``text`` the result is REFERENCE_DEFAULTS
    alone."""
    if text is None and path is not None:
        with open(path, encoding="utf-8") as f:
            text = f.read()
    user = parse_hocon(text) if text is not None else {}
    # Reference config files wrap everything in `collector { ... }` (with
    # akka/pekko sibling blocks we have no use for) — descend like the
    # reference's `namespace = "collector"` pureconfig source.
    if isinstance(user.get("collector"), dict):
        user = user["collector"]
    tree = _deep_merge(json.loads(json.dumps(REFERENCE_DEFAULTS)), user)
    return collector_config_from_tree(tree, base=base)
