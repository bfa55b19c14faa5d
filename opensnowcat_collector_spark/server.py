"""Thin HTTP receiver: the serving edge in front of the Spark pipeline.

reference: the Pekko routing tree + response building
(CollectorRoute.scala:57-236, CollectorService.scala:110-248,326-464).
The receiver does NO event processing — it appends one raw-request JSON
row per request to a landing directory (the ``readStream`` source of
``streaming.job.StreamingCollector``) and answers the request-scoped
responses the engine cannot (pixel GIF, ``ok`` acks, 302 redirects,
Set-Cookie, ops endpoints).  Response *decisions* (nuid resolution, DNT,
cookie suppression) replicate the pipeline's column-expression semantics
in plain Python — the duplication is intentional and confined to this
file (SURVEY §7 risk register: HTTP response semantics are
request-scoped and can't live in Spark).

stdlib-only (http.server) — suitable as a test rig and a shape-reference
for a production receiver (nginx/lambda/anything that can append JSON
rows to the landing zone or a Kafka topic).
"""

from __future__ import annotations

import base64
import json
import os
import re
import threading
import time
import uuid
from datetime import datetime, timezone
from http.cookies import SimpleCookie
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qsl, urlencode, urlsplit

from .config import EVENT_PATH_RE, ZERO_UUID, CollectorConfig
from .schema import PIXEL_GIF_BASE64
from .transforms.privacy import _URL_HOST_RE

PIXEL_GIF = base64.b64decode(PIXEL_GIF_BASE64)
_EVENT_PATH_RE = re.compile(EVENT_PATH_RE)
_OPS_PATHS = {"/health", "/sink-health", "/crossdomain.xml", "/robots.txt", "/"}


def parse_content_length(value) -> int | None:
    """RFC 9112 §6.2: Content-Length must be a non-negative integer.
    Returns the parsed length (absent/empty → 0), or ``None`` for a
    malformed or negative header so callers can answer 400 / close the
    connection instead of surfacing ``int()``'s ValueError as a 500."""
    if value is None or value == "":
        return 0
    try:
        n = int(value)
    except (TypeError, ValueError):
        return None
    return n if n >= 0 else None


def render_crossdomain_xml(cfg: CollectorConfig) -> str:
    """CollectorService.scala:222-237: one allow-access-from line per
    configured domain."""
    lines = "\n".join(
        f'  <allow-access-from domain="{d}" secure="{str(cfg.cross_domain.secure).lower()}" />'
        for d in cfg.cross_domain.domains
    )
    return f'<?xml version="1.0"?>\n<cross-domain-policy>\n{lines}\n</cross-domain-policy>'


class LandingWriter:
    """Append raw-request rows as JSON lines with loss-free visibility to
    Spark's file stream source.

    ``FileStreamSource`` records a file's *name* when it first lists it and
    never re-reads it, so rows appended to a file after that first listing
    are silently dropped.  The writer therefore NEVER exposes an open file:
    the in-progress file lives in a staging directory *next to* the landing
    dir and is atomically ``os.replace``d into the landing dir only when
    complete (row-count rotation, time rotation, or close).  Spark sees
    every file exactly once, fully written.

    Time-based rotation (a daemon thread) bounds visibility latency under
    low traffic — without it a trickle of requests would sit invisible in
    the staging file until the row-count threshold."""

    def __init__(self, landing_dir: str, rotate_rows: int = 1000,
                 rotate_secs: float = 2.0):
        os.makedirs(landing_dir, exist_ok=True)
        self.landing_dir = landing_dir
        # sibling dir => same filesystem => os.replace is atomic
        self.staging_dir = landing_dir.rstrip("/\\") + ".inprogress"
        os.makedirs(self.staging_dir, exist_ok=True)
        self.rotate_rows = rotate_rows
        self.rotate_secs = rotate_secs
        self._lock = threading.Lock()
        self._rows = 0
        self._seq = 0
        self._fh = None
        self._staging_path: str | None = None
        self._opened_at = 0.0
        self._stop = threading.Event()
        self._timer = threading.Thread(target=self._rotate_loop, daemon=True)
        self._timer.start()

    def _open(self):
        name = f"requests-{os.getpid()}-{self._seq:06d}.json"
        self._staging_path = os.path.join(self.staging_dir, name)
        self._fh = open(self._staging_path, "a", encoding="utf-8")
        self._opened_at = time.monotonic()

    def _rotate_locked(self) -> None:
        """Close the staging file and atomically publish it. Lock held."""
        if self._fh is None:
            return
        self._fh.close()
        final = os.path.join(self.landing_dir, os.path.basename(self._staging_path))
        os.replace(self._staging_path, final)
        self._fh = None
        self._staging_path = None
        self._rows = 0
        self._seq += 1

    def _rotate_loop(self) -> None:
        while not self._stop.wait(min(self.rotate_secs, 0.5)):
            with self._lock:
                if (
                    self._fh is not None
                    and self._rows > 0
                    and time.monotonic() - self._opened_at >= self.rotate_secs
                ):
                    self._rotate_locked()

    def append(self, row: dict) -> None:
        with self._lock:
            if self._fh is None:
                self._open()
            self._fh.write(json.dumps(row) + "\n")
            self._fh.flush()
            self._rows += 1
            if self._rows >= self.rotate_rows:
                self._rotate_locked()

    def flush(self) -> None:
        """Publish any buffered rows to the landing dir immediately."""
        with self._lock:
            if self._rows > 0:
                self._rotate_locked()

    def close(self) -> None:
        self._stop.set()
        with self._lock:
            self._rotate_locked()


def make_handler(cfg: CollectorConfig, writer: LandingWriter, sinks: tuple = ()):
    dnt_re = (
        re.compile(f"^(?:{cfg.do_not_track_cookie.value})$")
        if cfg.do_not_track_cookie.enabled
        else None
    )

    class Handler(BaseHTTPRequestHandler):
        server_version = f"{cfg.app_name}/{cfg.app_version}"

        def log_message(self, fmt, *args):  # quiet
            pass

        # -- helpers -----------------------------------------------------
        def _cookies(self) -> dict[str, str]:
            c = SimpleCookie()
            c.load(self.headers.get("Cookie", ""))
            return {k: m.value for k, m in c.items()}

        def _raw_row(self, method: str, body: str | None) -> dict:
            split = urlsplit(self.path)
            headers = [f"{k}: {v}" for k, v in self.headers.items()]
            return {
                "request_id": str(uuid.uuid4()),
                "method": method,
                "path": split.path,
                "querystring": split.query or None,
                "body": body,
                "user_agent": self.headers.get("User-Agent"),
                "referer_uri": self.headers.get("Referer"),
                "hostname": (self.headers.get("Host") or "").split(":")[0],
                "remote_ip": None
                if self.headers.get("SP-Anonymous")
                else self.client_address[0],
                "headers": headers,
                "origin": self.headers.get("Origin"),
                "cookies": self._cookies(),
                "content_type": self.headers.get("Content-Type"),
                "sp_anonymous": self.headers.get("SP-Anonymous"),
                "request_time": datetime.now(timezone.utc).isoformat(),
            }

        def _nuid_opt(self, row: dict) -> str | None:
            # T1 semantics (CollectorService.scala:133-141,539-547): the
            # *optional* nuid — None means no anonymous header, no qs
            # param, no cookie (the cookie-bounce trigger).
            if row["sp_anonymous"] is not None:
                return ZERO_UUID
            qs = dict(parse_qsl(row["querystring"] or "", keep_blank_values=True))
            return qs.get("nuid") or row["cookies"].get(cfg.cookie.name)

        def _bounce_location(self, split, qs_params: dict) -> str:
            # CollectorService.scala:437-464: redirect to self with the
            # bounce marker added; scheme override from the configured
            # forwarded-protocol header when present and valid.
            q = dict(qs_params)
            q[cfg.cookie_bounce.name] = "true"
            loc = f"{split.path}?{urlencode(q)}"
            fph = cfg.cookie_bounce.forwarded_protocol_header
            if fph:
                scheme = (self.headers.get(fph) or "").lower()
                if scheme in ("http", "https"):
                    host = self.headers.get("Host") or ""
                    loc = f"{scheme}://{host}{loc}"
            return loc

        def _do_not_track(self, row: dict) -> bool:
            if dnt_re is None:
                return False
            v = row["cookies"].get(cfg.do_not_track_cookie.name)
            return v is not None and dnt_re.match(v) is not None

        def _set_cookie_header(self, row: dict, nuid: str) -> str | None:
            # T5 suppression under DNT / SP-Anonymous
            if not cfg.cookie.enabled or row["sp_anonymous"] is not None:
                return None
            if self._do_not_track(row):
                return None
            parts = [f"{cfg.cookie.name}={nuid}", "Path=/",
                     f"Max-Age={cfg.cookie.expiration_ms // 1000}"]
            if cfg.cookie.fallback_domain:
                parts.append(f"Domain={cfg.cookie.fallback_domain}")
            if cfg.cookie.secure:
                parts.append("Secure")
            if cfg.cookie.http_only:
                parts.append("HttpOnly")
            if cfg.cookie.same_site:
                parts.append(f"SameSite={cfg.cookie.same_site}")
            return "; ".join(parts)

        def _respond(self, status: int, body: bytes, ctype: str,
                     extra: list[tuple[str, str]] = ()):  # type: ignore[assignment]
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            for k, v in extra:
                self.send_header(k, v)
            self.end_headers()
            if self.command != "HEAD":
                self.wfile.write(body)

        # -- request handling --------------------------------------------
        def _handle(self, method: str):
            split = urlsplit(self.path)
            path = split.path
            if path in _OPS_PATHS:
                return self._ops(path)
            if not _EVENT_PATH_RE.match(path):
                return self._respond(404, b"not found", "text/plain")
            # CollectorRoute.scala:43-49: reject /r/* before any event
            # handling unless default redirects are enabled
            if path.startswith("/r/") and not cfg.enable_default_redirect:
                return self._respond(404, b"redirects disabled", "text/plain")
            length = parse_content_length(self.headers.get("Content-Length"))
            if length is None:
                # Body framing is unknowable — close after responding so a
                # keep-alive peer can't desync the next exchange.
                self.close_connection = True
                return self._respond(400, b"bad content-length", "text/plain")
            body = self.rfile.read(length).decode("utf-8") if length else None
            row = self._raw_row(method, body)
            qs_params = dict(parse_qsl(split.query or "", keep_blank_values=True))
            # F2 receiver half (CollectorService.scala:127-161): bounce a
            # cookie-less pixel request back to itself with the n3pc
            # marker; the bounced request resolves the fallback nuid.
            bouncing = cfg.cookie_bounce.name in qs_params
            nuid_opt = self._nuid_opt(row)
            bounce = (
                cfg.cookie_bounce.enabled
                and nuid_opt is None
                and not bouncing
                and method in ("GET", "HEAD")
                and not path.startswith("/r/")
            )
            if nuid_opt is not None:
                nuid = nuid_opt
            elif bouncing:
                nuid = cfg.cookie_bounce.fallback_network_user_id
            else:
                nuid = str(uuid.uuid4())
            dnt = self._do_not_track(row)
            if not dnt and not bounce:  # F1/F2: not stored, response still sent
                writer.append(row)
            extra = []
            sc = self._set_cookie_header(row, nuid)
            if sc:
                extra.append(("Set-Cookie", sc))
            extra.append(("Cache-Control", "no-cache, no-store, must-revalidate"))
            # P3P compact policy rides on every event response
            # (CollectorService.scala:167)
            extra.append(("P3P", cfg.p3p.header_value))

            if bounce:
                return self._respond(
                    302, b"", "text/plain",
                    extra + [("Location", self._bounce_location(split, qs_params))],
                )
            if path.startswith("/r/"):
                # F4/T6 redirect (allowlist + macro)
                qs = dict(parse_qsl(split.query or "", keep_blank_values=True))
                target = qs.get("u")
                # Mirrors the reference (CollectorService.scala:391-398)
                # and transforms/privacy.redirect_allowed exactly: an
                # EMPTY allowlist returns true before the URL is parsed;
                # otherwise the host (case-PRESERVED — java.net.URL
                # .getHost does not lowercase, so 'https://OK.org' does
                # NOT match entry 'ok.org'; urlsplit().hostname would)
                # must exactly equal an entry (Scala Option.contains).
                if not cfg.redirect_domains:
                    allowed = target is not None
                else:
                    m = re.match(_URL_HOST_RE, target or "")
                    allowed = m is not None and m.group(1) in cfg.redirect_domains
                if not allowed:
                    return self._respond(400, b"invalid redirect", "text/plain")
                if cfg.redirect_macro.enabled:
                    token = cfg.redirect_macro.placeholder or "${SP_NUID}"
                    target = target.replace(token, nuid)
                return self._respond(302, b"", "text/plain",
                                     extra + [("Location", target)])
            if path.startswith("/com.amplitude/") and cfg.enable_amplitude_bridge:
                n = 0
                try:
                    n = len(json.loads(body or "{}").get("events", []))
                except ValueError:
                    pass
                ack = json.dumps(
                    {"code": 200, "events_ingested": n,
                     "payload_size_bytes": len(body or "")}
                ).encode()
                return self._respond(200, ack, "application/json", extra)
            if method in ("GET", "HEAD"):
                return self._respond(200, PIXEL_GIF, "image/gif", extra)
            return self._respond(200, b"ok", "text/plain", extra)

        def _ops(self, path: str):
            if path == "/health":
                # preTerminationUnhealthy (Collector.scala pre-termination
                # hook): flip liveness to 503 while draining so load
                # balancers stop routing before the listener closes
                if cfg.pre_termination_unhealthy and getattr(
                    self.server, "draining", False
                ):
                    return self._respond(503, b"shutting down", "text/plain")
                return self._respond(200, b"OK", "text/plain")
            if path == "/sink-health":
                # 503 while any attached sink's (actively-probed) health is
                # down — reference: health endpoint follows sink.isHealthy
                bad = [s for s in sinks if not s.is_healthy()]
                if bad:
                    detail = "; ".join(
                        s.health.last_error or "unhealthy" for s in bad
                    ).encode()
                    return self._respond(503, detail or b"sink unhealthy", "text/plain")
                return self._respond(200, b"OK", "text/plain")
            if path == "/crossdomain.xml":
                # route guard: 404 unless enabled (CollectorService.scala:222-237)
                if not cfg.cross_domain.enabled:
                    return self._respond(404, b"404 not found", "text/plain")
                return self._respond(
                    200, render_crossdomain_xml(cfg).encode(), "text/xml"
                )
            if path == "/robots.txt":
                return self._respond(200, b"User-agent: *\nDisallow: /", "text/plain")
            # rootResponse (CollectorService.scala:239-248): configurable
            # status/headers/body for '/', 404 when disabled
            rr = cfg.root_response
            if not rr.enabled:
                return self._respond(404, b"404 not found", "text/plain")
            return self._respond(
                rr.status_code, rr.body.encode(), "text/plain", list(rr.headers)
            )

        def do_GET(self):
            self._handle("GET")

        def do_HEAD(self):
            self._handle("HEAD")

        def do_POST(self):
            self._handle("POST")

        def do_OPTIONS(self):  # CORS preflight (S6)
            self._respond(
                200, b"", "text/plain",
                [("Access-Control-Allow-Origin", self.headers.get("Origin") or "*"),
                 ("Access-Control-Allow-Methods", "GET, POST, OPTIONS"),
                 ("Access-Control-Allow-Headers", "Content-Type, SP-Anonymous"),
                 ("Access-Control-Allow-Credentials", "true"),
                 # reference cors.accessControlMaxAge (reference.conf:60-62)
                 ("Access-Control-Max-Age",
                  str(cfg.cors.access_control_max_age_ms // 1000))],
            )

    return Handler


class CollectorServer:
    """ThreadingHTTPServer wrapper with a background serve loop.

    When ``cfg.ssl.enable`` the listener socket itself is wrapped in TLS
    (reference.conf:38-42 / model.scala SSLConfig: the reference binds
    HTTPS in-process).  The reference pulls key material from the JVM's
    ssl-config; the Python twin takes PEM ``ssl_certfile``/``ssl_keyfile``
    paths explicitly.  Terminating TLS upstream (LB / sidecar) remains the
    recommended deployment shape — leave ``ssl.enable`` off for that.
    ``cfg.ssl.redirect`` is served by the companion
    :class:`SslRedirectServer` (plain-HTTP listener answering 308 to the
    https origin), mirroring the reference's port-80 redirect mode."""

    def __init__(self, cfg: CollectorConfig, landing_dir: str,
                 host: str = "127.0.0.1", port: int = 0,
                 sinks: tuple = (),
                 ssl_certfile: str | None = None,
                 ssl_keyfile: str | None = None):
        self.writer = LandingWriter(landing_dir)
        self.sinks = tuple(sinks)
        self.httpd = ThreadingHTTPServer(
            (host, port), make_handler(cfg, self.writer, self.sinks)
        )
        if cfg.ssl.enable:
            import ssl as _ssl

            try:
                if not (ssl_certfile and ssl_keyfile):
                    raise ValueError(
                        "ssl.enable requires ssl_certfile and ssl_keyfile "
                        "(PEM paths) — or terminate TLS upstream and disable "
                        "the ssl block"
                    )
                ctx = _ssl.SSLContext(_ssl.PROTOCOL_TLS_SERVER)
                ctx.load_cert_chain(ssl_certfile, ssl_keyfile)
                # do_handshake_on_connect=False: with it on, the handshake
                # would run inside accept() in the single serve_forever
                # thread, so one stalled peer (slow-loris) wedges the whole
                # listener.  Deferred, the handshake happens lazily on the
                # first read — inside the per-connection handler THREAD —
                # and the handler timeout below bounds it.
                self.httpd.socket = ctx.wrap_socket(
                    self.httpd.socket,
                    server_side=True,
                    do_handshake_on_connect=False,
                )
                # Bound per-connection reads (incl. the deferred handshake):
                # BaseHTTPRequestHandler applies this as the socket timeout.
                self.httpd.RequestHandlerClass.timeout = 30

                # Deferring the handshake moves failures (plain-HTTP
                # probes, port scanners, LB TCP health checks) from the
                # silently-dropped accept() path into the handler thread,
                # where the default handle_error prints a traceback per
                # connection.  Drop TLS/connection noise; keep real errors.
                def _handle_error(request, client_address,
                                  _default=self.httpd.handle_error):
                    import sys as _sys

                    et = _sys.exc_info()[0]
                    if et is not None and issubclass(
                        et, (_ssl.SSLError, ConnectionError, TimeoutError)
                    ):
                        return
                    _default(request, client_address)

                self.httpd.handle_error = _handle_error
            except Exception:
                # the listener is already bound — release the port instead
                # of leaking it for the process lifetime on failed TLS setup
                self.httpd.server_close()
                raise
        self.port = self.httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> None:
        self.httpd.draining = False
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()

    def stop(self, drain_wait_s: float | None = None) -> None:
        """Graceful shutdown: optionally mark /health unhealthy and keep
        serving for the pre-termination period (reference
        preTerminationPeriod/preTerminationUnhealthy) before closing the
        listener and publishing the last landing file."""
        self.httpd.draining = True
        if drain_wait_s:
            import time as _time

            _time.sleep(drain_wait_s)
        self.httpd.shutdown()
        self.httpd.server_close()
        self.writer.close()


class SslRedirectServer:
    """Plain-HTTP companion listener for ``ssl.redirect`` mode: every
    request is answered with 308 Permanent Redirect to the HTTPS origin
    (scheme swap, ``ssl.port`` substituted), preserving method + path +
    query — the reference's port-80 redirect behavior when ``ssl.enable``
    and ``ssl.redirect`` are both set (reference.conf:38-42)."""

    def __init__(self, cfg: CollectorConfig, https_host: str,
                 host: str = "127.0.0.1", port: int = 0):
        https_port = cfg.ssl.port

        class _Redirect(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"
            # bound body-drain reads: without it one stalled client that
            # advertises a Content-Length it never sends pins a handler
            # thread forever (same discipline as the TLS listener)
            timeout = 30

            def _redirect(self) -> None:
                # Drain the request body first: on a keep-alive HTTP/1.1
                # connection an unread POST body would be parsed as the
                # NEXT request line, desyncing every later exchange.
                # Chunked bodies have no Content-Length to drain by — close
                # the connection after responding instead of desyncing.
                if self.headers.get("Transfer-Encoding"):
                    self.close_connection = True
                length = parse_content_length(self.headers.get("Content-Length"))
                if length is None:
                    # Malformed header: can't drain what we can't frame —
                    # still redirect, but close instead of desyncing.
                    self.close_connection = True
                    length = 0
                while length > 0:
                    chunk = self.rfile.read(min(length, 65536))
                    if not chunk:
                        break
                    length -= len(chunk)
                target = f"https://{https_host}:{https_port}{self.path}"
                self.send_response(308)
                self.send_header("Location", target)
                self.send_header("Content-Length", "0")
                self.end_headers()

            do_GET = do_POST = do_HEAD = do_OPTIONS = _redirect

            def log_message(self, fmt, *args):  # quiet test servers
                pass

        self.httpd = ThreadingHTTPServer((host, port), _Redirect)
        self.port = self.httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> None:
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
