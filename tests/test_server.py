"""Thin HTTP receiver: endpoint matrix + landing-zone rows feeding the
batch pipeline (the full ingest path a user actually runs)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from opensnowcat_collector_spark.config import (
    CollectorConfig,
    CookieBounceConfig,
    CrossDomainConfig,
    DoNotTrackCookieConfig,
    RedirectMacroConfig,
    RootResponseConfig,
)
from opensnowcat_collector_spark.server import PIXEL_GIF, CollectorServer


@pytest.fixture()
def server(tmp_path):
    cfg = CollectorConfig(
        deterministic_now_ms=1705320000000,
        do_not_track_cookie=DoNotTrackCookieConfig(enabled=True, name="dnt", value="opt-out"),
        redirect_macro=RedirectMacroConfig(enabled=True),
        enable_default_redirect=True,
        enable_amplitude_bridge=True,
        redirect_domains=("example.com",),
        cross_domain=CrossDomainConfig(enabled=True, domains=("*.example.com", "acme.org")),
        root_response=RootResponseConfig(
            enabled=True, status_code=302,
            headers=(("Location", "https://www.example.com"),), body="moved",
        ),
    )
    srv = CollectorServer(cfg, str(tmp_path / "landing"))
    srv.start()
    yield srv, str(tmp_path / "landing")
    srv.stop()


def _get(url, headers=None, redirect=False):
    req = urllib.request.Request(url, headers=headers or {})
    opener = urllib.request.build_opener(
        urllib.request.HTTPRedirectHandler if redirect else _NoRedirect
    )
    return opener.open(req, timeout=10)


class _NoRedirect(urllib.request.HTTPRedirectHandler):
    def redirect_request(self, *a, **kw):
        return None


def _rows(srv):
    """Flush the writer's staging file, then read published landing rows.
    Files only appear in the landing dir via atomic rename (loss-free for
    the file stream source), so tests flush explicitly."""
    import glob
    import os

    srv.writer.flush()
    out = []
    for f in glob.glob(os.path.join(srv.writer.landing_dir, "*.json")):
        with open(f) as fh:
            out.extend(json.loads(line) for line in fh)
    return out


def test_pixel_and_cookie(server):
    srv, landing = server
    with _get(f"http://127.0.0.1:{srv.port}/i?e=pv&nuid=u-1") as resp:
        assert resp.status == 200
        assert resp.headers["Content-Type"] == "image/gif"
        assert resp.read() == PIXEL_GIF
        assert "sp=u-1" in resp.headers["Set-Cookie"]
    rows = _rows(srv)
    assert len(rows) == 1 and rows[0]["path"] == "/i"


def test_post_tp2_ok(server):
    srv, landing = server
    body = json.dumps({"schema": "iglu:x", "data": [{"e": "pv"}]}).encode()
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}/com.snowplowanalytics.snowplow/tp2",
        data=body,
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=10) as resp:
        assert resp.status == 200 and resp.read() == b"ok"
    assert _rows(srv)[0]["body"] is not None


def test_dnt_not_stored_but_200(server):
    srv, landing = server
    with _get(
        f"http://127.0.0.1:{srv.port}/i?e=pv", headers={"Cookie": "dnt=opt-out"}
    ) as resp:
        assert resp.status == 200
        assert "Set-Cookie" not in resp.headers  # T5 suppression
    assert _rows(srv) == []  # F1: not stored


def test_sp_anonymous_no_cookie_no_ip(server):
    srv, landing = server
    with _get(
        f"http://127.0.0.1:{srv.port}/i?e=pv", headers={"SP-Anonymous": "*"}
    ) as resp:
        assert resp.status == 200
        assert "Set-Cookie" not in resp.headers
    assert _rows(srv)[0]["remote_ip"] is None


def test_redirect_allowlist_and_macro(server):
    srv, landing = server
    # allowed domain + macro substitution
    try:
        _get(
            f"http://127.0.0.1:{srv.port}/r/tp2?u=https%3A%2F%2Fexample.com%2Fp%3Fn%3D%24%7BSP_NUID%7D&nuid=u-9"
        )
        raise AssertionError("expected non-redirect handler to raise")
    except urllib.error.HTTPError as e:
        assert e.code == 302
        assert e.headers["Location"] == "https://example.com/p?n=u-9"
    # disallowed domain -> 400
    try:
        _get(f"http://127.0.0.1:{srv.port}/r/tp2?u=https%3A%2F%2Fevil.org%2Fx")
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_amplitude_ack_counts(server):
    srv, _ = server
    body = json.dumps(
        {"api_key": "k", "events": [{"device_id": "d1"}, {"device_id": "d2"}]}
    ).encode()
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}/com.amplitude/2/httpapi",
        data=body,
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=10) as resp:
        ack = json.loads(resp.read())
    assert ack["events_ingested"] == 2
    assert ack["payload_size_bytes"] == len(body)


def test_ops_endpoints(server):
    srv, landing = server
    base = f"http://127.0.0.1:{srv.port}"
    assert _get(f"{base}/health").read() == b"OK"
    assert b"cross-domain-policy" in _get(f"{base}/crossdomain.xml").read()
    assert b"Disallow" in _get(f"{base}/robots.txt").read()
    with _get(f"{base}/some.vendor/v1"):
        pass  # /{vendor}/{version}-shaped -> stored as event
    try:
        _get(f"{base}/a/b/c")
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404
    # ops requests produce no landing rows beyond the vendor-shaped one
    assert len(_rows(srv)) == 1


def test_landing_rows_flow_through_pipeline(server, spark):
    """The receiver's output is valid pipeline input: requests -> landing
    dir -> batch pipeline -> good rows (the end-to-end ingest path)."""
    srv, landing = server
    for i in range(3):
        _get(f"http://127.0.0.1:{srv.port}/i?e=pv&nuid=u-{i}").close()
    srv.writer.flush()
    from pyspark.sql import functions as F

    from opensnowcat_collector_spark import pipeline
    from opensnowcat_collector_spark.schema import RAW_REQUEST_SCHEMA

    raw = (
        spark.read.schema(RAW_REQUEST_SCHEMA)
        .json(landing)
        .withColumn("request_time", F.col("request_time").cast("timestamp"))
    )
    cfg = CollectorConfig(deterministic_now_ms=1705320000000)
    res = pipeline.run(pipeline.route(raw, cfg), cfg)
    good = res.good.collect()
    assert len(good) == 3
    assert sorted(r["network_user_id"] for r in good) == ["u-0", "u-1", "u-2"]
    assert all(r["path"] == "/i" for r in good)


@pytest.fixture()
def bounce_server(tmp_path):
    cfg = CollectorConfig(
        cookie_bounce=CookieBounceConfig(
            enabled=True,
            fallback_network_user_id="00000000-0000-4000-8000-00000000bbbb",
            forwarded_protocol_header="X-Forwarded-Proto",
        ),
    )
    srv = CollectorServer(cfg, str(tmp_path / "landing"))
    srv.start()
    yield srv
    srv.stop()


def test_cookie_bounce_roundtrip(bounce_server):
    """F2 receiver half (CollectorService.scala:437-464): a cookie-less
    pixel request is 302-bounced to itself with n3pc=true and NOT stored;
    the bounced request is stored with the fallback nuid."""
    srv = bounce_server
    base = f"http://127.0.0.1:{srv.port}"
    # first visit: no cookie anywhere -> bounce
    try:
        _get(f"{base}/i?e=pv")
        raise AssertionError("expected 302 bounce")
    except urllib.error.HTTPError as e:
        assert e.code == 302
        loc = e.headers["Location"]
        assert "n3pc=true" in loc and loc.startswith("/i?")
        # the set-cookie still rides along so a cookie-capable client
        # resolves normally on the bounced request
        assert "sp=" in (e.headers.get("Set-Cookie") or "")
    assert _rows(srv) == []  # bouncing requests are never stored
    # bounced request arrives still cookie-less -> stored, fallback nuid
    with _get(f"{base}/i?e=pv&n3pc=true") as resp:
        assert resp.status == 200
        assert resp.read() == PIXEL_GIF
    rows = _rows(srv)
    assert len(rows) == 1
    assert "n3pc=true" in rows[0]["querystring"]
    # a cookie-carrying request is never bounced
    with _get(f"{base}/i?e=pv", headers={"Cookie": "sp=known-nuid"}) as resp:
        assert resp.status == 200
    assert len(_rows(srv)) == 2


def test_cookie_bounce_forwarded_protocol(bounce_server):
    """The forwarded-protocol header upgrades the bounce Location to an
    absolute https URI (reference bounceLocationHeader)."""
    srv = bounce_server
    try:
        _get(
            f"http://127.0.0.1:{srv.port}/i?e=pv",
            headers={"X-Forwarded-Proto": "https"},
        )
        raise AssertionError("expected 302 bounce")
    except urllib.error.HTTPError as e:
        assert e.code == 302
        assert e.headers["Location"].startswith("https://")
        assert "n3pc=true" in e.headers["Location"]


def test_cookie_bounce_redirect_and_post_not_bounced(bounce_server):
    """Redirect (/r/*) and POST paths never bounce even without a nuid."""
    srv = bounce_server
    base = f"http://127.0.0.1:{srv.port}"
    body = json.dumps({"schema": "iglu:x", "data": []}).encode()
    req = urllib.request.Request(
        f"{base}/com.snowplowanalytics.snowplow/tp2",
        data=body,
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=10) as resp:
        assert resp.status == 200
    assert len(_rows(srv)) == 1  # stored, not bounced


def test_sink_health_endpoint_follows_probe(tmp_path):
    """/sink-health returns 503 while an attached sink's active probe
    reports the endpoint down, 200 after recovery (reference: health
    endpoint follows sink.isHealthy; probe loops flip it)."""
    from opensnowcat_collector_spark.sinks.base import HealthProbe, Sink

    class Probeable(Sink):
        def __init__(self):
            super().__init__()
            self.fail_probe = False

        def write(self, df, epoch_id=0):
            pass

        def probe(self):
            if self.fail_probe:
                raise RuntimeError("kinesis stream DELETING")

    sink = Probeable()
    srv = CollectorServer(
        CollectorConfig(), str(tmp_path / "landing"), sinks=(sink,)
    )
    srv.start()
    try:
        base = f"http://127.0.0.1:{srv.port}"
        assert _get(f"{base}/sink-health").status == 200
        sink.fail_probe = True
        hp = HealthProbe(sink, interval_s=0.01)
        assert not hp.probe_once()
        try:
            _get(f"{base}/sink-health")
            raise AssertionError("expected 503")
        except urllib.error.HTTPError as e:
            assert e.code == 503
            assert b"DELETING" in e.read()
        sink.fail_probe = False
        assert hp.probe_once()
        assert _get(f"{base}/sink-health").status == 200
    finally:
        srv.stop()


def test_p3p_root_and_crossdomain_config(server, tmp_path):
    """Response-config parity (CollectorService.scala:167,222-248): P3P
    header on event responses, config-rendered crossdomain.xml, and the
    configurable rootResponse; disabled crossDomain/root -> 404."""
    srv, _ = server
    base = f"http://127.0.0.1:{srv.port}"
    with _get(f"{base}/i?e=pv") as resp:
        assert resp.headers["P3P"] == 'policyref="/w3c/p3p.xml", CP="NOI DSP COR NID PSA OUR IND COM NAV STA"'
    xml = _get(f"{base}/crossdomain.xml").read().decode()
    assert '<allow-access-from domain="*.example.com" secure="true" />' in xml
    assert '<allow-access-from domain="acme.org" secure="true" />' in xml
    try:
        _get(f"{base}/")
        raise AssertionError("expected 302 rootResponse")
    except urllib.error.HTTPError as e:
        assert e.code == 302
        assert e.headers["Location"] == "https://www.example.com"
    # disabled variants -> 404 (reference route guard)
    srv2 = CollectorServer(CollectorConfig(), str(tmp_path / "landing2"))
    srv2.start()
    try:
        for p in ("/", "/crossdomain.xml"):
            try:
                _get(f"http://127.0.0.1:{srv2.port}{p}")
                raise AssertionError("expected 404")
            except urllib.error.HTTPError as e:
                assert e.code == 404
    finally:
        srv2.stop()


def test_redirect_host_case_sensitive_and_empty_allowlist(server, tmp_path):
    """Serve-path parity with CollectorService.scala:390-398 and
    transforms/privacy.redirect_allowed: (a) host matching preserves
    case (java.net.URL.getHost does not lowercase; Option.contains is
    exact), so ``https://EXAMPLE.com`` is denied under allowlist entry
    ``example.com``; (b) an EMPTY allowlist short-circuits to allowed
    BEFORE the URL is parsed, so even a malformed target redirects."""
    srv, _ = server
    try:
        _get(f"http://127.0.0.1:{srv.port}/r/tp2?u=https%3A%2F%2FEXAMPLE.com%2Fx")
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400

    open_cfg = CollectorConfig(
        deterministic_now_ms=1705320000000, enable_default_redirect=True
    )
    srv2 = CollectorServer(open_cfg, str(tmp_path / "landing2"))
    srv2.start()
    try:
        try:
            _get(f"http://127.0.0.1:{srv2.port}/r/tp2?u=notaurl")
            raise AssertionError("expected 302")
        except urllib.error.HTTPError as e:
            assert e.code == 302
            assert e.headers["Location"] == "notaurl"
        # blank-but-present u=: still Some("") -> allowed pre-parse in
        # empty-allowlist mode (reference parity), Location empty
        try:
            _get(f"http://127.0.0.1:{srv2.port}/r/tp2?u=&e=pv")
            raise AssertionError("expected 302")
        except urllib.error.HTTPError as e:
            assert e.code == 302
            assert e.headers["Location"] == ""
    finally:
        srv2.stop()
    # ...but under a NON-empty allowlist the blank target is denied
    # (new URL("") throws MalformedURLException in the reference)
    try:
        _get(f"http://127.0.0.1:{srv.port}/r/tp2?u=&e=pv")
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_redirects_disabled_by_default(tmp_path):
    """CollectorRoute.scala:43-49: with the default
    enableDefaultRedirect=false, /r/* answers 404 'redirects disabled'
    and stores nothing."""
    srv = CollectorServer(CollectorConfig(), str(tmp_path / "landing"))
    srv.start()
    try:
        try:
            _get(f"http://127.0.0.1:{srv.port}/r/tp2?u=https%3A%2F%2Fexample.com%2Fx")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
            assert e.read() == b"redirects disabled"
        assert _rows(srv) == []
    finally:
        srv.stop()


def test_pre_termination_unhealthy(tmp_path):
    """preTerminationUnhealthy: once shutdown begins, /health flips to 503
    while the listener keeps serving (LB drain window); event requests
    still succeed during the drain."""
    cfg = CollectorConfig(pre_termination_unhealthy=True)
    srv = CollectorServer(cfg, str(tmp_path / "landing"))
    srv.start()
    base = f"http://127.0.0.1:{srv.port}"
    try:
        assert _get(f"{base}/health").status == 200
        srv.httpd.draining = True  # what stop() sets before the drain wait
        try:
            _get(f"{base}/health")
            raise AssertionError("expected 503 while draining")
        except urllib.error.HTTPError as e:
            assert e.code == 503
        # events still served during the drain window
        assert _get(f"{base}/i?e=pv").status == 200
    finally:
        srv.stop()


def test_cors_preflight_max_age(server):
    srv, _ = server
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}/com.snowplowanalytics.snowplow/tp2",
        method="OPTIONS",
        headers={"Origin": "https://shop.example.com"},
    )
    with urllib.request.urlopen(req, timeout=10) as resp:
        assert resp.headers["Access-Control-Allow-Origin"] == "https://shop.example.com"
        assert resp.headers["Access-Control-Max-Age"] == "3600"
        assert resp.headers["Access-Control-Allow-Credentials"] == "true"


def test_https_serving_and_redirect_companion(tmp_path):
    """ssl.enable wraps the listener socket in TLS in-process
    (reference.conf:38-42): a tp2 POST over HTTPS lands in the landing
    dir and acks 'ok'; the companion redirect listener (ssl.redirect)
    308s plain-HTTP requests to the https origin preserving path+query."""
    import ssl
    import subprocess

    from opensnowcat_collector_spark.config import SslConfig
    from opensnowcat_collector_spark.server import SslRedirectServer

    cert = str(tmp_path / "cert.pem")
    key = str(tmp_path / "key.pem")
    subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-keyout", key,
         "-out", cert, "-days", "1", "-nodes", "-subj", "/CN=localhost"],
        check=True, capture_output=True,
    )
    cfg = CollectorConfig(ssl=SslConfig(enable=True, redirect=True, port=8443))
    # missing key material must fail loudly, not serve plaintext
    with pytest.raises(ValueError, match="ssl_certfile"):
        CollectorServer(cfg, str(tmp_path / "landing0"))
    srv = CollectorServer(
        cfg, str(tmp_path / "landing"), ssl_certfile=cert, ssl_keyfile=key
    )
    srv.start()
    try:
        ctx = ssl.create_default_context()
        ctx.check_hostname = False
        ctx.verify_mode = ssl.CERT_NONE
        body = "e=pv&p=web&tv=js"
        req = urllib.request.Request(
            f"https://127.0.0.1:{srv.port}/com.snowplowanalytics.snowplow/tp2",
            data=body.encode(),
            headers={"Content-Type": "application/x-www-form-urlencoded"},
        )
        with urllib.request.urlopen(req, timeout=10, context=ctx) as resp:
            assert resp.status == 200
            assert resp.read() == b"ok"
        srv.writer.flush()
        landing = tmp_path / "landing"
        rows = [
            json.loads(line)
            for f in landing.glob("*.json")
            for line in f.read_text().splitlines()
        ]
        assert any(r["body"] == body for r in rows)
    finally:
        srv.stop()

    redir = SslRedirectServer(cfg, https_host="collector.example.com")
    redir.start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{redir.port}/i?e=pv", method="GET"
        )

        class NoRedirect(urllib.request.HTTPErrorProcessor):
            def http_response(self, request, response):
                return response

        opener = urllib.request.build_opener(NoRedirect)
        with opener.open(req, timeout=10) as resp:
            assert resp.status == 308
            assert (
                resp.headers["Location"]
                == "https://collector.example.com:8443/i?e=pv"
            )
    finally:
        redir.stop()


def test_ssl_redirect_drains_post_body_on_keepalive():
    """Two POSTs with bodies over ONE keep-alive connection: the redirect
    handler must consume each request body before answering, or the
    unread body bytes desync the connection and the second request is
    parsed from the middle of the first one's body."""
    import http.client

    from opensnowcat_collector_spark.config import CollectorConfig
    from opensnowcat_collector_spark.server import SslRedirectServer

    cfg = CollectorConfig()
    redir = SslRedirectServer(cfg, https_host="collector.example.com")
    redir.start()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", redir.port, timeout=10)
        body = b"e=pv&p=web&" + b"x" * 4096
        for i in range(2):
            conn.request(
                "POST",
                f"/com.snowplowanalytics.snowplow/tp2?n={i}",
                body=body,
                headers={"Content-Type": "application/x-www-form-urlencoded"},
            )
            resp = conn.getresponse()
            assert resp.status == 308
            assert resp.getheader("Location").endswith(f"/com.snowplowanalytics.snowplow/tp2?n={i}")
            resp.read()
        conn.close()
    finally:
        redir.stop()


def test_malformed_content_length_clean_reject():
    """A non-numeric Content-Length must not surface int()'s ValueError
    as a 500 traceback: the collector answers a clean 400 and closes;
    the SSL-redirect companion still answers 308 but marks the
    connection close (body framing is unknowable, so draining is
    impossible)."""
    import http.client

    from opensnowcat_collector_spark.config import CollectorConfig
    from opensnowcat_collector_spark.server import SslRedirectServer

    cfg = CollectorConfig()
    redir = SslRedirectServer(cfg, https_host="collector.example.com")
    redir.start()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", redir.port, timeout=10)
        conn.putrequest("POST", "/com.snowplowanalytics.snowplow/tp2")
        conn.putheader("Content-Length", "abc")
        conn.endheaders()
        resp = conn.getresponse()
        assert resp.status == 308
        resp.read()
        # The handler must have dropped keep-alive: the next request on
        # the same connection dies instead of desyncing.
        import pytest as _pytest

        conn.putrequest("GET", "/health", skip_host=False)
        conn.endheaders()
        with _pytest.raises((http.client.HTTPException, ConnectionError, OSError)):
            conn.getresponse().read()
        conn.close()
    finally:
        redir.stop()


def test_malformed_content_length_collector_400(server):
    import http.client

    srv, _landing = server
    conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=10)
    conn.putrequest("POST", "/com.snowplowanalytics.snowplow/tp2")
    conn.putheader("Content-Length", "-7")
    conn.endheaders()
    resp = conn.getresponse()
    assert resp.status == 400
    conn.close()
