"""X1 telemetry payload, thrift ingest direction, X4 graceful drain, and
config-default parity (reference.conf values — SURVEY §5.4 ConfigSpec
analogue)."""

from __future__ import annotations

import json

from opensnowcat_collector_spark.config import (
    BufferConfig,
    CollectorConfig,
    CookieBounceConfig,
    CookieConfig,
    DoNotTrackCookieConfig,
)
from opensnowcat_collector_spark.streaming.telemetry import (
    OSS_CONTEXT_SCHEMA,
    build_telemetry_payload,
    send_heartbeat,
)


# --- X1 telemetry -----------------------------------------------------------


def test_telemetry_payload_shape():
    cfg = CollectorConfig()
    p = build_telemetry_payload(cfg, user_provided_id="org-1", region="us-east-1")
    assert p["schema"].endswith("payload_data/jsonschema/1-0-4")
    ev = p["data"][0]
    assert ev["e"] == "ue" and ev["p"] == "srv"
    inner = json.loads(ev["ue_pr"])
    assert inner["data"]["schema"] == OSS_CONTEXT_SCHEMA
    d = inner["data"]["data"]
    assert d["applicationName"] == cfg.app_name
    assert d["userProvidedId"] == "org-1" and d["region"] == "us-east-1"
    assert d["appGeneratedId"]  # fresh uuid


def test_telemetry_send_uses_injected_transport():
    calls = []
    cfg = CollectorConfig()
    status = send_heartbeat(cfg, post=lambda url, body: (calls.append((url, body)), 200)[1])
    assert status == 200
    url, body = calls[0]
    assert url.endswith("/com.snowplowanalytics.snowplow/tp2")
    assert b"oss_context" in body


# --- thrift ingest direction ------------------------------------------------


def test_read_thrift_records_roundtrip(spark):
    from opensnowcat_collector_spark.thrift_codec import (
        encode_collector_payload,
        read_thrift_records,
    )

    rows = [
        {"ip_address": f"1.2.3.{i}", "timestamp": 1705320000000 + i,
         "path": "/i", "headers": [f"H: {i}"], "schema": "sch",
         "network_user_id": f"u-{i}"}
        for i in range(5)
    ]
    df = spark.createDataFrame(
        [(encode_collector_payload(r),) for r in rows], "thrift_bytes binary"
    )
    back = {r["ip_address"]: r for r in read_thrift_records(df).collect()}
    assert len(back) == 5
    assert back["1.2.3.3"]["timestamp"] == 1705320000003
    assert back["1.2.3.3"]["headers"] == ["H: 3"]
    assert back["1.2.3.3"]["body"] is None  # omitted optional


# --- X4 graceful drain ------------------------------------------------------


def test_streaming_stop_drains_and_shuts_down(spark, tmp_path):
    import os

    from opensnowcat_collector_spark.sinks.memory import MemorySink
    from opensnowcat_collector_spark.streaming.job import StreamingCollector

    from .fixtures import raw_requests

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    with open(os.path.join(landing, "b.json"), "w") as f:
        for r in raw_requests()[:3]:
            r = dict(r)
            r["request_time"] = r["request_time"].isoformat()
            f.write(json.dumps(r) + "\n")

    class TrackingSink(MemorySink):
        def __init__(self):
            super().__init__()
            self.shutdown_called = False

        def shutdown(self):
            self.shutdown_called = True

    good, bad = TrackingSink(), TrackingSink()
    cfg = CollectorConfig(deterministic_now_ms=1705320000000)
    job = StreamingCollector(spark, cfg, good, bad)
    q = job.start(job.source_from_files(landing), str(tmp_path / "ckpt"))
    try:
        deadline = 60
        import time

        t0 = time.monotonic()
        while not good.rows and time.monotonic() - t0 < deadline:
            time.sleep(0.5)
        assert good.rows  # batch processed
    finally:
        job.stop(q)
    assert not q.isActive
    assert good.shutdown_called and bad.shutdown_called


# --- config parity (reference.conf defaults) --------------------------------


def test_config_defaults_match_reference_conf():
    cfg = CollectorConfig()
    # cookie.expiration 365 days (reference.conf:25)
    assert CookieConfig().expiration_ms == 365 * 24 * 3600 * 1000
    assert cfg.cookie.name == "sp"
    assert cfg.cookie.enabled is True
    # DNT disabled by default (reference.conf)
    assert cfg.do_not_track_cookie.enabled is False
    # bounce defaults (model.scala:73-78)
    b = CookieBounceConfig()
    assert b.name == "n3pc"
    assert b.fallback_network_user_id == "00000000-0000-0000-0000-000000000000"
    # buffer defaults (config.kinesis.extended.hocon:253-255)
    buf = BufferConfig()
    assert buf.byte_limit == 3145728 and buf.record_limit == 500
    # stdout maxBytes default 1 GB (config.stdout.extended.hocon:190)
    assert cfg.good_sink.max_bytes == 1000000000
    # collector tag format (CollectorService.scala:85-86)
    assert cfg.collector_tag == f"{cfg.app_name}-{cfg.app_version}-stdout"


def test_dnt_matches_regex_fullmatch():
    d = DoNotTrackCookieConfig(enabled=True, name="dnt", value="opt-(out|away)")
    assert d.matches("opt-out") and d.matches("opt-away")
    assert not d.matches("opt-outX") and not d.matches(None)


def test_statsd_emitter_lines_and_listener_hookup():
    """StatsD wire format + the MetricsListener emit hook (reference:
    monitoring.metrics.statsd, reference.conf:74-83)."""
    from types import SimpleNamespace

    from opensnowcat_collector_spark.streaming.listeners import (
        MetricsListener,
        StatsdEmitter,
    )

    sent: list[bytes] = []
    emitter = StatsdEmitter(prefix="snowplow.collector", send=sent.append)
    emitter.count("good", 3)
    emitter.gauge("latency_ms", 12.5)
    assert sent == [
        b"snowplow.collector.good:3|c",
        b"snowplow.collector.latency_ms:12.5|g",
    ]

    sent.clear()
    listener = MetricsListener(emit=emitter)
    progress = SimpleNamespace(
        batchId=7, numInputRows=42, processedRowsPerSecond=1234.5,
        durationMs={"triggerExecution": 10},
    )
    listener.onQueryProgress(SimpleNamespace(progress=progress))
    assert listener.progress_events[0]["num_input_rows"] == 42
    assert b"snowplow.collector.collector.batch.input_rows:42|g" in sent[0]


def test_main_once_processes_landing_and_exits(tmp_path, capsys, monkeypatch):
    """python -m opensnowcat_collector_spark --once: pre-existing landing
    rows flow through the pipeline to the configured (stdout) sink and
    the process exits cleanly after the availableNow drain."""
    from opensnowcat_collector_spark.__main__ import main
    from tests.fixtures import raw_requests
    from tests.test_streaming import _write_landing

    landing = str(tmp_path / "landing")
    _write_landing(landing, raw_requests())
    rc = main(
        [
            "--once",
            "--landing",
            landing,
            "--checkpoint",
            str(tmp_path / "ckpt"),
            "--port",
            "0",
            "--master",
            "local[4]",
        ]
    )
    captured = capsys.readouterr()
    assert rc == 0
    out_lines = [ln for ln in captured.out.splitlines() if ln.strip()]
    assert out_lines, "stdout sink must emit base64 records"
    import base64
    import json as _json

    decoded = _json.loads(base64.b64decode(out_lines[0]))
    assert decoded["collector"].startswith("opensnowcat-collector-spark")
    assert "encoding" in decoded


def test_main_once_restart_lands_each_row_once(tmp_path, spark):
    """Two ``--once`` runs over one ``--landing`` dir, without
    ``--checkpoint``, into the same file sinks: the second run resumes
    from the checkpoint kept next to the landing dir (``<landing>.checkpoint``)
    and re-reads nothing, so each row lands exactly once."""
    from opensnowcat_collector_spark.__main__ import main
    from tests.fixtures import raw_requests
    from tests.test_streaming import _write_landing

    landing = str(tmp_path / "landing")
    _write_landing(landing, raw_requests())
    good_dir, bad_dir = tmp_path / "good", tmp_path / "bad"
    conf = tmp_path / "c.hocon"
    conf.write_text(
        f'streams {{\n  good = "{good_dir}"\n  bad = "{bad_dir}"\n'
        "  sink {\n    enabled = parquet\n  }\n}\n"
    )
    argv = ["--once", "--config", str(conf), "--landing", landing, "--port", "0"]
    assert main(argv) == 0
    first = spark.read.parquet(str(good_dir)).count()
    assert main(argv) == 0
    good = spark.read.parquet(str(good_dir)).collect()
    assert len(good) == first > 0
    assert len({r["run"] for r in good}) == 1
    assert (tmp_path / "landing.checkpoint").is_dir()
    assert spark.read.parquet(str(bad_dir)).select("run").distinct().count() == 1


def test_main_without_config_uses_reference_defaults(tmp_path, monkeypatch):
    """python -m opensnowcat_collector_spark without --config runs on the
    reference defaults (REFERENCE_DEFAULTS: secure, HttpOnly,
    SameSite=None cookie; the v4 bounce fallback nuid), the same base
    every loaded config starts from — not on the bare dataclass fields."""
    import pytest

    from opensnowcat_collector_spark import __main__ as M
    from opensnowcat_collector_spark.config_loader import load_collector_config

    class _Stop(Exception):
        pass

    seen = {}

    def fake_collector(spark, cfg, good, bad):
        seen["cfg"] = cfg
        raise _Stop

    monkeypatch.setattr(M, "get_spark", lambda **kw: None)
    monkeypatch.setattr(M, "build_sink", lambda sink_cfg, name: None)
    monkeypatch.setattr(M, "StreamingCollector", fake_collector)
    with pytest.raises(_Stop):
        M.main(["--once", "--landing", str(tmp_path / "l"), "--checkpoint", str(tmp_path / "c")])
    cfg = seen["cfg"]
    assert cfg.cookie.secure is True and cfg.cookie.http_only is True
    assert cfg.cookie.same_site == "None"
    assert cfg.cookie_bounce.fallback_network_user_id == "00000000-0000-4000-A000-000000000000"
    assert cfg == load_collector_config(text="")


def test_main_stream_names_from_hocon(tmp_path):
    from opensnowcat_collector_spark.__main__ import _stream_names

    p = tmp_path / "c.hocon"
    p.write_text(
        'streams {\n  good = "raw-good"\n  bad = "raw-bad"\n  sink {\n    enabled = stdout\n  }\n}\n'
    )
    assert _stream_names(str(p)) == ("raw-good", "raw-bad")
    assert _stream_names(None) == ("good", "bad")


def test_collector_thrift_roundtrip_constants():
    """Pin collector_thrift_roundtrip's closed-form TBinaryProtocol
    arithmetic (_RT_ORACLE: BASE=255 covering every fixed field, +129 for
    even rows' body/content_type/path delta, +20 for the referer, 36 utf8
    bytes for the unicode UA vs 2 for 'UA', counted twice via headers[0])
    against the REAL encoder, so the oracle can never silently drift from
    thrift_codec or the fixture shapes (mirrors
    test_collector_split_accounting_oracle_constants)."""
    from opensnowcat_collector_spark.config import COLLECTOR_PAYLOAD_SCHEMA
    from opensnowcat_collector_spark.engine.collector_queries import (
        _RT_BODY,
        _RT_TAG,
        _RT_UNI_UA,
    )
    from opensnowcat_collector_spark.thrift_codec import encode_collector_payload

    assert len(_RT_UNI_UA.encode()) == 36
    assert len(_RT_BODY) == 66

    def payload(uid: int, eid: int) -> dict:
        even, uni, has_ref = uid % 2 == 0, uid % 3 == 0, uid % 3 == 1
        ua = _RT_UNI_UA if uni else "UA"
        return {
            "schema": COLLECTOR_PAYLOAD_SCHEMA,
            "ip_address": f"10.0.{uid % 250}.7",
            "timestamp": 1705320000000,
            "encoding": "UTF-8",
            "collector": _RT_TAG,
            "querystring": f"e=pv&eid=ev-{eid}&nuid=u-{uid}",
            "body": _RT_BODY if even else None,
            "path": "/com.snowplowanalytics.snowplow/tp2" if even else "/i",
            "user_agent": ua,
            "referer_uri": f"https://ref/{uid % 10}" if has_ref else None,
            "hostname": "collector.local",
            "network_user_id": f"u-{uid}",
            "headers": [f"User-Agent: {ua}"],
            "content_type": "application/json" if even else None,
        }

    def closed_form(uid: int, eid: int) -> int:
        even, uni, has_ref = uid % 2 == 0, uid % 3 == 0, uid % 3 == 1
        d, le, l = len(str(uid % 250)), len(str(eid)), len(str(uid))
        return (
            255 + d + le + 2 * l
            + 2 * (36 if uni else 2)
            + (20 if has_ref else 0)
            + (129 if even else 0)
        )

    # every (even, uni/has_ref/neither) branch combination plus digit-width
    # variation in uid/eid
    for uid in (0, 1, 2, 3, 4, 5, 42, 997, 1234, 250, 251):
        for eid in (0, 7, 123456):
            assert len(encode_collector_payload(payload(uid, eid))) == closed_form(
                uid, eid
            ), (uid, eid)


def test_ensure_shipped_pins_parser_escape_mode(spark):
    """sqlfrag's sql_str escapes for escapedStringLiterals=false; a
    session flipped to =true would silently change every embedded
    regex (ADVICE r14).  ensure_shipped must pin the conf back on its
    once-per-context first-touch path."""
    from opensnowcat_collector_spark import ship

    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        ship._SHIPPED.discard(spark.sparkContext.applicationId)
        ship.ensure_shipped(spark)
        assert (
            spark.conf.get("spark.sql.parser.escapedStringLiterals") == "false"
        )
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")


def test_ensure_shipped_pins_every_session(spark):
    """The escape-mode conf is per session: a second session on the same
    SparkContext (``newSession()``, as an external harness may create)
    must be pinned too, although the package is already shipped."""
    from opensnowcat_collector_spark import ship

    ship.ensure_shipped(spark)  # the context is shipped
    other = spark.newSession()
    other.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    ship.ensure_shipped(other)
    assert other.conf.get("spark.sql.parser.escapedStringLiterals") == "false"


def test_ensure_shipped_survives_recycled_context_id(monkeypatch):
    """A context created after ``sc.stop()`` can land on the freed
    context's ``id``; it is a new application and must be shipped."""
    from opensnowcat_collector_spark import ship

    class Conf:
        def get(self, key, default=None):
            return default

    class Context:
        def __init__(self, app_id):
            self.applicationId = app_id
            self.shipped = []

        def addPyFile(self, path):
            self.shipped.append(path)

    class Session:
        def __init__(self, sc):
            self.conf = Conf()
            self.sparkContext = sc

    monkeypatch.setattr(ship.shutil, "make_archive", lambda *a, **k: "pkg.zip")
    a = Context("stub-app-a")
    ship.ensure_shipped(Session(a))
    assert a.shipped == ["pkg.zip"]
    id_a = id(a)
    # allocate everything the loop needs before freeing a's slot
    app_ids = [f"stub-app-b{i}" for i in range(10_000)]
    held = []  # keep misses alive so each try takes a fresh slot
    del a
    for app_id in app_ids:
        b = Context(app_id)
        if id(b) == id_a:
            break
        held.append(b)
    assert id(b) == id_a, "no new context reused the freed id"
    ship.ensure_shipped(Session(b))
    assert b.shipped == ["pkg.zip"]
