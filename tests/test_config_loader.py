"""ConfigReaderSpec port (reference: core/src/test/.../config/
ConfigReaderSpec.scala + resources/configs/*.hocon): HOCON loading with
reference.conf defaults underneath, and fallbackDomain validation."""

from __future__ import annotations

import pytest

from opensnowcat_collector_spark.config_loader import (
    load_collector_config,
    parse_duration_ms,
    parse_hocon,
)

VALID_CONFIG = """
interface = "0.0.0.0"
port = 8080

streams {
  useIpAddressAsPartitionKey = false
  good = "good"
  bad = "bad"

  sink {
    enabled = stdout
    maxBytes = 1000000000
  }

  buffer {
    byteLimit = 3145728
    recordLimit = 500
    timeLimit = 5000
  }
}
"""


def test_valid_config_parses():
    cfg = load_collector_config(text=VALID_CONFIG)
    assert cfg.good_sink.kind == "stdout"
    assert cfg.good_sink.max_bytes == 1000000000
    assert cfg.good_sink.buffer.byte_limit == 3145728
    assert cfg.good_sink.buffer.record_limit == 500
    assert cfg.good_sink.buffer.time_limit_ms == 5000
    # defaults from reference.conf show through
    assert cfg.cookie.name == "sp"
    assert cfg.cookie.expiration_ms == 365 * 24 * 3600 * 1000
    assert cfg.cookie_bounce.name == "n3pc"
    assert cfg.use_ip_address_as_partition_key is False


def test_invalid_fallback_domain_rejected():
    """invalid-fallback-domain.hocon: a comma is not a domain character."""
    text = VALID_CONFIG + '\ncookie {\n  fallbackDomain: "example.com,example2.com"\n}\n'
    with pytest.raises(ValueError) as exc:
        load_collector_config(text=text)
    assert str(exc.value).startswith("fallbackDomain contains invalid character")
    assert "[,]" in str(exc.value)


def test_valid_fallback_domain_accepted():
    text = VALID_CONFIG + '\ncookie { fallbackDomain = "fallback.example.com" }\n'
    cfg = load_collector_config(text=text)
    assert cfg.cookie.fallback_domain == "fallback.example.com"


def test_defaults_only():
    cfg = load_collector_config(text="")
    assert cfg.cookie.enabled is True
    assert cfg.cookie.secure is True and cfg.cookie.http_only is True
    assert cfg.do_not_track_cookie.enabled is False
    assert cfg.cookie_bounce.fallback_network_user_id.endswith("-000000000000")
    assert cfg.redirect_domains == ()


def test_no_source_is_reference_defaults():
    assert load_collector_config() == load_collector_config(text="")


def test_durations():
    assert parse_duration_ms("365 days") == 365 * 24 * 3600 * 1000
    assert parse_duration_ms("10.seconds") == 10000
    assert parse_duration_ms("10 seconds") == 10000
    assert parse_duration_ms("60 minutes") == 3600000
    assert parse_duration_ms(5000) == 5000
    assert parse_duration_ms('"10 seconds"') == 10000


def test_hocon_subset_features():
    tree = parse_hocon(
        """
# full-line comment
paths {
  "/com.acme/track" = "/com.snowplowanalytics.snowplow/tp2"
}
monitoring.metrics.statsd {
  enabled = false   # trailing comment
  hostname = localhost
}
redirectDomains = [ "a.example", "b.example" ]
empty = []
cookie {
  sameSite = "None"
}
cookie {
  name = sp2        // object merge: later block merges, not replaces
}
"""
    )
    assert tree["paths"]["/com.acme/track"] == "/com.snowplowanalytics.snowplow/tp2"
    assert tree["monitoring"]["metrics"]["statsd"]["enabled"] is False
    assert tree["monitoring"]["metrics"]["statsd"]["hostname"] == "localhost"
    assert tree["redirectDomains"] == ["a.example", "b.example"]
    assert tree["empty"] == []
    assert tree["cookie"] == {"sameSite": "None", "name": "sp2"}


def test_reference_conf_shape_parses():
    """The full reference.conf structure (reference.conf:1-98 re-typed)
    round-trips through the loader."""
    text = """
enableDefaultRedirect = false
redirectDomains     = []
terminationDeadline = 10.seconds

paths {
}

cookieBounce {
    enabled = false
    name = "n3pc"
    fallbackNetworkUserId = "00000000-0000-4000-A000-000000000000"
}

cookie {
    enabled = true
    expiration = 365 days
    name = sp
    secure = true
    httpOnly = true
    sameSite = "None"
}

doNotTrackCookie {
    enabled = false
    name = ""
    value = ""
}

rootResponse {
    enabled = false
    statusCode = 302
    headers = {}
    body = ""
}

redirectMacro {
    enabled = false
}

monitoring.metrics.statsd {
  enabled = false
  hostname = localhost
  port = 8125
  period = "10 seconds"
}

streams {
    useIpAddressAsPartitionKey = false
}
"""
    cfg = load_collector_config(text=text)
    assert cfg.cookie.name == "sp"
    assert cfg.cookie.same_site == "None"
    assert cfg.cookie_bounce.name == "n3pc"
    assert cfg.redirect_macro.enabled is False


def test_substitution_and_include_raise():
    with pytest.raises(ValueError):
        parse_hocon('foo = ${bar}\n')
    with pytest.raises(ValueError):
        parse_hocon('include "other.conf"\n')


def test_sink_options_passthrough_and_unknown_keys_ignored():
    text = """
streams {
  sink {
    enabled = kinesis
    maxBytes = 1000000
    region = eu-central-1
    streamName = raw
  }
}
unknownTopLevel { whatever = 1 }
"""
    cfg = load_collector_config(text=text)
    assert cfg.good_sink.kind == "kinesis"
    assert cfg.good_sink.max_bytes == 1000000
    assert cfg.good_sink.options == {"region": "eu-central-1", "streamName": "raw"}


def test_response_config_blocks_mapped():
    text = """
p3p { policyRef = "/w3c/p3p.xml", CP = "NOI DSP" }
rootResponse {
  enabled = true
  statusCode = 302
  body = "moved"
}
crossDomain {
  enabled = true
  domains = [ "*.acme.com" ]
  secure = false
}
"""
    cfg = load_collector_config(text=text)
    assert cfg.p3p.cp == "NOI DSP"
    assert cfg.p3p.header_value == 'policyref="/w3c/p3p.xml", CP="NOI DSP"'
    assert cfg.root_response.enabled and cfg.root_response.status_code == 302
    assert cfg.root_response.body == "moved"
    assert cfg.cross_domain.enabled
    assert cfg.cross_domain.domains == ("*.acme.com",)
    assert cfg.cross_domain.secure is False


def test_telemetry_and_termination_mapped():
    text = """
telemetry {
  disable = true
  interval = 5 minutes
  url = "collector.internal.example"
  port = 8443
  secure = true
}
terminationDeadline = 30.seconds
"""
    cfg = load_collector_config(text=text)
    assert cfg.telemetry.disable is True
    assert cfg.telemetry.interval_ms == 5 * 60 * 1000
    assert cfg.telemetry.endpoint == (
        "https://collector.internal.example:8443/com.snowplowanalytics.snowplow/tp2"
    )
    assert cfg.termination_deadline_ms == 30000
    # disabled telemetry short-circuits the heartbeat
    from opensnowcat_collector_spark.streaming.telemetry import send_heartbeat

    assert send_heartbeat(cfg, post=lambda u, b: 200) == -1


def test_cors_max_age_mapped():
    cfg = load_collector_config(text='cors { accessControlMaxAge = 5 minutes }')
    assert cfg.cors.access_control_max_age_ms == 300000


def test_experimental_bridge_flags_mapped():
    cfg = load_collector_config(text="")
    assert cfg.enable_analyticsjs_bridge is False  # reference default
    assert cfg.enable_amplitude_bridge is False
    cfg = load_collector_config(
        text="experimental {\n  enableAnalyticsJsBridge = true\n  enableAmplitudeBridge = true\n}\n"
    )
    assert cfg.enable_analyticsjs_bridge is True
    assert cfg.enable_amplitude_bridge is True


def test_collector_wrapper_block_unwrapped(tmp_path):
    """Reference config files wrap everything in `collector { ... }`;
    the loader must descend into it instead of silently returning
    defaults."""
    from opensnowcat_collector_spark.config_loader import load_collector_config

    cfg = load_collector_config(
        text=(
            "collector {\n"
            "  streams {\n"
            "    sink {\n"
            "      enabled = kinesis\n"
            "    }\n"
            "  }\n"
            "}\n"
        )
    )
    assert cfg.good_sink.kind == "kinesis"


def test_example_configs_load(tmp_path):
    import os

    from opensnowcat_collector_spark.config_loader import load_collector_config
    from opensnowcat_collector_spark.sinks import build_sink

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    stdout_cfg = load_collector_config(os.path.join(repo, "examples/collector-stdout.hocon"))
    assert stdout_cfg.good_sink.kind == "stdout"
    assert type(build_sink(stdout_cfg.good_sink, "g")).__name__ == "StdoutSink"
    kin = load_collector_config(os.path.join(repo, "examples/collector-kinesis.hocon"))
    assert kin.good_sink.kind == "kinesis"
    assert kin.cookie_bounce.enabled
    sink = build_sink(kin.good_sink, "collector-payloads")
    assert sink.stream_name == "collector-payloads"
    assert sink.sqs_failover_queue_url and sink.sqs_failover_queue_url.startswith("https://sqs")


def test_ssl_block_parsed_and_carried():
    """reference.conf:38-42 ssl block maps to SslConfig (parse-and-carry:
    TLS terminates in front of the receiver, but a reference config with
    ssl{} must round-trip losslessly)."""
    from opensnowcat_collector_spark.config_loader import load_collector_config

    cfg = load_collector_config(
        text="collector {\n  ssl {\n    enable = true\n    redirect = true\n    port = 8443\n  }\n}\n"
    )
    assert cfg.ssl.enable is True
    assert cfg.ssl.redirect is True
    assert cfg.ssl.port == 8443
    # defaults when absent
    dflt = load_collector_config(text="collector {\n}\n")
    assert (dflt.ssl.enable, dflt.ssl.redirect, dflt.ssl.port) == (False, False, 443)


def test_all_reference_example_configs_parse():
    """Every config file the reference ships must load cleanly (ConfigReaderSpec
    analogue: valid config + packaged defaults parses)."""
    import glob

    from opensnowcat_collector_spark.config_loader import load_collector_config

    paths = sorted(glob.glob("/root/reference/examples/*.hocon"))
    if not paths:  # reference checkout not present in this environment
        import pytest

        pytest.skip("reference examples not available")
    for p in paths:
        cfg = load_collector_config(p)
        assert cfg.ssl.port == 443
        assert cfg.good_sink.kind


def test_optional_env_substitution(monkeypatch):
    """`key = ${?ENV}`: resolves when the variable is set, leaves the key
    unset (defaults apply) when it is not."""
    from opensnowcat_collector_spark.config_loader import load_collector_config

    text = "collector {\n  streams {\n    sink {\n      enabled = ${?TEST_COLLECTOR_SINK}\n    }\n  }\n}\n"
    cfg = load_collector_config(text=text)
    assert cfg.good_sink.kind == "stdout"  # unset -> default
    monkeypatch.setenv("TEST_COLLECTOR_SINK", "kafka")
    cfg = load_collector_config(text=text)
    assert cfg.good_sink.kind == "kafka"
