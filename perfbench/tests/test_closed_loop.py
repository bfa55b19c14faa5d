"""The closed-loop client against a real receiver: every request is sent
once, and every 2xx response lands exactly one row."""

import itertools

import httpload
import mix


def test_closed_loop_sends_each_request_once_and_each_lands(tmp_path):
    landing = str(tmp_path / "landing")
    server = httpload.Server(landing)
    try:
        stream = mix.iter_specs(3, mix.PIXEL_MIX, prefix="h")
        counted = httpload.send_closed(server.port, stream, 2, 30.0, count=40)
        timed = httpload.send_closed(server.port, stream, 1, 0.3)
    finally:
        server.close()
    assert counted.sent == 40 and counted.failures == 0
    assert timed.sent >= 1 and timed.failures == 0
    assert len(timed.latency_ms) == timed.sent
    sent = counted.ok_rids + timed.ok_rids
    assert sorted(httpload.landed_rids(landing)) == sorted(sent)
    # the next request continues the stream where the loops stopped
    rid = next(stream).rid
    want = list(itertools.islice(mix.iter_specs(3, mix.PIXEL_MIX, prefix="h"), len(sent) + 1))
    assert rid == want[-1].rid
