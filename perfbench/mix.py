"""Seeded request mix: the collector's inputs and what each should produce.

One request *spec* describes an HTTP request the way a tracker sends it.
The same spec becomes either a real HTTP request (the ``http_pixel``
workload) or the raw-request row the receiver would land for it, written
through the public ``LandingWriter`` so the files have the receiver's
exact format and atomic rotation (the ingest workloads).  Every spec
carries its expected outcome: how many good rows it yields and which bad
row, if any.

The expectations follow from how the requests are built, not from the
pipeline's code:

- pixel GET, small tp2 POST and Segment POST: one good row each;
- Amplitude POST with k events: k good rows (per-event fan-out);
- oversized tp2 POST: each of its n ~1.9 kB elements fits one payload
  under ``MAX_BYTES`` but no two fit together, so it splits into n good
  rows; half of them also carry one 5 kB element that fits nowhere and
  becomes one ``size_violation`` bad row;
- invalid querystring (``%zz``): no good row, one ``generic_error`` bad row.

Every request carries its id as ``rid=`` in the querystring, so bad rows
(which have no request id column) can be traced back to their request.
"""

from __future__ import annotations

import itertools
import json
import random
import uuid
from collections.abc import Iterator
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

#: ``good_sink.max_bytes`` of the benchmark's collector config; small, so
#: the oversized tp2 POSTs take the split path
MAX_BYTES = 4096
TP2_PATH = "/com.snowplowanalytics.snowplow/tp2"
PAYLOAD_DATA = "iglu:com.snowplowanalytics.snowplow/payload_data/jsonschema/1-0-4"

#: kind -> weight.  Trickle and the HTTP receiver see only the two
#: always-good kinds; bulk sees the full mix.
PIXEL_MIX = {"pixel": 80, "tp2": 20}
TRICKLE_MIX = PIXEL_MIX
BULK_MIX = {
    "pixel": 55,
    "tp2": 15,
    "tp2_big": 6,
    "segment": 8,
    "amplitude": 10,
    "invalid": 6,
}

_T0 = datetime(2024, 1, 15, 12, 0, 0, tzinfo=timezone.utc)
_UA = "Mozilla/5.0 (X11; Linux x86_64) perfbench/1.0"
_BIG_ELEMENT_PAD = 5000
_SPLIT_ELEMENT_PAD = 1900


@dataclass(frozen=True)
class Expect:
    good: int
    bad: int = 0
    bad_kind: str | None = None


@dataclass(frozen=True)
class Spec:
    rid: str
    kind: str
    method: str
    path: str
    querystring: str | None
    body: str | None
    content_type: str | None
    nuid: str
    expect: Expect

    @property
    def target(self) -> str:
        return self.path + (f"?{self.querystring}" if self.querystring else "")


def _compact(obj) -> str:
    return json.dumps(obj, separators=(",", ":"))


def _tracker_event(rng: random.Random, pad: int = 0) -> dict:
    ev = {
        "e": "pv",
        "aid": "site",
        "tv": "js-3.5.0",
        "p": "web",
        "url": f"https://shop.example/p/{rng.randrange(10_000)}",
    }
    if pad:
        ev["e"] = "ue"
        ev["ue_px"] = "x" * pad
    return ev


def make_spec(kind: str, rng: random.Random, rid: str) -> Spec:
    nuid = str(uuid.UUID(int=rng.getrandbits(128), version=4))
    qs = f"rid={rid}"
    body = ctype = None
    method, path = "POST", TP2_PATH
    if kind == "pixel":
        method, path = "GET", "/i"
        qs = f"e=pv&aid=site&url=https%3A%2F%2Fshop.example%2Fp%2F{rng.randrange(10_000)}&{qs}"
        expect = Expect(good=1)
    elif kind == "tp2":
        events = [_tracker_event(rng) for _ in range(rng.randint(1, 3))]
        body, ctype = _compact({"schema": PAYLOAD_DATA, "data": events}), "application/json"
        expect = Expect(good=1)
    elif kind == "tp2_big":
        n = rng.randint(2, 3)
        events = [_tracker_event(rng, _SPLIT_ELEMENT_PAD) for _ in range(n)]
        unsplittable = rng.random() < 0.5
        if unsplittable:
            events.insert(rng.randrange(n + 1), _tracker_event(rng, _BIG_ELEMENT_PAD))
        body, ctype = _compact({"schema": PAYLOAD_DATA, "data": events}), "application/json"
        expect = (
            Expect(good=n, bad=1, bad_kind="size_violation")
            if unsplittable
            else Expect(good=n)
        )
    elif kind == "segment":
        path, ctype = "/com.segment/v1/p", "text/plain"
        body = _compact({
            "type": "page",
            "userId": f"user-{rng.randrange(1000)}",
            "anonymousId": f"anon-{rng.randrange(1000)}",
            "properties": {"url": "https://shop.example/pricing", "page": "Pricing"},
            "context": {"library": {"name": "analytics.js", "version": "next-1.51.3"}},
        })
        expect = Expect(good=1)
    elif kind == "amplitude":
        path, ctype = "/com.amplitude/2/httpapi", "application/json"
        k = rng.randint(2, 6)
        body = _compact({
            "api_key": "bench-api-key",
            "events": [
                {
                    "device_id": f"dev-{rng.randrange(1000)}",
                    "time": 1700000000000 + i,
                    "event_type": "watch_tutorial",
                    "ip": "$remote",
                    "insert_id": f"{rid}-{i}",
                }
                for i in range(k)
            ],
        })
        expect = Expect(good=k)
    elif kind == "invalid":
        method, path = "GET", "/i"
        qs = f"{qs}&bad=%zz"
        expect = Expect(good=0, bad=1, bad_kind="generic_error")
    else:
        raise ValueError(f"unknown request kind {kind!r}")
    return Spec(rid, kind, method, path, qs, body, ctype, nuid, expect)


def iter_specs(seed: int, mix: dict[str, int], prefix: str = "r") -> Iterator[Spec]:
    """Endless request specs drawn from ``mix`` with a generator seeded by
    ``seed``; the same arguments always give the same sequence."""
    rng = random.Random(f"{seed}:{prefix}")
    kinds = list(mix)
    weights = [mix[k] for k in kinds]
    for i in itertools.count():
        (kind,) = rng.choices(kinds, weights)
        yield make_spec(kind, rng, f"{prefix}{i:07d}")


def specs(seed: int, n: int, mix: dict[str, int], prefix: str = "r") -> list[Spec]:
    """The first ``n`` specs of ``iter_specs``."""
    return list(itertools.islice(iter_specs(seed, mix, prefix), n))


def landing_row(spec: Spec, i: int) -> dict:
    """The raw-request row the receiver lands for ``spec`` (the fields of
    ``CollectorServer``'s handler, with a deterministic request time)."""
    headers = [
        f"Host: collector.example.com",
        f"User-Agent: {_UA}",
        f"Cookie: sp={spec.nuid}",
    ]
    if spec.content_type:
        headers.append(f"Content-Type: {spec.content_type}")
    return {
        "request_id": spec.rid,
        "method": spec.method,
        "path": spec.path,
        "querystring": spec.querystring,
        "body": spec.body,
        "user_agent": _UA,
        "referer_uri": "https://shop.example/",
        "hostname": "collector.example.com",
        "remote_ip": f"198.51.100.{i % 250 + 1}",
        "headers": headers,
        "origin": "shop.example",
        "cookies": {"sp": spec.nuid},
        "content_type": spec.content_type,
        "sp_anonymous": None,
        "request_time": (_T0 + timedelta(milliseconds=i)).isoformat(),
    }


def write_landing(landing_dir: str, all_specs: list[Spec], file_rows: int) -> None:
    """Land ``all_specs`` as files of ``file_rows`` rows each through the
    receiver's ``LandingWriter``."""
    from opensnowcat_collector_spark.server import LandingWriter

    writer = LandingWriter(landing_dir, rotate_rows=file_rows, rotate_secs=3600.0)
    try:
        for i, spec in enumerate(all_specs):
            writer.append(landing_row(spec, i))
    finally:
        writer.close()


def http_request(spec: Spec) -> tuple[str, str, bytes | None, dict[str, str]]:
    """``(method, target, body, headers)`` for sending ``spec`` over HTTP."""
    headers = {"User-Agent": _UA, "Cookie": f"sp={spec.nuid}",
               "Host": "collector.example.com"}
    body = spec.body.encode() if spec.body is not None else None
    if spec.content_type:
        headers["Content-Type"] = spec.content_type
    return spec.method, spec.target, body, headers
