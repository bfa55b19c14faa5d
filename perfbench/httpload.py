"""``http_pixel``: the receiver under a closed-loop and an open-loop client.

``CollectorServer`` runs in a child process (``serve.py``).  The client is
one process with at most ``nproc`` threads, each sending over its own
connection, one connection per request.  Traffic is 80% pixel ``GET /i``
and 20% tp2 ``POST``, all with a cookie.

The end-to-end numbers come from closed loops, where each client thread
sends its next request as soon as the last one has completed:

- latency: one thread, for ``LATENCY_SHARE`` of the run's seconds; the
  p50 of its round trips;
- throughput: ``BUSY_THREADS`` threads, for the rest of the seconds;
  completed requests per second.  Two requests in flight keep the
  receiver, one Python process, about 92% as busy as four do, and leave
  CPUs free for the receiver's own threads: with four client threads,
  ten runs spread 0.22 of their median and one run on a stalled host
  read half the usual rate; with two, ten runs spread 0.15.

The two alternate in ``SLICES`` slices each, so both numbers average over
the whole run: a shared host's speed drifts by several percent from one
ten-second stretch to the next.

A closed loop slows down in proportion when a shared host stalls.  An
open loop at a fixed rate instead queues the requests due during a
stall behind it, so near the receiver's limit a few stalls move its p50
severalfold; that made the open-loop p50 and the ladder's sustained rate
too unsteady between sets of runs to bound.

The traced run also measures the open loop, as a layer record: a fixed
nominal rate, each request timed from when it was due, then geometric
ladders of rates in 10% steps.  A step fails on any failed request, a
p99 over ``P99_LIMIT_MS``, or a request sent more than ``P99_LIMIT_MS``
late (a growing backlog).  A ladder stops at the first rate that fails
``TRIES`` times in a row: one stall of a shared host fails a step at any
rate, while a rate beyond the receiver's limit fails again.  The first
ladder climbs from the nominal rate; the others start ``RECLIMB_STEPS``
steps below where the first one ended, so they are short.  The traced
run climbs ``MIN_LADDERS`` ladders; the sustained rate is their median.
A ladder's top rate and time limit are fixed, so a faster receiver reads
faster however long the run is.  A ladder that reaches either without a
failing step has not found the receiver's limit: the run then fails
rather than report a rate.
"""

from __future__ import annotations

import glob
import http.client
import itertools
import json
import os
import re
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

import common
import mix

#: share of the run's seconds measuring latency with one client thread;
#: the rest measures throughput with ``BUSY_THREADS`` threads
LATENCY_SHARE = 0.5
#: slices of each closed loop, alternating
SLICES = 10
#: client threads of the throughput loop
BUSY_THREADS = 2
#: closed-loop requests sent before timing starts (landed and checked,
#: not timed)
WARMUP_REQUESTS = 300
NOMINAL_RPS = 500.0
#: seconds of the traced run's open loop at the nominal rate
NOMINAL_S = 3.0
LADDER_FACTOR = 1.10
LADDER_STEP_S = 0.35
#: a ladder's top rate, as a multiple of the nominal rate
LADDER_CAP = 8.0
#: a ladder's own time limit
LADDER_MAX_S = 20.0
MIN_LADDERS = 3
RECLIMB_STEPS = 5
#: failures in a row that end a ladder at one rate
TRIES = 2
P99_LIMIT_MS = 50.0
#: server start-ups per run; ``setup_s`` is their median
SETUPS = 3
REQUEST_TIMEOUT_S = 5.0

_RID_RE = re.compile(r"rid=([a-z]+[0-9]+)")


class Server:
    """``serve.py`` in a child process, stopped and waited for on close."""

    def __init__(self, landing: str, spans_path: str | None = None):
        args = [sys.executable, os.path.join(os.path.dirname(__file__), "serve.py"), landing]
        if spans_path:
            args.append(spans_path)
        self.proc = subprocess.Popen(
            args, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
        )
        line = self.proc.stdout.readline()
        if not line:
            self.proc.wait(timeout=30)
            raise RuntimeError(f"server exited with {self.proc.returncode}")
        self.port = json.loads(line)["port"]

    def command(self, cmd: str) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())

    def close(self) -> dict:
        """Stop the server; its final summary."""
        try:
            return self.command("stop")
        finally:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


@dataclass
class Phase:
    rate: float
    latency_ms: list[float] = field(default_factory=list)
    late_ms: list[float] = field(default_factory=list)
    ok_rids: list[str] = field(default_factory=list)
    failed_rids: list[str] = field(default_factory=list)
    sent: int = 0
    wall_s: float = 0.0

    @property
    def failures(self) -> int:
        return len(self.failed_rids)

    @property
    def p99_ms(self) -> float:
        return common.percentile(self.latency_ms, 99) if self.latency_ms else float("inf")

    @property
    def achieved_rps(self) -> float:
        return len(self.ok_rids) / self.wall_s

    def add(self, other: Phase) -> None:
        """Take in the requests of ``other``, a slice of the same loop."""
        self.latency_ms += other.latency_ms
        self.late_ms += other.late_ms
        self.ok_rids += other.ok_rids
        self.failed_rids += other.failed_rids
        self.sent += other.sent
        self.wall_s += other.wall_s

    def passes(self) -> bool:
        return (
            self.failures == 0
            and self.p99_ms <= P99_LIMIT_MS
            and max(self.late_ms, default=0.0) <= P99_LIMIT_MS
        )


def exchange(port: int, req) -> bool:
    """Send one request over its own connection; whether it got a 2xx."""
    method, target, body, headers = req
    try:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT_S)
        try:
            conn.request(method, target, body=body, headers=headers)
            resp = conn.getresponse()
            resp.read()
            return 200 <= resp.status < 300
        finally:
            conn.close()
    except OSError:
        return False


def send_phase(port: int, specs: list[mix.Spec], rate: float, threads: int) -> Phase:
    """Send ``specs`` open-loop at ``rate`` per second; return when every
    request has completed or failed."""
    reqs = [mix.http_request(s) for s in specs]
    res = Phase(rate)
    lock = threading.Lock()
    next_i = [0]
    t0 = time.perf_counter() + 0.01

    def worker():
        while True:
            with lock:
                i = next_i[0]
                next_i[0] += 1
            if i >= len(reqs):
                return
            due = t0 + i / rate
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            sent = time.perf_counter()
            ok = exchange(port, reqs[i])
            done = time.perf_counter()
            with lock:
                res.sent += 1
                res.late_ms.append((sent - due) * 1000)
                if ok:
                    res.latency_ms.append((done - due) * 1000)
                    res.ok_rids.append(specs[i].rid)
                else:
                    res.failed_rids.append(specs[i].rid)

    pool = [threading.Thread(target=worker) for _ in range(threads)]
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    res.wall_s = time.perf_counter() - t0
    return res


def send_closed(port: int, stream, threads: int, seconds: float,
                count: int | None = None) -> Phase:
    """Send requests from ``stream`` closed-loop: each of ``threads``
    threads sends its next request when its last one has completed, until
    ``seconds`` have passed or, when given, ``count`` requests have been
    taken.  Each request is timed from when it was sent."""
    res = Phase(0.0)
    lock = threading.Lock()
    taken = [0]
    t0 = time.perf_counter()
    deadline = t0 + seconds

    def worker():
        while True:
            with lock:
                if time.perf_counter() >= deadline or (count is not None and taken[0] >= count):
                    return
                spec = next(stream)
                taken[0] += 1
            req = mix.http_request(spec)
            sent = time.perf_counter()
            ok = exchange(port, req)
            done = time.perf_counter()
            with lock:
                res.sent += 1
                if ok:
                    res.latency_ms.append((done - sent) * 1000)
                    res.ok_rids.append(spec.rid)
                else:
                    res.failed_rids.append(spec.rid)

    pool = [threading.Thread(target=worker) for _ in range(threads)]
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    res.wall_s = time.perf_counter() - t0
    return res


def ladder_rates() -> list[float]:
    """The ladder's rates: 10% steps above the nominal rate, up to
    ``LADDER_CAP`` times it."""
    top = NOMINAL_RPS * LADDER_CAP
    rates = []
    while (rate := NOMINAL_RPS * LADDER_FACTOR ** (len(rates) + 1)) <= top:
        rates.append(rate)
    return rates


@dataclass
class Ladder:
    #: steps sent, except those that ended the ladder
    steps: list[Phase] = field(default_factory=list)
    #: the ``TRIES`` failed steps at the rate that ended the ladder
    stopped: list[Phase] = field(default_factory=list)
    #: the last step that passed
    sustained: Phase | None = None

    @property
    def censored(self) -> bool:
        """Ended at its top rate or time limit rather than at a failing
        rate, so the receiver's limit lies above it."""
        return not self.stopped


def climb(send, rates, time_limit: float = LADDER_MAX_S, clock=time.perf_counter) -> Ladder:
    """Send ``send(rate)`` for each rate in turn, stopping once a rate has
    failed ``TRIES`` times in a row, or before a step once ``time_limit``
    seconds have passed."""
    lad = Ladder()
    pending: list[Phase] = []
    t0 = clock()
    i = 0
    while i < len(rates) and clock() - t0 < time_limit:
        step = send(rates[i])
        if not step.passes():
            pending.append(step)
            if len(pending) == TRIES:
                lad.stopped = pending
                return lad
            continue
        lad.steps += pending + [step]
        pending = []
        lad.sustained = step
        i += 1
    lad.steps += pending
    return lad


def landed_rids(landing: str) -> list[str]:
    out = []
    for path in glob.glob(os.path.join(landing, "*.json")):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                m = _RID_RE.search(json.loads(line).get("querystring") or "")
                out.append(m.group(1) if m else "")
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, t_start: float):
    threads = min(4, len(os.sched_getaffinity(0)))
    busy_threads = min(BUSY_THREADS, threads)
    starts = []
    for i in range(SETUPS - 1):
        t = time.perf_counter()
        Server(os.path.join(work, f"setup-{i}")).close()
        starts.append(time.perf_counter() - t)
    landing = os.path.join(work, "landing")
    t = time.perf_counter()
    server = Server(landing, os.path.join(work, "spans.jsonl") if trace else None)
    starts.append(time.perf_counter() - t)
    setup_s = common.median(starts)

    stream = mix.iter_specs(seed, mix.PIXEL_MIX, prefix="h")

    def send(rate: float, n: int | None = None) -> Phase:
        chunk = list(itertools.islice(stream, n or int(rate * LADDER_STEP_S)))
        return send_phase(server.port, chunk, rate, threads)

    rates = ladder_rates()
    ladders: list[Ladder] = []
    nominal = None
    try:
        warmup = send_closed(server.port, stream, threads, REQUEST_TIMEOUT_S * 10,
                             count=WARMUP_REQUESTS)
        single, busy = Phase(0.0), Phase(0.0)
        for _ in range(SLICES):
            single.add(send_closed(server.port, stream, 1, seconds * LATENCY_SHARE / SLICES))
            busy.add(send_closed(server.port, stream, busy_threads,
                                 seconds * (1 - LATENCY_SHARE) / SLICES))
        stats = server.command("stats")
        if trace:
            nominal = send(NOMINAL_RPS, int(NOMINAL_RPS * NOMINAL_S))
            while len(ladders) < MIN_LADDERS:
                start = 0
                if ladders and ladders[0].sustained is not None:
                    start = max(0, rates.index(ladders[0].sustained.rate) - RECLIMB_STEPS)
                ladders.append(climb(send, rates[start:]))
    finally:
        final = server.close()

    # the steps that end a ladder are overloaded on purpose: their failed
    # requests are the capacity measurement, not failed operations, and
    # one that timed out at the client may still have landed
    closed = [warmup, single, busy]
    counted = closed + ([nominal] if nominal else []) + [s for lad in ladders for s in lad.steps]
    overloaded = [s for lad in ladders for s in lad.stopped]
    ok_rids = {r for p in counted + overloaded for r in p.ok_rids}
    may_land = {r for p in overloaded for r in p.failed_rids}
    landed = landed_rids(landing)
    # every 2xx event response lands exactly one row, and nothing else lands
    landed_set = set(landed)
    missing_or_extra = (
        len(ok_rids - landed_set)
        + len(landed_set - ok_rids - may_land)
        + (len(landed) - len(landed_set))
    )
    censored = sum(lad.censored for lad in ladders)
    attempted = sum(p.sent for p in counted)
    failed = sum(p.failures for p in counted) + missing_or_extra + censored
    p50 = common.percentile(single.latency_ms, 50)
    tail = common.tail_percentile(single.latency_ms)
    busy_rps = busy.achieved_rps
    notes = [
        f"http_pixel: {attempted} requests, up to {threads} client threads, "
        f"{len(landed)} rows landed for {len(ok_rids)} 2xx responses",
        f"http_p50_ms {p50:.3f} ms (n={len(single.latency_ms)}, closed loop, 1 thread)",
        f"http_p99_ms {tail[1]:.3f} ms (p{tail[0]:g}, n={len(single.latency_ms)}, closed loop, 1 thread)"
        if tail else "http_p99_ms: too few samples",
        f"http_busy_rps {busy_rps:.1f} req/s (closed loop, {busy_threads} threads, "
        f"p50 {common.percentile(busy.latency_ms, 50):.3f} ms)",
        f"server append p50 {stats['append_us_p50']:.1f} us, p99 {stats['append_us_p99']:.1f} us",
    ]
    layers = {}
    if trace:
        # a ladder whose first step fails sustains the nominal rate, if that passed
        floor = nominal.achieved_rps if nominal.passes() else 0.0
        sustained = [lad.sustained.achieved_rps if lad.sustained else floor for lad in ladders]
        sustained_rps = common.median(sustained)
        notes += [
            f"open loop at {NOMINAL_RPS:g} req/s: p50 {common.percentile(nominal.latency_ms, 50):.3f} ms, "
            f"p99 {nominal.p99_ms:.3f} ms (n={len(nominal.latency_ms)}), "
            f"generator up to {max(nominal.late_ms):.3f} ms late",
            f"http_sustained_rps {sustained_rps:.1f} req/s, the median of {len(ladders)} ladders",
            *(
                f"  ladder {i}: " + ", ".join(
                    f"{p.rate:.0f}{'' if p.passes() else ' FAIL'}"
                    for p in lad.steps + lad.stopped)
                + (" -- CENSORED: ended without a failing step, the limit lies above"
                   if lad.censored else f" -> {s:.1f} req/s")
                for i, (lad, s) in enumerate(zip(ladders, sustained))
            ),
        ]
        layers = {
            "server.append_us_p50": stats["append_us_p50"],
            "server.append_us_p99": stats["append_us_p99"],
            "server.rows_landed_per_2xx": len(landed) / max(1, len(ok_rids)),
            "http.gen_late_ms_max": max(nominal.late_ms),
            "http.p99_ms": nominal.p99_ms,
            "http.sustained_rps": sustained_rps,
            "traced.latency_p50_ms": p50,
            "traced.throughput_per_s": busy_rps,
        }
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (p50, "ms"),
        "throughput_per_s": (busy_rps, "1/s"),
        "peak_rss_mb": (final["peak_rss_mb"], "MB"),
    }
    correct = failed == 0
    return correct, attempted, failed, e2e, layers, notes
