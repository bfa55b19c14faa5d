"""The rate ladder stops at the first rate that fails twice in a row, and
a ladder that never fails is censored rather than read as a rate."""

import httpload
from httpload import Phase


def _phase(rate, capacity):
    p = Phase(rate)
    over = rate > capacity
    p.latency_ms = [80.0 if over else 2.0] * 100
    p.late_ms = [0.0] * 100
    p.ok_rids = [f"h{i}" for i in range(100)]
    p.sent, p.wall_s = 100, 0.5
    return p


def test_ladder_stops_at_first_rate_failing_twice():
    sent = []

    def send(rate):
        sent.append(rate)
        return _phase(rate, capacity=700)

    lad = httpload.climb(send, [550, 605, 666, 732, 805])
    assert sent == [550, 605, 666, 732, 732]
    assert [s.rate for s in lad.stopped] == [732, 732] and not lad.censored
    assert [s.rate for s in lad.steps] == [550, 605, 666]
    assert lad.sustained.rate == 666


def test_one_stalled_step_does_not_end_the_ladder():
    stalls = {605}

    def send(rate):
        if rate in stalls:
            stalls.discard(rate)
            return _phase(rate, capacity=0)
        return _phase(rate, capacity=700)

    lad = httpload.climb(send, [550, 605, 666, 732, 805])
    assert [s.rate for s in lad.steps] == [550, 605, 605, 666]
    assert not lad.steps[1].passes() and lad.steps[2].passes()
    assert lad.sustained.rate == 666 and not lad.censored


def test_ladder_without_a_failure_is_censored():
    lad = httpload.climb(lambda r: _phase(r, capacity=10_000), [550, 605])
    assert len(lad.steps) == 2 and lad.sustained.rate == 605
    assert lad.censored


def test_ladder_stops_at_its_time_limit_censored():
    ticks = iter(range(100))
    lad = httpload.climb(lambda r: _phase(r, capacity=10_000), [550, 605, 666, 732],
                         time_limit=3, clock=lambda: next(ticks))
    assert [s.rate for s in lad.steps] == [550, 605]
    assert lad.censored


def test_ladder_rates_do_not_depend_on_run_length():
    rates = httpload.ladder_rates()
    top = httpload.NOMINAL_RPS * httpload.LADDER_CAP
    assert rates[0] == httpload.NOMINAL_RPS * httpload.LADDER_FACTOR
    assert top / httpload.LADDER_FACTOR < rates[-1] <= top
    assert all(abs(b / a - httpload.LADDER_FACTOR) < 1e-9 for a, b in zip(rates, rates[1:]))


def test_step_fails_on_error_or_backlog():
    p = _phase(550, capacity=10_000)
    assert p.passes()
    p.failed_rids.append("h999")
    assert not p.passes()
    q = _phase(550, capacity=10_000)
    q.late_ms[-1] = httpload.P99_LIMIT_MS + 1
    assert not q.passes()


def test_first_step_failing_sustains_nothing():
    lad = httpload.climb(lambda r: _phase(r, capacity=0), [550, 605])
    assert [s.rate for s in lad.stopped] == [550, 550] and not lad.steps
    assert lad.sustained is None and not lad.censored
