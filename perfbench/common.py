"""Shared pieces of the benchmark: statistics, the span recorder, memory
high-water marks, the Spark event-log reader and the result line.

Nothing here imports pyspark, so the pure helpers are testable without a
JVM.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the ``query_mix`` registry queries, by family
QUERY_FAMILIES = {
    "relational": (
        "q3_shipping_priority", "q5_local_supplier_volume", "events_sessionize",
    ),
    "llmdata": (
        "collector_split_accounting", "dedup_source_order_plan",
    ),
}
QUERIES = QUERY_FAMILIES["relational"] + QUERY_FAMILIES["llmdata"]

#: percentiles a tail can be reported at, highest last
TAIL_PERCENTILES = (50.0, 90.0, 95.0, 99.0, 99.9)


def _rank(p: float, n: int) -> int:
    """0-based nearest rank of percentile ``p`` among ``n`` samples (the
    epsilon keeps 99.9% of 10000 at rank 9989 despite binary rounding)."""
    return max(0, math.ceil(p * n / 100.0 - 1e-9) - 1)


def percentile(values, p: float) -> float:
    """Nearest-rank percentile of ``values`` (``p`` in 0..100)."""
    if not values:
        raise ValueError("percentile of no values")
    return sorted(values)[_rank(p, len(values))]


def tail_percentile(values, min_beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile of ``TAIL_PERCENTILES`` that has at least
    ``min_beyond`` samples above its rank, as ``(p, value)``; ``None`` when
    even the median lacks that many."""
    n = len(values)
    best = None
    for p in TAIL_PERCENTILES:
        if n - (_rank(p, n) + 1) >= min_beyond:
            best = (p, percentile(values, p))
    return best


def median(values) -> float:
    return statistics.median(values)


# -- spans -------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    key: str | None = None


@dataclass
class SpanRecorder:
    """In-memory spans: name, start, end and the span that caused it.
    Spans stay in memory until ``dump`` writes them out at exit."""

    spans: list[Span] = field(default_factory=list)

    def start(self, name: str, parent: int | None = None, key: str | None = None) -> int:
        self.spans.append(Span(name, time.perf_counter(), math.nan, parent, key))
        return len(self.spans) - 1

    def finish(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Duration of span ``idx`` minus the part of its interval that
        its children cover (overlapping children are counted once)."""
        return self_time(self.spans[idx], self.children(idx))

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **s.__dict__}) + "\n")


def self_time(parent: Span, children: list[Span]) -> float:
    ivs = sorted(
        (max(c.start, parent.start), min(c.end, parent.end))
        for c in children
    )
    covered = 0.0
    cur_s = cur_e = None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (parent.end - parent.start) - covered


def timed_call(rec: SpanRecorder, name: str, fn, parent_of=lambda: None):
    """``fn`` wrapped so each call is recorded as a span named ``name``,
    under whatever span ``parent_of()`` returns at call time."""

    def call(*args, **kwargs):
        idx = rec.start(name, parent_of())
        try:
            return fn(*args, **kwargs)
        finally:
            rec.finish(idx)

    return call


# -- memory -------------------------------------------------------------


def vm_hwm_mb(pid: int) -> float:
    """Resident-set high-water mark of ``pid`` in MB (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid`` (from /proc)."""
    parent_of: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the comm field may contain spaces; ppid follows the closing paren
        parent_of[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def driver_peak_rss_mb() -> float:
    """Driver Python plus JVM high-water mark (the JVM is the ``java``
    descendant that the PySpark gateway launched)."""
    total = vm_hwm_mb(os.getpid())
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/comm", encoding="ascii") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if comm == "java":
            total += vm_hwm_mb(p)
    return total


# -- Spark event log ------------------------------------------------------


@dataclass
class EventLogTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0


def read_event_log(path: str, key_of) -> dict[str, EventLogTotals]:
    """Totals per key from an uncompressed, non-rolling Spark event log.
    ``key_of(properties)`` maps a job's properties to a key (or ``None``
    to ignore the job); stages and tasks are attributed through the job
    that submitted them."""
    totals: dict[str, EventLogTotals] = {}
    stage_key: dict[int, str] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                key = key_of(ev.get("Properties") or {})
                if key is None:
                    continue
                t = totals.setdefault(key, EventLogTotals())
                t.jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_key[sid] = key
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = stage_key.get(info["Stage ID"])
                if key is None or "Completion Time" not in info:
                    continue
                totals[key].stages += 1
            elif kind == "SparkListenerTaskEnd":
                key = stage_key.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if key is None or not m:
                    continue
                t = totals[key]
                t.tasks += 1
                t.executor_run_ms += m.get("Executor Run Time", 0)
                t.gc_ms += m.get("JVM GC Time", 0)
                t.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return totals


def spark_layers(totals: list[EventLogTotals], ops: int) -> dict[str, float]:
    """Event-log totals as per-operation ``spark.*`` layer metrics."""
    ops = max(1, ops)
    return {
        "spark.jobs": sum(t.jobs for t in totals) / ops,
        "spark.stages": sum(t.stages for t in totals) / ops,
        "spark.tasks": sum(t.tasks for t in totals) / ops,
        "spark.executor_run_ms": sum(t.executor_run_ms for t in totals) / ops,
        "spark.shuffle_write_bytes": sum(t.shuffle_write_bytes for t in totals) / ops,
        "spark.spill_bytes": sum(t.spill_bytes for t in totals) / ops,
        "spark.gc_ms": sum(t.gc_ms for t in totals) / ops,
    }


# -- result line -----------------------------------------------------------


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })
