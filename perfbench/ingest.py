"""``ingest_trickle`` and ``ingest_bulk``: landing files drained by
``StreamingCollector`` into parquet good/bad sinks built by ``build_sink``.

A run sets the collector up ``SETUPS`` times on the same warm-up input
(the first of these is the cold micro-batch), checks each set-up's
output, then drains pre-landed files one per micro-batch.  The drain's
first ``WARM_BATCHES`` batches are still set-up: the JVM keeps compiling
for several full-size batches, and a batch median over a falling trend
depends on how many batches fit.  The batches after them count, for the
run's seconds and for at least ``MIN_BATCHES`` batches.  Batches that
start after that are skipped and the query is stopped, so every batch
that counts ran to completion.  Every batch's output is checked.

The traced ``ingest_bulk`` run also carries two records that need a Spark
session but no workload of their own: the engine layer of the query mix
(``querymix.traced_layers``, after the drain) and the same drain at
``local[1]``, the single-threaded baseline.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

import common
import mix
import querymix

#: collector set-ups per run; their outputs must fingerprint the same
SETUPS = 2
#: timed batches per run, however slow the host: the batch median needs
#: more than one
MIN_BATCHES = 3
#: batches at the start of the timed drain that do not count
WARM_BATCHES = 2


@dataclass(frozen=True)
class Shape:
    mix: dict
    file_rows: int
    files: int
    warmup_rows: int


SHAPES = {
    # small files of always-good requests: per-batch fixed cost dominates
    "ingest_trickle": Shape(mix.TRICKLE_MIX, file_rows=500, files=40, warmup_rows=1000),
    # large files of the full mix: per-row executor work dominates
    "ingest_bulk": Shape(mix.BULK_MIX, file_rows=5000, files=14, warmup_rows=5000),
}

_UUID_RE = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
#: a wall-clock epoch-millis "timestamp" field, also inside JSON-escaped
#: payload text
_TS_RE = re.compile(r'(timestamp[\\"]*:\s*)\d+')
_RID_SQL = r"rid=([a-z]+[0-9]+)"


def collector_config():
    from opensnowcat_collector_spark.config import CollectorConfig, SinkConfig

    return CollectorConfig(
        good_sink=SinkConfig(kind="parquet", max_bytes=mix.MAX_BYTES),
        bad_sink=SinkConfig(kind="parquet"),
        enable_analyticsjs_bridge=True,
        enable_amplitude_bridge=True,
    )


@dataclass
class Drain:
    """One streaming query over a landing dir, into fresh sinks."""

    out_dir: str
    #: leading batches that do not count
    warm: int = 0
    processed: list[int] = field(default_factory=list)
    #: when the first batch that counts started
    t_counted: float | None = None
    progress: list[dict] = field(default_factory=list)
    query_id: str = ""
    batch_span: dict[int, int] = field(default_factory=dict)

    @property
    def counted(self) -> list[int]:
        return self.processed[self.warm:]

    @property
    def counted_progress(self) -> list[dict]:
        ids = set(self.counted)
        return [p for p in self.progress if p["batch_id"] in ids]

    @property
    def good_dir(self) -> str:
        return os.path.join(self.out_dir, "good")

    @property
    def bad_dir(self) -> str:
        return os.path.join(self.out_dir, "bad")

    @property
    def checkpoint(self) -> str:
        return os.path.join(self.out_dir, "checkpoint")


def drain(spark, cfg, landing: str, out_dir: str, seconds: float | None = None,
          rec: common.SpanRecorder | None = None, warm: int = 0) -> Drain:
    """Run ``StreamingCollector`` with ``availableNow`` and one file per
    trigger over ``landing``.  With ``seconds``, batches starting after
    ``warm`` batches, that many seconds and ``MIN_BATCHES`` counted
    batches are skipped and the query
    is stopped.  With ``rec``, each batch, ``pipeline.run`` call and sink
    write is recorded as a span."""
    from opensnowcat_collector_spark import pipeline
    from opensnowcat_collector_spark.sinks import build_sink
    from opensnowcat_collector_spark.streaming.job import StreamingCollector
    from opensnowcat_collector_spark.streaming.listeners import MetricsListener

    d = Drain(out_dir, warm)
    good = build_sink(cfg.good_sink, d.good_dir)
    bad = build_sink(cfg.bad_sink, d.bad_dir)
    job = StreamingCollector(spark, cfg, good, bad)
    inner = job.process_batch
    stop = threading.Event()
    current: list[int | None] = [None]
    deadline: list[float | None] = [None]
    original_run = pipeline.run
    if rec is not None:
        parent = lambda: current[0]  # noqa: E731
        pipeline.run = common.timed_call(rec, "pipeline.run", original_run, parent)
        good.write = common.timed_call(rec, "sinks.good_write", good.write, parent)
        bad.write = common.timed_call(rec, "sinks.bad_write", bad.write, parent)

    def process_batch(batch_df, epoch_id):
        if seconds is not None:
            if deadline[0] is None:
                if len(d.processed) == warm:
                    d.t_counted = time.perf_counter()
                    deadline[0] = d.t_counted + seconds
            elif time.perf_counter() >= deadline[0] and len(d.counted) >= MIN_BATCHES:
                stop.set()
                return
        if rec is not None:
            current[0] = d.batch_span[epoch_id] = rec.start("batch", key=str(epoch_id))
        try:
            inner(batch_df, epoch_id)
        finally:
            if rec is not None:
                rec.finish(current[0])
                current[0] = None
        d.processed.append(epoch_id)

    job.process_batch = process_batch
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        query = job.start(
            job.source_from_files(landing, max_files_per_trigger=1),
            d.checkpoint,
            available_now=True,
        )
        d.query_id = str(query.id)
        while query.isActive:
            if stop.wait(0.05):
                query.stop()
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        # progress events reach the Python listener asynchronously
        wait_until = time.monotonic() + 10
        while time.monotonic() < wait_until:
            seen = {p["batch_id"] for p in listener.progress_events}
            if seen >= set(d.processed):
                break
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(listener)
        pipeline.run = original_run
    done = set(d.processed)
    d.progress = [p for p in listener.progress_events if p["batch_id"] in done]
    return d


def batch_files(checkpoint: str) -> dict[int, list[str]]:
    """batch id -> landing files, from the file source's metadata log.

    Every tenth log file is a ``.compact`` file that repeats the entries of
    the batches before it while their own files are still on disk, so an
    entry is counted once however many log files hold it."""
    out: dict[int, set[str]] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out.setdefault(entry["batchId"], set()).add(entry["path"])
    return {b: sorted(paths) for b, paths in out.items()}


def file_specs(landing_files: list[str], all_specs: list[mix.Spec], file_rows: int):
    """The specs landed in each file: ``LandingWriter`` numbers its files
    in write order, ``file_rows`` rows each."""
    out = []
    for f in landing_files:
        seq = int(re.search(r"-(\d+)\.json$", f).group(1))
        out.extend(all_specs[seq * file_rows:(seq + 1) * file_rows])
    return out


def _read(spark, path: str):
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException:  # a sink that never received a batch
        return None


@dataclass
class Outputs:
    """What a drain wrote, counted from its sinks."""

    mismatched: int
    good_rows: int
    bad_rows: int
    #: requests the split stage cut into several good rows, and those rows
    split_in: int
    split_out: int
    bad_kinds: Counter


def check_outputs(spark, d: Drain, expected: list[mix.Spec]) -> Outputs:
    """Count the sinks' rows; per request, the good-row count and the
    bad-row kinds must match the spec (``mismatched`` counts those that
    do not)."""
    from pyspark.sql import functions as F

    good_by_rid: Counter = Counter()
    bad_by_rid: Counter = Counter()
    split_in = split_out = 0
    g = _read(spark, d.good_dir)
    if g is not None:
        rows = g.groupBy("request_id").agg(
            F.count(F.lit(1)).alias("n"), F.max("split_index").alias("split")
        ).collect()
        for r in rows:
            good_by_rid[r["request_id"]] = r["n"]
            # a split payload's pieces are numbered from 0; unsplit rows are all 0
            if r["split"] > 0:
                split_in += 1
                split_out += r["n"]
    b = _read(spark, d.bad_dir)
    if b is not None:
        rows = (
            b.select(F.regexp_extract("payload", _RID_SQL, 1).alias("rid"), "kind")
            .groupBy("rid", "kind").count().collect()
        )
        for r in rows:
            bad_by_rid[(r["rid"], r["kind"])] = r["count"]
    n_good, n_bad = sum(good_by_rid.values()), sum(bad_by_rid.values())
    bad_kinds: Counter = Counter()
    for (_, kind), n in bad_by_rid.items():
        bad_kinds[kind] += n
    mismatched = 0
    want_bad: Counter = Counter()
    for s in expected:
        if good_by_rid.pop(s.rid, 0) != s.expect.good:
            mismatched += 1
        if s.expect.bad:
            want_bad[(s.rid, s.expect.bad_kind)] = s.expect.bad
    for key in set(want_bad) | set(bad_by_rid):
        if want_bad[key] != bad_by_rid[key]:
            mismatched += 1
    # rows for requests that were not expected at all
    mismatched += len(good_by_rid)
    return Outputs(mismatched, n_good, n_bad, split_in, split_out, bad_kinds)


def fingerprint(spark, d: Drain) -> str:
    """Content hash of the good and bad rows, with the wall-clock
    timestamps and generated ids masked, independent of row order
    (computed by Spark: a sum of per-row hashes)."""
    from pyspark.sql import functions as F

    parts = []
    for path, drop in ((d.good_dir, "timestamp"), (d.bad_dir, "failure_timestamp")):
        df = _read(spark, path)
        if df is None:
            parts.append("-")
            continue
        df = df.drop(drop)
        text = F.to_json(F.struct(*sorted(df.columns)))
        text = F.regexp_replace(text, _UUID_RE.pattern, "<uuid>")
        text = F.regexp_replace(text, _TS_RE.pattern, "$1<ts>")
        row_hash = F.conv(F.substring(F.sha2(text, 256), 1, 15), 16, 10).cast("decimal(38,0)")
        agg = df.select(F.sum(row_hash).alias("h"), F.count(F.lit(1)).alias("n")).first()
        parts.append(f"{agg['h']}:{agg['n']}")
    return hashlib.sha256("|".join(parts).encode()).hexdigest()


def timed_drain(spark, cfg, landing, out_dir, seconds, specs, file_rows, rec=None, warm=0):
    """Drain ``landing`` for ``seconds`` and check what every batch wrote:
    ``(drain, expected specs, outputs, rows per second of trigger time)``.
    The rate covers the counted batches; their rows are the expected ones,
    which the check has just matched."""
    d = drain(spark, cfg, landing, out_dir, seconds, rec, warm)
    files = batch_files(d.checkpoint)
    expected = file_specs([f for b in d.processed for f in files[b]], specs, file_rows)
    out = check_outputs(spark, d, expected)
    counted = file_specs([f for b in d.counted for f in files[b]], specs, file_rows)
    rows = sum(s.expect.good + s.expect.bad for s in counted)
    trigger_s = sum(p["duration_ms"]["triggerExecution"] for p in d.counted_progress) / 1000.0
    return d, expected, out, rows / trigger_s


def _phase_medians(progress: list[dict]) -> dict[str, float]:
    names = {
        "latestOffset": "streaming.latest_offset_ms",
        "getBatch": "streaming.get_batch_ms",
        "queryPlanning": "streaming.query_planning_ms",
        "addBatch": "streaming.add_batch_ms",
        "walCommit": "streaming.wal_commit_ms",
        "commitOffsets": "streaming.commit_offsets_ms",
    }
    return {
        metric: common.median([p["duration_ms"].get(phase, 0) for p in progress])
        for phase, metric in names.items()
    }


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, t_start: float):
    import sparkenv

    shape = SHAPES[workload]
    warm_specs = mix.specs(seed, shape.warmup_rows, shape.mix, prefix="w")
    timed_specs = mix.specs(seed, shape.files * shape.file_rows, shape.mix, prefix="t")
    t_gen = time.perf_counter()
    warm_landing = os.path.join(work, "landing-warmup")
    timed_landing = os.path.join(work, "landing-timed")
    mix.write_landing(warm_landing, warm_specs, shape.file_rows)
    mix.write_landing(timed_landing, timed_specs, shape.file_rows)
    gen_s = time.perf_counter() - t_gen

    spark = sparkenv.start_spark(work, trace)
    app_id = spark.sparkContext.applicationId
    cfg = collector_config()
    notes: list[str] = []
    failed = 0
    extra_attempted = 0
    prints = []
    for i in range(SETUPS):
        d = drain(spark, cfg, warm_landing, os.path.join(work, f"setup-{i}"))
        failed += check_outputs(spark, d, warm_specs).mismatched
        prints.append(fingerprint(spark, d))
    fingerprints_agree = len(set(prints)) == 1

    rec = common.SpanRecorder() if trace else None
    d, expected, out, events_per_s = timed_drain(
        spark, cfg, timed_landing, os.path.join(work, "timed"), seconds, timed_specs,
        shape.file_rows, rec, WARM_BATCHES,
    )
    setup_s = d.t_counted - t_start - gen_s
    failed += out.mismatched
    n_good, n_bad = out.good_rows, out.bad_rows
    peak_rss = common.driver_peak_rss_mb()

    trigger_ms = [p["duration_ms"]["triggerExecution"] for p in d.counted_progress]
    batch_p50 = common.median(trigger_ms)
    tail = common.tail_percentile(trigger_ms)
    n_requests = len(expected)

    notes.append(f"{workload}: {len(d.counted)} batches after {d.warm} warm ones, "
                 f"{n_requests} requests, "
                 f"{n_good} good + {n_bad} bad rows, fingerprint {prints[0][:16]} "
                 f"(repeats across {SETUPS} set-ups: {fingerprints_agree})")
    notes.append(f"ingest_events_per_s {events_per_s:.1f} events/s")
    notes.append(f"batch_p50_ms {batch_p50:.1f} ms (n={len(trigger_ms)}; batches {trigger_ms})")
    notes.append(
        f"batch_tail_ms p{tail[0]:g} {tail[1]:.1f} ms (n={len(trigger_ms)})" if tail
        else f"batch_tail_ms: n={len(trigger_ms)} batches, no percentile has 10 beyond it"
    )
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (batch_p50, "ms"),
        "throughput_per_s": (events_per_s, "1/s"),
        "peak_rss_mb": (peak_rss, "MB"),
    }

    layers: dict[str, float] = {}
    if trace:
        layers.update(_phase_medians(d.counted_progress))
        layers["streaming.batches"] = len(d.counted_progress)
        layers.update(_span_layers(rec, d))
        layers["pipeline.fanout"] = n_good / max(1, n_requests)
        layers["sinks.good_rows"] = n_good
        layers["sinks.bad_rows"] = n_bad
        layers.update({
            "transforms.split.rows_in": out.split_in,
            "transforms.split.rows_out": out.split_out,
            "transforms.badrows.size_violation": out.bad_kinds["size_violation"],
            "transforms.badrows.generic_error": out.bad_kinds["generic_error"],
        })
        layers["traced.latency_p50_ms"] = batch_p50
        layers["traced.throughput_per_s"] = events_per_s
        if workload == "ingest_bulk":
            engine, mix_notes, mix_failed, mix_attempted, passes = querymix.traced_layers(
                spark, work, seed, rec
            )
            layers.update(engine)
            notes.extend(mix_notes)
            failed += mix_failed
            extra_attempted += mix_attempted
        rec.dump(os.path.join(work, "spans.jsonl"))
    spark.stop()
    if trace:
        done = {str(b) for b in d.counted}
        totals = common.read_event_log(
            sparkenv.event_log_path(work, app_id),
            lambda props: props.get("streaming.sql.batchId")
            if props.get("sql.streaming.queryId") == d.query_id
            and props.get("streaming.sql.batchId") in done else None,
        )
        layers.update(common.spark_layers(list(totals.values()), len(done)))
        if workload == "ingest_bulk":
            layers.update(querymix.query_jobs(sparkenv.event_log_path(work, app_id), passes)[0])
            layers["ingest.local1_events_per_s"] = _local1_events_per_s(
                work, cfg, warm_landing, timed_landing, timed_specs, shape
            )
            notes.append("single-threaded baseline: ingest.local1_events_per_s "
                         f"{layers['ingest.local1_events_per_s']:.1f} events/s at local[1]")
    correct = failed == 0 and fingerprints_agree
    attempted = n_requests + SETUPS * len(warm_specs) + extra_attempted
    return correct, attempted, failed, e2e, layers, notes


def _span_layers(rec: common.SpanRecorder, d: Drain) -> dict[str, float]:
    per = {"pipeline.run": [], "sinks.good_write": [], "sinks.bad_write": []}
    self_ms, coverage = [], []
    add_batch = {p["batch_id"]: p["duration_ms"].get("addBatch", 0) for p in d.counted_progress}
    for epoch, idx in d.batch_span.items():
        if epoch not in add_batch:
            continue
        for child in rec.children(idx):
            per[child.name].append((child.end - child.start) * 1000)
        self_ms.append(rec.self_time(idx) * 1000)
        span = rec.spans[idx]
        coverage.append((span.end - span.start) * 1000 / max(1, add_batch[epoch]))
    return {
        "pipeline.run_ms": common.median(per["pipeline.run"]),
        "sinks.good_write_ms": common.median(per["sinks.good_write"]),
        "sinks.bad_write_ms": common.median(per["sinks.bad_write"]),
        "batch.self_ms": common.median(self_ms),
        "batch.span_share_of_add_batch": common.median(coverage),
    }


def _local1_events_per_s(work, cfg, warm_landing, timed_landing, timed_specs, shape) -> float:
    """The same bulk drain on one core, after one warm-up set-up, for
    ``MIN_BATCHES`` batches (so the traced run stays short)."""
    import sparkenv

    spark = sparkenv.start_spark(work, trace=False, master="local[1]")
    try:
        drain(spark, cfg, warm_landing, os.path.join(work, "local1-setup"))
        return timed_drain(
            spark, cfg, timed_landing, os.path.join(work, "local1-timed"), 0.0,
            timed_specs, shape.file_rows,
        )[-1]
    finally:
        spark.stop()
