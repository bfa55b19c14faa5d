#!/usr/bin/env python3
"""pysparkcat benchmark: collector ingest plus an analytic query mix.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout.  Workloads (see README.md for why
each exists):

- ``http_pixel``: ``CollectorServer`` in a child process under
  closed-loop clients (traced: also an open loop and rising rate ladders);
- ``ingest_trickle``: small landing files, one per micro-batch;
- ``ingest_bulk``: large landing files of the full request mix (traced:
  also the query mix's engine layer and a ``local[1]`` drain);
- ``query_mix``: warm passes over five registry queries on seeded tables;
- ``all``: each of the above in turn, in its own process.

Every run checks the program's outputs.  Human-readable lines go first;
the last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import time

#: set-up time is counted from process start
T_START = time.perf_counter()

import argparse  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from common import QUERIES  # noqa: E402

WORKLOADS = ("http_pixel", "ingest_trickle", "ingest_bulk", "query_mix")

E2E_METRICS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}

#: per-layer metrics, printed by every traced run; a layer a workload does
#: not enter reads 0
LAYER_METRICS = {
    # server (http_pixel)
    "server.append_us_p50": "us",
    "server.append_us_p99": "us",
    "server.rows_landed_per_2xx": "ratio",
    "http.gen_late_ms_max": "ms",
    "http.p99_ms": "ms",
    "http.sustained_rps": "1/s",
    # streaming.job (ingest)
    "streaming.latest_offset_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.batches": "count",
    "batch.self_ms": "ms",
    "batch.span_share_of_add_batch": "ratio",
    # pipeline
    "pipeline.run_ms": "ms",
    "pipeline.fanout": "ratio",
    # sinks
    "sinks.good_write_ms": "ms",
    "sinks.bad_write_ms": "ms",
    "sinks.good_rows": "count",
    "sinks.bad_rows": "count",
    # transforms
    "transforms.split.rows_in": "count",
    "transforms.split.rows_out": "count",
    "transforms.badrows.size_violation": "count",
    "transforms.badrows.generic_error": "count",
    # Spark execution, per micro-batch or per query
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_ms": "ms",
    "ingest.local1_events_per_s": "1/s",
    # engine (query_mix)
    "engine.construct_s": "s",
    "engine.execute_s": "s",
    "engine.construct_share": "ratio",
    "engine.construct_share.relational": "ratio",
    "engine.construct_share.llmdata": "ratio",
    "query.relational_s": "s",
    "query.llmdata_s": "s",
    # the traced run's own end-to-end numbers, for the tracing overhead
    "traced.latency_p50_ms": "ms",
    "traced.throughput_per_s": "1/s",
    **{f"engine.construct_s.{q}": "s" for q in QUERIES},
    **{f"engine.execute_s.{q}": "s" for q in QUERIES},
    **{f"spark.jobs.{q}": "count" for q in QUERIES},
}


def _prepare_env(work: str) -> None:
    """Point every temp and scratch location at the work directory before
    anything (tempfile, the JVM, Python workers) reads it."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _cpu_ticks() -> list[int]:
    """The host-wide CPU time counters of ``/proc/stat`` (empty where
    there are none)."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return []


def _run_all(args) -> int:
    status = 0
    for w in WORKLOADS:
        print(f"== {w}", flush=True)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=ROOT, check=False,
        )
        status = status or proc.returncode
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not os.path.isdir(os.path.join(ROOT, "opensnowcat_collector_spark")):
        print("error: opensnowcat_collector_spark not found next to perfbench/; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    ticks = _cpu_ticks()
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    import common
    import sparkenv

    try:
        if args.workload == "http_pixel":
            import httpload as mod
        elif args.workload == "query_mix":
            import querymix as mod
        else:
            import ingest as mod
        correct, attempted, failed, e2e, layers, notes = mod.run(
            args.workload, args.seed, args.seconds, bool(args.trace), work, T_START
        )
    finally:
        sparkenv.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass

    for line in notes:
        print(line)
    # time a hypervisor gave other machines while this one wanted the CPU:
    # runs with a high share were measured on a contended host
    used = [b - a for a, b in zip(ticks, _cpu_ticks())]
    if len(used) > 7 and sum(used):
        print(f"cpu steal {used[7] / sum(used):.1%} of this machine's CPU time during the run")
    print(f"failed_frac {failed / attempted:.6f} ({failed} of {attempted})")
    if args.trace:
        metrics = {k: (layers.get(k, 0.0), u) for k, u in LAYER_METRICS.items()}
    else:
        metrics = {k: (e2e[k][0], u) for k, u in E2E_METRICS.items()}
    print(common.result_line(correct, attempted, failed, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
