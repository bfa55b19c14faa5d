"""Runnable collector: ``python -m opensnowcat_collector_spark``.

The deployment shape of the reference (a single binary driven by one
HOCON file — Collector.scala's ``run``) re-expressed for Spark: a thin
HTTP receiver appends raw requests to a landing zone, a Structured
Streaming job tails it through the pipeline, and good/bad sinks are
constructed from ``streams.sink.enabled`` exactly like the reference's
per-flavor mains.

    python -m opensnowcat_collector_spark --config collector.hocon \
        --landing /data/landing --checkpoint /data/ckpt --port 8080

Without ``--checkpoint``, a ``--landing`` dir keeps its checkpoint next
to it (``<landing>.checkpoint``), so a restart resumes where the last
run stopped; only a run with neither option uses temp dirs.

``--once`` processes everything currently in the landing zone
(availableNow trigger) and exits — the batch/backfill mode.  Without it
the process serves until SIGINT/SIGTERM, then drains: /health flips
unhealthy for the pre-termination period (reference
preTerminationPeriod/preTerminationUnhealthy) before the listener closes
and the streaming query stops on the terminationDeadline budget.
"""

from __future__ import annotations

import argparse
import json
import signal
import sys
import tempfile
import threading

from .config import CollectorConfig
from .config_loader import load_collector_config, parse_hocon
from .server import CollectorServer
from .session import get_spark
from .sinks import build_sink
from .streaming.job import StreamingCollector


def _stream_names(config_path: str | None) -> tuple[str, str]:
    """streams.good / streams.bad from the raw HOCON (they are plain
    scalars the dataclass mapping intentionally leaves to the runner)."""
    if not config_path:
        return "good", "bad"
    with open(config_path, encoding="utf-8") as f:
        tree = parse_hocon(f.read())
    streams = tree.get("streams", {}) if isinstance(tree.get("streams"), dict) else {}
    return str(streams.get("good", "good")), str(streams.get("bad", "bad"))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="opensnowcat-collector-spark")
    ap.add_argument("--config", help="HOCON collector config file")
    ap.add_argument("--landing", help="landing-zone dir (default: temp dir)")
    ap.add_argument(
        "--checkpoint",
        help="streaming checkpoint dir (default: <landing>.checkpoint with"
        " --landing, else a temp dir)",
    )
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--master", default="local[*]", help="Spark master")
    ap.add_argument(
        "--once",
        action="store_true",
        help="process the current landing-zone contents and exit",
    )
    args = ap.parse_args(argv)

    cfg: CollectorConfig = load_collector_config(args.config)
    landing = args.landing or tempfile.mkdtemp(prefix="collector-landing-")
    # the checkpoint remembers which landing files were delivered, so a
    # kept landing dir keeps its checkpoint next to it: a restart resumes
    # instead of landing every row again
    checkpoint = args.checkpoint or (
        args.landing.rstrip("/\\") + ".checkpoint"
        if args.landing
        else tempfile.mkdtemp(prefix="collector-ckpt-")
    )
    good_name, bad_name = _stream_names(args.config)

    spark = get_spark(app_name=cfg.app_name, master=args.master)
    good = build_sink(cfg.good_sink, good_name)
    bad = build_sink(cfg.bad_sink, bad_name)
    job = StreamingCollector(spark, cfg, good, bad)

    server = CollectorServer(cfg, landing, host=args.host, port=args.port, sinks=(good, bad))
    server.start()
    print(
        json.dumps(
            {
                "listening": f"http://{args.host}:{server.port}",
                "landing": landing,
                "checkpoint": checkpoint,
                "good_sink": cfg.good_sink.kind,
                "bad_sink": cfg.bad_sink.kind,
            }
        ),
        file=sys.stderr,
    )

    query = job.start(job.source_from_files(landing), checkpoint, available_now=args.once)

    if args.once:
        query.awaitTermination()
        server.stop()
        good.shutdown()
        bad.shutdown()
        return 0

    stop_evt = threading.Event()
    for sig in (signal.SIGINT, signal.SIGTERM):
        signal.signal(sig, lambda *_: stop_evt.set())

    if not cfg.telemetry.disable:
        # reference: TelemetryAkkaService heartbeats on an interval until
        # shutdown; failures are swallowed (telemetry must never take the
        # collector down)
        def _heartbeat_loop() -> None:
            from .streaming.telemetry import send_heartbeat

            while not stop_evt.wait(cfg.telemetry.interval_ms / 1000.0):
                try:
                    send_heartbeat(cfg)
                except Exception:
                    pass

        threading.Thread(target=_heartbeat_loop, daemon=True).start()

    stop_evt.wait()
    # graceful drain: keep serving for preTerminationPeriod regardless
    # (reference Collector.scala pre-termination hook); the
    # preTerminationUnhealthy flag only controls whether /health answers
    # 503 while draining (gated in the server handler, not here)
    server.stop(drain_wait_s=cfg.pre_termination_period_ms / 1000.0)
    job.stop(query)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
