"""Child process for ``http_pixel``: ``CollectorServer`` with a serving
wrapper that times each ``LandingWriter.append``.

    python3 perfbench/serve.py <landing_dir> [<spans.jsonl>]

Prints ``{"port": N}`` once serving.  Each line on standard input is a
command: ``stats`` prints the append-time summary so far as one JSON
line; ``stop`` stops the server (publishing the last landing file),
prints the final summary and exits, after writing one span per append
to ``spans.jsonl`` when that path is given.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]


def main(landing_dir: str, spans_path: str | None = None) -> int:
    import common
    from opensnowcat_collector_spark.config import CollectorConfig
    from opensnowcat_collector_spark.server import CollectorServer

    server = CollectorServer(CollectorConfig(), landing_dir)
    appends: list[tuple[int, int]] = []
    append = server.writer.append

    def timed_append(row):
        t0 = time.perf_counter_ns()
        try:
            append(row)
        finally:
            appends.append((t0, time.perf_counter_ns()))

    # the handler looks ``append`` up on the writer at each request
    server.writer.append = timed_append
    server.start()
    print(json.dumps({"port": server.port}), flush=True)

    def summary() -> dict:
        us = [(t1 - t0) / 1000.0 for t0, t1 in list(appends)]
        return {
            "appends": len(us),
            "append_us_p50": common.percentile(us, 50) if us else 0.0,
            "append_us_p99": common.percentile(us, 99) if us else 0.0,
            "peak_rss_mb": common.vm_hwm_mb(os.getpid()),
        }

    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "stats":
            print(json.dumps(summary()), flush=True)
        elif cmd == "stop":
            break
    server.stop()
    if spans_path:
        rec = common.SpanRecorder()
        for t0, t1 in appends:
            rec.spans.append(common.Span("server.append", t0 / 1e9, t1 / 1e9, None))
        rec.dump(spans_path)
    print(json.dumps(summary()), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
