"""K7 stdout sink: base64-encoded records to stdout (good) / stderr (bad)
— reference: stdout/.../StdoutSink.scala:24-40.  The v0 sink."""

from __future__ import annotations

import base64
import sys
import threading

from pyspark.sql import DataFrame

from .base import Sink

# The collector writes a micro-batch's good and bad sinks from two
# threads, and both may print to one stream.  ``print`` writes the record
# and its newline separately, and a buffer flush inside the first write
# lets the other thread in between, gluing two records onto one line; one
# write per line under one lock keeps every record a whole line.
_LOCK = threading.Lock()


class StdoutSink(Sink):
    def __init__(self, stream: str = "out", max_bytes: int = 1000000000):
        super().__init__(max_bytes=max_bytes)
        self.stream = stream

    def write(self, df: DataFrame, epoch_id: int = 0) -> None:
        out = sys.stdout if self.stream == "out" else sys.stderr
        # serialized column if present (good path), else whole-row JSON.
        # toLocalIterator streams one partition at a time to the driver —
        # stdout is inherently driver-side, but the whole batch never
        # materializes at once (collect() would OOM at scale).
        col = "serialized" if "serialized" in df.columns else None
        rows = (df.select(col) if col else df.toJSON()).toLocalIterator()
        for r in rows:
            payload = r[0] if col else r
            line = base64.b64encode(payload.encode("utf-8")).decode("ascii") + "\n"
            with _LOCK:
                out.write(line)
