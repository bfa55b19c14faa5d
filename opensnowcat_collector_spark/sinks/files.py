"""Parquet/file sink — the landing-zone sink for downstream analytics
(the engine's §2.8 query surface reads these back).

Layout: ``<path>/run=<query id>/epoch=<epoch_id>/``, one directory per
micro-batch, which ``write`` overwrites whole.  The checkpoint keeps the
query id, and a crashed micro-batch is replayed under the same epoch id
with the same input, so the replay replaces what the crash left and each
committed batch lands exactly once (a replayable source plus an
idempotent sink).  A new checkpoint is a new query id: its epochs,
numbered from 0 again, never touch an earlier run.  Writes outside a
streaming query go to ``run=batch``.  ``spark.read.parquet(path)`` adds
a string ``run`` and an integer ``epoch`` column.  A path holding the old
flat append layout is refused: partition discovery fails on mixed
layouts, which would make every row unreadable."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .base import Sink

#: set by Spark on the streaming query thread that runs ``foreachBatch``
_QUERY_ID = "sql.streaming.queryId"


class ParquetSink(Sink):
    def __init__(self, path: str, max_bytes: int = 1000000000):
        super().__init__(max_bytes=max_bytes)
        self.path = path
        self._run = "run=batch"
        names = os.listdir(path) if os.path.isdir(path) else []
        stray = [n for n in names if not n.startswith(("run=", "_", "."))]
        if stray:
            raise ValueError(f"{path} holds {stray[0]!r} outside the run/epoch layout "
                             "(old flat append output?): use a new path")

    def _run_dir(self, spark: SparkSession) -> str:
        """The run of the streaming query calling, else of the last one."""
        query_id = spark.sparkContext.getLocalProperty(_QUERY_ID)
        if query_id:
            self._run = f"run={query_id}"
        return os.path.join(self.path, self._run)

    def write(self, df: DataFrame, epoch_id: int = 0) -> None:
        run = self._run_dir(df.sparkSession)
        df.write.mode("overwrite").parquet(os.path.join(run, f"epoch={epoch_id}"))

    def read(self, spark: SparkSession, newest_below: float | None = None) -> DataFrame | None:
        """What landed: every epoch of every run (with the ``run`` and
        ``epoch`` columns) when ``newest_below`` is None, else only the
        current run's newest epoch with an id below it (its own columns;
        None when there is none).  The newest below k is what a replayed
        epoch k may read: its own torn write is never consumed.  Listing
        epochs needs a local ``path``."""
        if newest_below is None:
            return spark.read.parquet(self.path)
        run = self._run_dir(spark)
        names = os.listdir(run) if os.path.isdir(run) else []
        ids = [int(d[len("epoch="):]) for d in names if d.startswith("epoch=")]
        below = [i for i in ids if i < newest_below]
        return spark.read.parquet(os.path.join(run, f"epoch={max(below)}")) if below else None
