"""Loaders for the synthetic test tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under an sf dir.

Scans go through ``spark.read.parquet`` so Catalyst gets predicate
pushdown + column pruning for free; the dimension tables are tiny at any
scale factor and are broadcast by the planner (we hint explicitly in the
queries where it matters).
"""

from __future__ import annotations

import hashlib
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..ship import ensure_shipped

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a session-timezone TIMESTAMP (LTZ).

    The driver-generated events.parquet has shipped with two physical
    types across rounds; both must land on the same column type so
    downstream hour extraction, watermarks, and window/session_window
    (which require TIMESTAMP, not TIMESTAMP_NTZ) behave identically:

    - TIMESTAMP(NANOS): surfaced as nanos-since-epoch long under
      ``spark.sql.legacy.parquet.nanosAsLong`` — truncate to micros (the
      same truncation DuckDB applies casting TIMESTAMP_NS->TIMESTAMP).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): surfaced as
      TIMESTAMP_NTZ — cast to TIMESTAMP under the pinned-UTC session
      timezone, which preserves the wall-clock values the oracle sees.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


#: lazy-PLAN memo: session -> {(path, mtime_ns, size) -> DataFrame}.
#: Caches only the DataFrame handle (file listing + schema inference —
#: ``spark.read.parquet`` costs 300-600 ms per call on this VM, paid by
#: EVERY query construction); no data is ever cached — each action
#: recomputes from the parquet files.  Keyed by the session object
#: (weakly, so a replaced session drops its entries) and the file's
#: (mtime, size) so a rewritten table is re-read, never served stale.
import weakref as _weakref

_PLAN_MEMO: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    ensure_shipped(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        memo_key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        memo_key = None  # e.g. a directory-backed table; fall through
    if memo_key is not None:
        per_session = _PLAN_MEMO.setdefault(spark, {})
        hit = per_session.get(memo_key)
        if hit is not None:
            if name == "events":
                _ensure_events_confs(spark)
            return hit
    df = _load_table(spark, sf_dir, name)
    if memo_key is not None:
        per_session[memo_key] = df
    return df


def artifact(spark: SparkSession, path: str) -> DataFrame:
    """Memoized lazy-plan handle for a published artifact directory.

    Same discipline as ``table``: caches ONLY the ``spark.read.parquet``
    handle (file listing + footer schema inference — 100-700 ms per call
    on this VM for multi-file artifact dirs), never data; every action
    recomputes from the parquet files.  Keyed on the directory's
    (path, mtime_ns, inode): ``publish_atomic`` replaces the directory
    by rename, so a republished artifact gets a new inode and is
    re-listed, and in-place additions to the directory's DIRECT children
    (e.g. a tombstone file appended at the top level) bump its mtime.

    INVARIANT (ADVICE r14): the key sees only the top-level directory's
    metadata — appending files INSIDE a hive-partition subdirectory
    (``bucket=*/``) does not bump the parent mtime and would serve a
    stale listing.  Every writer in this repo publishes via
    ``publish_atomic`` (fresh path + rename, new inode), which is why
    the memo is safe; a future in-place partition-append maintenance
    path must either touch the top-level dir or key on a recursive
    newest-mtime fingerprint instead."""
    ensure_shipped(spark)
    try:
        st = os.stat(path)
        memo_key = (path, st.st_mtime_ns, st.st_ino)
    except OSError:
        return spark.read.parquet(path)
    per_session = _PLAN_MEMO.setdefault(spark, {})
    hit = per_session.get(memo_key)
    if hit is None:
        hit = per_session[memo_key] = spark.read.parquet(path)
    return hit


# ---------------------------------------------------------------------------
# Artifact store: the one place a persisted engine artifact (ANN/IVF/PQ
# index, tokenizer or KN count tables, trained weights, bucketed or
# z-order layout, refreshed generation) is keyed and published.  Builders
# keep their own table-writing code and hand it to ``build_once`` as a
# ``write(tmp)`` callable; ``artifact`` above reads what it publishes.
# ---------------------------------------------------------------------------


def _source_fingerprint(sf_dir: str, name: str) -> str:
    """mtime+size fingerprint of one source table under ``sf_dir``:
    regenerated testdata at the same path gets a different cache key, so
    a stale artifact can never be served against fresh data.

    When the source is a Spark-written DIRECTORY the fingerprint walks
    the tree and folds every file's (relpath, mtime_ns, size) — ADVICE
    r12: rewriting part files in place with identical names and sizes
    can leave the top-level directory stat unchanged.  Single-file
    sources keep the cheap one-stat path."""
    root = os.path.join(sf_dir, name)
    st = os.stat(root)
    if not os.path.isdir(root):
        return f"{st.st_mtime_ns}-{st.st_size}"
    parts: list[str] = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for fn in sorted(filenames):
            fst = os.stat(os.path.join(dirpath, fn))
            rel = os.path.relpath(os.path.join(dirpath, fn), root)
            parts.append(f"{rel}:{fst.st_mtime_ns}:{fst.st_size}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:16]


def artifact_path(
    family: str, sf_dir: str, sources: tuple[str, ...], salt: str = ""
) -> str:
    """``/tmp/spark_graft_<family>/<key>``, where the key hashes ``salt``
    (a layout version tag plus any tuning constant the persisted tables
    depend on), the absolute ``sf_dir`` and the fingerprint of every
    ``sources`` table — changing any of them yields a fresh path."""
    fps = "|".join(f"{s}:{_source_fingerprint(sf_dir, s)}" for s in sources)
    key = hashlib.md5(
        f"{salt}:{os.path.abspath(sf_dir)}:{fps}".encode()
    ).hexdigest()[:12]
    return os.path.join(f"/tmp/spark_graft_{family}", key)


def publish_atomic(tmp: str, path: str, marker: str) -> None:
    """Atomically rename ``tmp`` into place.  If the rename fails, only a
    concurrent builder's COMPLETED artifact (``marker`` present at the
    destination) excuses it — both builds are deterministic-identical,
    keep theirs.  Any other failure (EACCES, EXDEV, ENOENT on a missing
    parent, a non-empty unmarked destination) re-raises WITH the tmp
    build left on disk, so a real failure stays inspectable."""
    try:
        os.rename(tmp, path)
    except OSError:
        if not os.path.exists(os.path.join(path, marker)):
            raise
        shutil.rmtree(tmp, ignore_errors=True)  # concurrent builder won


def build_once(
    path: str,
    write: Callable[[str], None],
    rebuild: bool = False,
    marker: str = "_SUCCESS",
) -> str:
    """Publish the artifact at ``path`` once and return ``path``.

    A published artifact (``marker`` present) is returned as is unless
    ``rebuild``, which removes it first.  Otherwise ``write(tmp)`` fills
    ``<path>.build-<pid>`` (cleared first: a crashed build of this
    process never leaks into a publish), the marker is written last, and
    ``publish_atomic`` renames the directory into place — a republished
    artifact is a new inode, which is what keeps ``artifact``'s memo
    valid."""
    if rebuild:
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.exists(os.path.join(path, marker)):
        return path
    tmp = f"{path}.build-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write(tmp)
    with open(os.path.join(tmp, marker), "w", encoding="utf-8"):
        pass
    publish_atomic(tmp, path, marker)
    return path


def _ensure_events_confs(spark: SparkSession) -> None:
    for conf_key, want in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        if spark.conf.get(conf_key, None) != want:
            spark.conf.set(conf_key, want)


def _load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # DELIBERATE session-global side effect, scoped to the events
        # loader and idempotent (set only when differing).  Both confs are
        # required for any session that will *lazily execute* an events
        # scan, so restoring them after this call would break the deferred
        # read; external callers who need different session settings
        # should use a separate SparkSession.
        #
        # - nanosAsLong: events.parquet carries TIMESTAMP(NANOS); an
        #   externally-created session (the grading driver's) throws
        #   PARQUET_TYPE_ILLEGAL without this runtime-settable flag (our
        #   own session factory sets it too, session.py).
        # - UTC timezone: ts becomes tz-aware via timestamp_micros below,
        #   so hour/day extraction follows the session timezone — pin UTC
        #   to match the oracle's naive-timestamp semantics.
        _ensure_events_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_ts(df)
    return df


def spread_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Scale-adaptive scan spread (optimization r14, guide §2.5 "input
    skew: one huge unsplittable file ... repartition immediately after
    the read").  The sf-scale parquet tables are single row groups, so
    every scan is ONE split and all pre-exchange compute (explodes,
    per-token md5s, higher-order array functions) runs on one task; at
    production scale the scan has >= parallelism splits and this is a
    no-op.  The spread hashes a UNIQUE key (never round-robin: a
    keyless ``repartition(n)`` locally sorts its whole input first —
    SPARK-23207 — which costs more than the single-task compute it
    rescues).  Apply ONLY where measured: an added exchange in front of
    cheap scan work loses (q1/count-min measured slower with it); heavy
    per-row compute before the first exchange wins (shingles, line
    chunking, token-bucket features)."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    # the .rdd probe is driver-side planning (~50 ms); the table() plan
    # memo shares DataFrame handles, so the split count is remembered on
    # the object and later callers skip the probe entirely
    n = getattr(df, "_graft_scan_parts", None)
    if n is None:
        n = df.rdd.getNumPartitions()
        df._graft_scan_parts = n
    if n < par:
        df = df.repartition(par, *[F.col(k) for k in keys])
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for spark.sql access."""
    for n in TABLE_NAMES:
        table(spark, sf_dir, n).createOrReplaceTempView(n)
