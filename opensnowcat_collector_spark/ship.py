"""Ship the package to Python workers (`sc.addPyFile`).

Queries whose operators run in Python workers (mapInPandas / pandas_udf
pickled by reference) need ``opensnowcat_collector_spark`` importable on
the worker side.  When the SparkSession is created by an external driver
(the grading harness, a spark-submit without --py-files), the worker
PYTHONPATH doesn't include this repo — so every entry point calls
``ensure_shipped``, which adds a zip of the package once per SparkContext.
This is also exactly the mechanism used to ship the library to a real
multi-node cluster.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()


def ensure_shipped(spark: SparkSession) -> None:
    # Pin the parser mode every sqlfrag-built expression was escaped for
    # (ADVICE r14): sql_str escapes backslashes for the DEFAULT
    # escapedStringLiterals=false mode, and rejects '${' because
    # variable substitution rewrites it inside literals.  A session
    # created externally with escapedStringLiterals=true would silently
    # change every embedded regex (bridge-path/pixel/querystring
    # matching) with no error — pin the conf like _ensure_events_confs
    # pins nanosAsLong/UTC.  The conf is per session (newSession() starts
    # from the defaults), so the pin runs on every session it is given;
    # only the shipping below is once per SparkContext.
    if spark.conf.get("spark.sql.parser.escapedStringLiterals", "false") != "false":
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")
    sc = spark.sparkContext
    # Keyed on the application id, not id(sc): CPython reuses an object's
    # id once it is freed, so a context created after sc.stop() could
    # otherwise look already shipped.
    key = sc.applicationId
    if key in _SHIPPED:
        return
    _SHIPPED.add(key)
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    repo_root = os.path.dirname(pkg_dir)
    base = os.path.join(
        tempfile.gettempdir(), f"opensnowcat_collector_spark_{os.getpid()}"
    )
    zip_path = shutil.make_archive(
        base, "zip", root_dir=repo_root, base_dir="opensnowcat_collector_spark"
    )
    sc.addPyFile(zip_path)
