"""Mirror of the driver's correctness gate: run every registered query on
Spark AND its oracle SQL on DuckDB over the same parquet tables, compare
row count, column names, and order-insensitive values.

Floats are compared exactly after the queries' own discretization (the
queries are written so both engines produce bit-identical doubles — see
engine/relational.py module doc); a tiny absolute tolerance is allowed as
a backstop for diagnostics, but any difference is reported.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from opensnowcat_collector_spark.engine import registry

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


def _duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
        )
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (list, tuple, dict, set)):
        # The driver's pandas canonicalizer cannot hash container cells
        # (r7: embed_quantize_int8 passed here with tuple-normalization
        # but died externally).  Keep this gate at least as strict as
        # the driver's: non-scalar cells are a hard failure.
        raise AssertionError(
            f"non-scalar result cell {type(v).__name__}: {v!r} — flatten "
            "the column (array_join / explode); the driver gate rejects it"
        )
    return v


def _norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(_norm_cell(r[i]) for i in idx))
    out.sort(key=repr)
    return sorted(cols), out


def _approx_eq(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
        return all(_approx_eq(x, y) for x, y in zip(a, b))
    return a == b


QUERY_NAMES = sorted(registry.all_queries())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    queries = registry.all_queries()
    oracles = registry.all_oracle_sql()
    sdf = queries[name](spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = _duck_con(sf_dir)
    res = con.execute(oracles[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = [tuple(r) for r in res.fetchall()]

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )

    _, s_rows = _norm_rows(spark_cols, spark_rows)
    _, d_rows = _norm_rows(duck_cols, duck_rows)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if not _approx_eq(a, b)
    ]
    assert not mismatches, f"{name}: {len(mismatches)} row mismatches, first 3: {mismatches[:3]}"
    # strict equality (what a value-hash would see)
    exact = [(i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b]
    assert not exact, f"{name}: values approx-equal but not hash-identical, first 3: {exact[:3]}"
