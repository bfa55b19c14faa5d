"""Registry invariants: ``registry.ORDER`` lists every registered query
exactly once, in a frozen order, and every query carries an oracle."""

from __future__ import annotations

import hashlib

import pytest

from opensnowcat_collector_spark.engine import registry, relational

#: md5 of "\n".join(queries()); changes only with a deliberate edit of ORDER
ORDER_MD5 = "4577927fdc24285bf318b4a714fd37ff"


def test_priority_has_no_duplicates():
    assert len(registry.ORDER) == len(set(registry.ORDER))


def test_every_registered_query_is_listed():
    extras = [n for n in relational.QUERIES if n not in registry.ORDER]
    assert extras == []


def test_unlisted_extra_raises():
    name = "zz_test_unlisted_query"
    assert name not in relational.QUERIES
    relational.QUERIES[name] = lambda spark, sf_dir: None
    try:
        with pytest.raises(RuntimeError, match="not listed in registry.ORDER"):
            registry.all_queries()
    finally:
        del relational.QUERIES[name]


def test_order_frozen_and_every_query_has_oracle():
    import __spark_entry__ as E

    names = list(E.queries())
    assert [n for n in names if n not in relational.ORACLE] == []
    assert list(E.oracle_sql()) == names
    assert hashlib.md5("\n".join(names).encode()).hexdigest() == ORDER_MD5


def test_registered_query_outputs_are_scalar_only(spark, sf_dir):
    """The driver's correctness canonicalizer sorts result cells with
    pandas (``sort_values`` over all columns), which cannot hash array /
    map / struct cells — ``embed_quantize_int8`` escaped the local sweep
    in r7 and died in the driver with ``TypeError: unhashable type:
    'list'`` (CORRECTNESS_r07.json).  Every registered query therefore
    emits scalar columns only; vector-shaped results must be flattened
    (``array_join`` / explode) before registration.

    Batch queries are checked here lazily via ``.schema`` (analysis only,
    no job).  ``streaming_*`` gates drain a real stream inside their
    callable, so they are asserted instead at execution time by the full
    oracle sweep (tests/test_relational_oracle.py rejects non-scalar
    cells for every query, streaming included).
    """
    from pyspark.sql import types as T

    bad: dict[str, list[str]] = {}
    for name, fn in registry.all_queries().items():
        if name.startswith("streaming_"):
            continue
        schema = fn(spark, sf_dir).schema
        complex_fields = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if complex_fields:
            bad[name] = complex_fields
    assert bad == {}, f"non-scalar output columns break the driver gate: {bad}"
