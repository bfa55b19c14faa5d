"""Oracle compare for the query registry: run each ``queries()[name]`` on
Spark and its ``oracle_sql()[name]`` on DuckDB over the same parquet
tables, and compare row count, sorted column names and an
order-insensitive value hash (floats rounded to 4 dp).

    python tools/check_subset.py              # smoke entry(), then every query
    python tools/check_subset.py name1 name2  # only the named queries
    python tools/check_subset.py --edge       # build the edge corpus, sweep it

Tables come from ``SPARK_GRAFT_SF_DIR`` (default sf0.01); a table may be a
single parquet file or a Spark-written directory, so a replica sweep just
points the variable at a ``tools/scale_probe.py`` replica directory.  Each
query prints one PASS/FAIL line, then a ``{"total", "ok"}`` JSON line;
the exit code is non-zero on any mismatch.  Run it from outside the repo
(``cd /tmp``) so the package reaches Python workers only through
``ship.ensure_shipped``, as it does under an external driver.

Importing this module has no side effects: ``value_hash`` is shared with
``perfbench/querymix.py``.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            # The driver's canonicalizer sorts cells and dies on
            # unhashable container cells (r7: embed_quantize_int8).
            # Reject them instead of stringifying them away.
            bad = pdf[c].map(lambda v: isinstance(v, (list, tuple, dict, set, np.ndarray)))
            if bad.any():
                raise TypeError(
                    f"non-scalar cells in column {c!r} (e.g. "
                    f"{pdf[c][bad].iloc[0]!r}) — driver canonicalizer would fail"
                )
            pdf[c] = pdf[c].astype(str)
        elif pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].round(4)
    if len(pdf) == 0:
        return "EMPTY"
    lines = sorted(pdf.astype(str).apply(lambda r: "|".join(r), axis=1).tolist())
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def duckdb_views(sf_dir: str):
    """A DuckDB connection with one view per table; a table that is a
    directory is read through a ``*.parquet`` glob."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def compare(spdf: pd.DataFrame, opdf: pd.DataFrame) -> str:
    sc, oc = sorted(spdf.columns), sorted(opdf.columns)
    if sc != oc:
        return f"SCHEMA_MISMATCH spark={sc} oracle={oc}"
    if len(spdf) != len(opdf):
        return f"ROWCOUNT_MISMATCH spark={len(spdf)} oracle={len(opdf)}"
    if value_hash(spdf) != value_hash(opdf):
        return f"HASH_MISMATCH rows={len(spdf)}"
    return f"MATCH rows={len(spdf)}"


def build_edge_corpus(target: str = "/tmp/torture_sf") -> str:
    """A hand-built corpus the data generator does not produce: single-
    and two-token docs, exact and prefix-contained duplicates, a
    max-repetition doc, a doc equal to a benchmark doc, byte-duplicate
    vectors under different labels, a near-zero vector and an antipodal
    pair.  The relational tables are copied from the sf0.001 directory
    next to ``SF_DIR``."""
    import random
    import shutil

    import duckdb

    random.seed(42)
    os.makedirs(target, exist_ok=True)
    con = duckdb.connect()

    vocab = [f"w{i}" for i in range(200)] + [
        "the", "a", "of", "and", "to", "el", "la", "de", "der", "und",
    ]
    docs = []
    for i in range(300):
        n = random.randint(10, 60)
        docs.append(
            (
                i,
                " ".join(random.choice(vocab) for _ in range(n)),
                random.choice(["en", "es", "de", "fr", "zh"]),
                f"src{i % 20}",
            )
        )
    docs.append((300, "hello", "en", "src0"))
    docs.append((301, "hello world", "en", "src1"))
    docs.append((302, docs[5][1], "en", "src2"))  # exact duplicate
    docs.append((303, docs[5][1] + " extra tail words here", "en", "src3"))
    docs.append((304, " ".join(["rep"] * 40), "en", "src4"))
    docs.append((305, " ".join(vocab[:50]), "en", "src5"))
    docs.append((306, docs[97][1], "en", "src6"))  # equals a bench doc
    rows = [(d, t, lang, s, len(t)) for d, t, lang, s in docs]
    con.execute(
        "CREATE TABLE d(doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO d VALUES (?,?,?,?,?)", rows)
    con.execute(f"COPY d TO '{target}/documents.parquet' (FORMAT PARQUET)")

    emb = []
    for i in range(260):
        v = [random.gauss(0, 1) for _ in range(64)]
        emb.append((i, [float(f"{x:.4f}") for x in v], i % 10))
    emb.append((260, emb[5][1], 3))  # duplicate vector, other label
    emb.append((261, list(emb[7][1]), emb[7][2]))  # duplicate, same label
    emb.append((262, [1e-6] * 64, 4))  # near-zero
    emb.append((263, [-x for x in emb[9][1]], 5))  # antipodal (cos = -1)
    con.execute(
        "CREATE TABLE e(vec_id BIGINT, embedding FLOAT[], label INT)"
    )
    con.executemany("INSERT INTO e VALUES (?,?,?)", emb)
    con.execute(f"COPY e TO '{target}/embeddings.parquet' (FORMAT PARQUET)")

    base = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
    for t in "region nation customer supplier part orders lineitem events".split():
        shutil.copy(f"{base}/{t}.parquet", f"{target}/{t}.parquet")
    return target


def main(argv: list[str]) -> int:
    names = [a for a in argv if a != "--edge"]
    sf_dir = build_edge_corpus() if "--edge" in argv else SF_DIR
    sys.path.insert(0, REPO)
    import __spark_entry__ as E
    from opensnowcat_collector_spark.session import get_spark

    spark = get_spark(app_name="check-subset")
    spark.sparkContext.setLogLevel("ERROR")
    queries, oracles = E.queries(), E.oracle_sql()
    if not names:
        df = E.entry(spark)
        print(f"entry(): OK, {len(df.collect())} rows, schema={df.columns}")
        names = list(queries)
    con = duckdb_views(sf_dir)
    failed = []
    for name in names:
        try:
            spdf = queries[name](spark, sf_dir).toPandas()
            status = compare(spdf, con.execute(oracles[name]).fetchdf())
        except Exception as e:  # noqa: BLE001 — diagnostic tool
            status = f"ERROR {type(e).__name__}: {str(e)[:200]}"
        ok = status.startswith("MATCH")
        if not ok:
            failed.append(name)
        print(f"{'PASS' if ok else 'FAIL'} {name}: {status}", flush=True)
    if failed:
        print(f"FAILED ({len(failed)}): {failed}")
    print(json.dumps({"total": len(names), "ok": len(names) - len(failed)}))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
