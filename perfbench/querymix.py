"""``query_mix``: warm passes over five registry queries on seeded tables.

Two families: relational queries, which spend their time executing, and
LLM-data/collector queries, which spend most of theirs building plans on
the driver.  A construction-side change should move one family and leave
the other flat.

Set-up generates the tables, starts Spark and runs one cold pass that
collects every result; the results are compared with the DuckDB oracle
(row count plus value hash) outside any timing.  Timed passes then run
each query as the registry call ``fn(spark, sf_dir)`` (construction)
followed by ``count()`` (execution), at least ``MIN_PASSES`` times and
until the run's seconds are used; each query's time is its median over
the passes.  Only the table handles are memoised between passes, never
results.

The JVM keeps compiling for several passes after the cold one (a
relational query's execution halves from the first warm pass to the
fifth), so set-up also runs ``WARM_PASSES`` untimed warm passes, and the
median of three or more timed passes leaves out the least settled one.

The traced ``ingest_bulk`` run also measures this mix, for the engine
layer (``traced_layers``), in its own Spark session after the drain.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

import common
import gentables
from common import QUERIES, QUERY_FAMILIES, ROOT

#: scale factor of the generated tables
SF = 0.01
#: untimed warm passes after the cold one, part of set-up
WARM_PASSES = 1
MIN_PASSES = 3


def _value_hash():
    """``value_hash`` of ``tools/check_subset.py``: the repository's one
    oracle compare, imported rather than copied."""
    spec = importlib.util.spec_from_file_location(
        "check_subset", os.path.join(ROOT, "tools", "check_subset.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


def oracle_mismatches(sf_dir: str, results: dict) -> list[str]:
    """Queries whose collected result differs from the DuckDB oracle."""
    import duckdb

    from opensnowcat_collector_spark.engine import registry

    value_hash = _value_hash()
    oracles = registry.all_oracle_sql()
    con = duckdb.connect()
    try:
        for t in gentables.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        bad = []
        for name, spdf in results.items():
            opdf = con.execute(oracles[name]).fetchdf()
            if (
                sorted(spdf.columns) != sorted(opdf.columns)
                or len(spdf) != len(opdf)
                or value_hash(spdf) != value_hash(opdf)
            ):
                bad.append(name)
        return bad
    finally:
        con.close()


@dataclass
class Passes:
    """Per-query construction and execution times of the timed passes."""

    queries: list[str]
    construct: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    execute: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    passes: int = 0
    timed_s: float = 0.0

    def per_query(self) -> dict[str, float]:
        """Median warm wall time (construction plus ``count()``) per query."""
        return {q: common.median([c + e for c, e in zip(self.construct[q], self.execute[q])])
                for q in self.queries}

    def family_s(self) -> dict[str, float]:
        per = self.per_query()
        return {f: sum(per[q] for q in qs if q in per) for f, qs in QUERY_FAMILIES.items()}

    def share(self, qs) -> float:
        """Construction's share of the median times of queries ``qs``."""
        qs = [q for q in qs if q in self.queries]
        c = sum(common.median(self.construct[q]) for q in qs)
        return c / max(1e-9, c + sum(common.median(self.execute[q]) for q in qs))


def setup(spark, sf_dir: str) -> tuple[list[str], dict, list[str]]:
    """The cold pass, collecting every result, then ``WARM_PASSES`` warm
    passes: ``(queries that ran, their results, queries that failed)``."""
    from opensnowcat_collector_spark.engine import registry

    fns = registry.all_queries()
    results, errors = {}, []
    for q in QUERIES:
        try:
            results[q] = fns[q](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 -- a failing query is a reported failure
            print(f"{q}: {type(e).__name__}: {e}", file=sys.stderr)
            errors.append(q)
    queries = [q for q in QUERIES if q in results]
    for _ in range(WARM_PASSES):
        for q in queries:
            fns[q](spark, sf_dir).count()
    return queries, results, errors


def timed_passes(spark, sf_dir: str, queries: list[str], seconds: float,
                 rec: common.SpanRecorder | None = None) -> Passes:
    """At least ``MIN_PASSES`` passes, and passes until ``seconds`` have
    passed; with ``rec``, each query repetition is a span with children
    for construction and execution, and runs in its own job group."""
    from opensnowcat_collector_spark.engine import registry

    fns = registry.all_queries()
    sc = spark.sparkContext
    res = Passes(queries)
    t_timed = time.perf_counter()
    while res.passes < MIN_PASSES or time.perf_counter() - t_timed < seconds:
        for q in queries:
            if rec is not None:
                sc.setJobGroup(f"{q}#{res.passes}", q)
                span = rec.start("query", key=f"{q}#{res.passes}")
                c_span = rec.start("engine.construct", span)
            t0 = time.perf_counter()
            df = fns[q](spark, sf_dir)
            t1 = time.perf_counter()
            if rec is not None:
                rec.finish(c_span)
                e_span = rec.start("engine.execute", span)
            df.count()
            t2 = time.perf_counter()
            if rec is not None:
                rec.finish(e_span)
                rec.finish(span)
            res.construct[q].append(t1 - t0)
            res.execute[q].append(t2 - t1)
        res.passes += 1
    if rec is not None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    res.timed_s = time.perf_counter() - t_timed
    return res


def notes(p: Passes, mismatched: list[str]) -> list[str]:
    fam = p.family_s()
    return [
        f"query_mix: {p.passes} warm passes of {len(QUERIES)} queries at sf {SF}, "
        f"oracle mismatches: {mismatched or 'none'}",
        f"query_relational_s {fam['relational']:.3f} s "
        f"(construction share {p.share(QUERY_FAMILIES['relational']):.2f})",
        f"query_llmdata_s {fam['llmdata']:.3f} s "
        f"(construction share {p.share(QUERY_FAMILIES['llmdata']):.2f})",
        "per query, median construct + execute (s): " + ", ".join(
            f"{q} {common.median(p.construct[q]):.3f}+{common.median(p.execute[q]):.3f}"
            for q in p.queries),
        "pass totals (s): " + ", ".join(
            f"{sum(p.construct[q][i] + p.execute[q][i] for q in p.queries):.3f}"
            for i in range(p.passes)),
    ]


def engine_layers(p: Passes) -> dict[str, float]:
    fam = p.family_s()
    layers = {
        "engine.construct_s": sum(common.median(p.construct[q]) for q in p.queries),
        "engine.execute_s": sum(common.median(p.execute[q]) for q in p.queries),
        "engine.construct_share": p.share(QUERIES),
        "engine.construct_share.relational": p.share(QUERY_FAMILIES["relational"]),
        "engine.construct_share.llmdata": p.share(QUERY_FAMILIES["llmdata"]),
        "query.relational_s": fam["relational"],
        "query.llmdata_s": fam["llmdata"],
    }
    for q in p.queries:
        layers[f"engine.construct_s.{q}"] = common.median(p.construct[q])
        layers[f"engine.execute_s.{q}"] = common.median(p.execute[q])
    return layers


def query_jobs(event_log: str, p: Passes) -> tuple[dict[str, float], list]:
    """``spark.jobs.<q>`` per pass from the event log, and the totals of
    every query job group."""
    # a streaming query's jobs carry its run id as their group, without "#"
    totals = common.read_event_log(
        event_log, lambda props: g if "#" in (g := props.get("spark.jobGroup.id") or "") else None
    )
    per_query = defaultdict(list)
    for group, tot in totals.items():
        per_query[group.split("#")[0]].append(tot)
    jobs = {f"spark.jobs.{q}": sum(t.jobs for t in per_query[q]) / p.passes for q in p.queries}
    return jobs, list(totals.values())


def traced_layers(spark, work: str, seed: int, rec: common.SpanRecorder):
    """The engine layer inside another workload's traced run: the mix on
    ``spark`` for ``MIN_PASSES`` timed passes after its own set-up.
    Returns ``(layers, notes, failed queries, attempted queries, passes)``;
    ``spark.jobs.<q>`` come from ``query_jobs`` once the event log is
    complete."""
    sf_dir = os.path.join(work, "tables")
    gentables.write(sf_dir, seed, SF)
    queries, results, errors = setup(spark, sf_dir)
    mismatched = errors + oracle_mismatches(sf_dir, results)
    del results
    p = timed_passes(spark, sf_dir, queries, 0.0, rec)
    attempted = len(QUERIES) * (p.passes + 1 + WARM_PASSES)
    return engine_layers(p), notes(p, mismatched), len(mismatched), attempted, p


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, t_start: float):
    import sparkenv

    sf_dir = os.path.join(work, "tables")
    t = time.perf_counter()
    gentables.write(sf_dir, seed, SF)
    gen_s = time.perf_counter() - t

    spark = sparkenv.start_spark(work, trace)
    app_id = spark.sparkContext.applicationId
    queries, results, errors = setup(spark, sf_dir)
    setup_s = time.perf_counter() - t_start - gen_s
    mismatched = errors + oracle_mismatches(sf_dir, results)
    del results

    rec = common.SpanRecorder() if trace else None
    p = timed_passes(spark, sf_dir, queries, seconds, rec)
    peak_rss = common.driver_peak_rss_mb()
    total_s = sum(p.family_s().values())
    queries_per_s = p.passes * len(queries) / p.timed_s
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (total_s * 1000.0, "ms"),
        "throughput_per_s": (queries_per_s, "1/s"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    layers: dict[str, float] = {}
    if trace:
        layers.update(engine_layers(p))
        layers["traced.latency_p50_ms"] = total_s * 1000.0
        layers["traced.throughput_per_s"] = queries_per_s
        rec.dump(os.path.join(work, "spans.jsonl"))
    spark.stop()
    if trace:
        jobs, totals = query_jobs(sparkenv.event_log_path(work, app_id), p)
        layers.update(jobs)
        layers.update(common.spark_layers(totals, p.passes * len(queries)))
    attempted = len(QUERIES) * (p.passes + 1 + WARM_PASSES)
    failed = len(mismatched)
    return failed == 0, attempted, failed, e2e, layers, notes(p, mismatched)
