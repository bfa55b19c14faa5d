"""The output checks against the program, on tiny inputs: the mix's
promised outcomes hold for ``pipeline.run``, the ingest check and
fingerprint catch what they should, and the generated tables agree with
the DuckDB oracle."""

import json
import os

import pytest

import gentables
import ingest
import mix
import querymix


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import sparkenv

    work = str(tmp_path_factory.mktemp("work"))
    os.environ.setdefault("TMPDIR", work)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    spark = sparkenv.start_spark(work, trace=False)
    yield spark
    sparkenv.stop_jvm()


def test_drain_matches_every_promised_outcome(spark, tmp_path):
    specs = mix.specs(11, 300, mix.BULK_MIX)
    landing = str(tmp_path / "landing")
    mix.write_landing(landing, specs, file_rows=150)
    cfg = ingest.collector_config()
    d = ingest.drain(spark, cfg, landing, str(tmp_path / "out"))
    assert len(d.processed) == 2 and len(d.progress) == 2
    files = ingest.batch_files(d.checkpoint)
    expected = ingest.file_specs([f for b in d.processed for f in files[b]], specs, 150)
    assert sorted(s.rid for s in expected) == sorted(s.rid for s in specs)
    out = ingest.check_outputs(spark, d, expected)
    assert out.mismatched == 0
    assert out.good_rows == sum(s.expect.good for s in specs)
    assert out.bad_rows == sum(s.expect.bad for s in specs)
    # the layer counts come from the sinks and agree with the mix
    big = [s for s in specs if s.kind == "tp2_big"]
    assert big and out.split_in == len(big)
    assert out.split_out == sum(s.expect.good for s in big)
    for kind in ("size_violation", "generic_error"):
        assert out.bad_kinds[kind] == sum(s.expect.bad_kind == kind for s in specs)

    # the check notices a request whose promised outcome is wrong
    target = next(s.rid for s in expected if s.kind == "pixel")
    wrong = [mix.Spec(**{**s.__dict__, "expect": mix.Expect(good=2)})
             if s.rid == target else s for s in expected]
    assert ingest.check_outputs(spark, d, wrong).mismatched == 1

    # the same input drained again fingerprints the same, another does not
    again = ingest.drain(spark, cfg, landing, str(tmp_path / "again"))
    assert ingest.fingerprint(spark, again) == ingest.fingerprint(spark, d)
    other = str(tmp_path / "other")
    mix.write_landing(other, mix.specs(12, 300, mix.BULK_MIX), file_rows=300)
    third = ingest.drain(spark, cfg, other, str(tmp_path / "third"))
    assert ingest.fingerprint(spark, third) != ingest.fingerprint(spark, d)


def test_batch_files_counts_compacted_entries_once(tmp_path):
    log = tmp_path / "checkpoint" / "sources" / "0"
    log.mkdir(parents=True)

    def entry(b):
        return json.dumps({"path": f"file:///landing/raw-{b:06d}.json",
                           "timestamp": 1, "batchId": b})

    for b in range(12):
        # batch 9 is compacted: its file repeats batches 0-8, still on disk
        name = f"{b}.compact" if b == 9 else str(b)
        lines = [entry(x) for x in range(10)] if b == 9 else [entry(b)]
        (log / name).write_text("\n".join(["v1", *lines]) + "\n")
    files = ingest.batch_files(str(tmp_path / "checkpoint"))
    assert sorted(files) == list(range(12))
    assert all(files[b] == [f"file:///landing/raw-{b:06d}.json"] for b in files)


def test_generated_tables_match_the_oracle(spark, tmp_path):
    from opensnowcat_collector_spark.engine import registry

    sf_dir = str(tmp_path / "sf")
    gentables.write(sf_dir, seed=5, sf=0.001)
    fns = registry.all_queries()
    names = ["q3_shipping_priority", "events_sessionize", "dedup_source_order_plan"]
    results = {q: fns[q](spark, sf_dir).toPandas() for q in names}
    assert querymix.oracle_mismatches(sf_dir, results) == []
    broken = dict(results, q3_shipping_priority=results["q3_shipping_priority"].iloc[1:])
    assert querymix.oracle_mismatches(sf_dir, broken) == ["q3_shipping_priority"]


def test_warm_batches_are_checked_but_not_counted(spark, tmp_path):
    specs = mix.specs(12, 400, mix.BULK_MIX)
    landing = str(tmp_path / "landing")
    mix.write_landing(landing, specs, file_rows=100)
    d, expected, out, rate = ingest.timed_drain(
        spark, ingest.collector_config(), landing, str(tmp_path / "out"), 0.0, specs, 100,
        warm=1,
    )
    # every batch's output is checked; the rate covers the counted ones
    assert len(d.processed) == 4 and d.counted == d.processed[1:]
    assert d.t_counted is not None and out.mismatched == 0
    assert sorted(s.rid for s in expected) == sorted(s.rid for s in specs)
    files = ingest.batch_files(d.checkpoint)
    counted = ingest.file_specs([f for b in d.counted for f in files[b]], specs, 100)
    trigger_s = sum(p["duration_ms"]["triggerExecution"] for p in d.counted_progress) / 1000
    assert rate == sum(s.expect.good + s.expect.bad for s in counted) / trigger_s
