"""The seeded request mix and the outcome it promises for each request."""

import json
import os
from collections import Counter

import mix


def test_same_seed_same_specs_other_seed_other_specs():
    a = mix.specs(7, 300, mix.BULK_MIX)
    assert a == mix.specs(7, 300, mix.BULK_MIX)
    assert a != mix.specs(8, 300, mix.BULK_MIX)


def test_mix_kinds_and_expectations():
    specs = mix.specs(3, 2000, mix.BULK_MIX)
    kinds = Counter(s.kind for s in specs)
    assert set(kinds) == set(mix.BULK_MIX)
    assert 0.45 < kinds["pixel"] / len(specs) < 0.65
    for s in specs:
        assert f"rid={s.rid}" in s.querystring
        e = s.expect
        if s.kind in ("pixel", "tp2", "segment"):
            assert (e.good, e.bad) == (1, 0)
        elif s.kind == "amplitude":
            assert 2 <= e.good <= 6 and e.good == len(json.loads(s.body)["events"])
        elif s.kind == "invalid":
            assert (e.good, e.bad, e.bad_kind) == (0, 1, "generic_error")
        elif s.kind == "tp2_big":
            sizes = sorted(len(json.dumps(x, separators=(",", ":")))
                           for x in json.loads(s.body)["data"])
            small = [n for n in sizes if n < mix.MAX_BYTES // 2]
            big = [n for n in sizes if n > mix.MAX_BYTES]
            # each small element fits a payload alone, no two fit together
            assert all(mix.MAX_BYTES // 3 < n < mix.MAX_BYTES // 2 for n in small)
            assert e.good == len(small)
            assert (e.bad, e.bad_kind) == ((1, "size_violation") if big else (0, None))


def test_trickle_and_pixel_mixes_are_always_good():
    for s in mix.specs(5, 500, mix.TRICKLE_MIX):
        assert s.kind in ("pixel", "tp2") and s.expect.bad == 0


def test_landing_files_have_the_receivers_row_format(tmp_path):
    from opensnowcat_collector_spark.schema import RAW_REQUEST_SCHEMA

    specs = mix.specs(1, 25, mix.BULK_MIX)
    landing = str(tmp_path / "landing")
    mix.write_landing(landing, specs, file_rows=10)
    files = sorted(os.listdir(landing))
    assert len(files) == 3
    rows = [json.loads(line) for f in files for line in open(os.path.join(landing, f))]
    assert [r["request_id"] for r in rows] == [s.rid for s in specs]
    assert set(rows[0]) == set(RAW_REQUEST_SCHEMA.fieldNames())


def test_http_request_matches_spec():
    s = mix.specs(2, 50, mix.PIXEL_MIX)[0]
    method, target, body, headers = mix.http_request(s)
    assert method == s.method and target.startswith(s.path)
    assert headers["Cookie"] == f"sp={s.nuid}"
    assert (body is None) == (s.body is None)
