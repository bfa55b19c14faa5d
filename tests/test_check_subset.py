"""``tools/check_subset.py`` without Spark: the value hash every oracle
compare shares, and the DuckDB views over files and directories."""

from __future__ import annotations

import importlib.util
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load():
    spec = importlib.util.spec_from_file_location(
        "check_subset", os.path.join(REPO, "tools", "check_subset.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


cs = _load()


def test_value_hash_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2, 3], "s": ["x", "y", None], "f": [0.5, 1.5, 2.5]})
    b = a.iloc[[2, 0, 1]][["f", "s", "k"]].reset_index(drop=True)
    assert cs.value_hash(a) == cs.value_hash(b)
    assert cs.value_hash(a) != cs.value_hash(a.assign(k=[1, 2, 4]))


def test_value_hash_rounds_floats_to_4dp():
    h = cs.value_hash
    assert h(pd.DataFrame({"f": [1.00001]})) == h(pd.DataFrame({"f": [1.00004]}))
    assert h(pd.DataFrame({"f": [1.0001]})) != h(pd.DataFrame({"f": [1.0002]}))


def test_value_hash_empty_frame():
    assert cs.value_hash(pd.DataFrame({"a": [], "b": []})) == "EMPTY"


@pytest.mark.parametrize("cell", [[1, 2], {"k": 1}])
def test_value_hash_rejects_non_scalar_cells(cell):
    pdf = pd.DataFrame({"id": [1, 2], "v": ["ok", None]})
    pdf.at[1, "v"] = cell
    with pytest.raises(TypeError, match="non-scalar cells in column 'v'"):
        cs.value_hash(pdf)


def test_duckdb_views_read_files_and_directories(tmp_path):
    for t in cs.TABLES:
        pq.write_table(pa.table({"x": [1]}), tmp_path / f"{t}.parquet")
    events = tmp_path / "events.parquet"
    events.unlink()
    events.mkdir()
    pq.write_table(pa.table({"x": [1, 2]}), events / "part-0.parquet")
    pq.write_table(pa.table({"x": [3]}), events / "part-1.parquet")
    con = cs.duckdb_views(str(tmp_path))
    assert con.execute("SELECT sum(x), count(*) FROM events").fetchone() == (6, 3)
    assert con.execute("SELECT count(*) FROM lineitem").fetchone() == (1,)
