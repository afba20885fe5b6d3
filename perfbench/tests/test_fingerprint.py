"""Result fingerprints and the failure accounting of the query checks."""

import types

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.fingerprint import (Tally, check_result, duckdb_fingerprints,
                                   fingerprint)
from perfbench.workloads import _checker


def test_fingerprint_ignores_row_and_column_order():
    a = fingerprint(["x", "y"], [(1, 0.1 + 0.2), (2, None)])
    b = fingerprint(["y", "x"], [(None, 2), (0.3, 1)])
    assert a == b
    assert a != fingerprint(["x", "y"], [(1, 0.31), (2, None)])
    assert a != fingerprint(["x", "z"], [(1, 0.3), (2, None)])


def test_duckdb_side_agrees_with_python_rows(tmp_path):
    pq.write_table(pa.table({"doc_id": pa.array([2, 1], pa.int64()),
                             "text": ["b", "a"]}),
                   tmp_path / "documents.parquet")
    got = duckdb_fingerprints(str(tmp_path), {
        "q": "select doc_id, upper(text) as t from documents"})
    assert got["q"] == fingerprint(["doc_id", "t"], [(1, "A"), (2, "B")])


def test_wrong_expected_fingerprint_counts_as_failed_operation():
    rows = [(1, "a"), (2, "b")]
    right = fingerprint(["k", "v"], rows)
    run = types.SimpleNamespace(tally=Tally())
    check = _checker(run, {"good": right, "bad": "0" * 64})
    check({"good": (["k", "v"], rows), "bad": (["k", "v"], rows),
           "unknown": (["k", "v"], rows)})
    assert run.tally.attempted == 3
    assert run.tally.failed == 2
    assert run.tally.failed_share == 2 / 3
    assert [f.split(":")[0] for f in run.tally.failures] == ["bad",
                                                              "unknown"]


def test_check_result_passes_matching_fingerprint():
    tally = Tally()
    assert check_result(tally, "q", ["a"], [(1,)], fingerprint(["a"], [(1,)]))
    assert (tally.attempted, tally.failed) == (1, 0)
