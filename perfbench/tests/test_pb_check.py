"""The output check: a result equal to the DuckDB reference passes, and any
changed value, lost row or duplicated row is rejected."""

import os

import pytest

from perfbench import inputs, oracle, workloads


@pytest.fixture
def cdc(tmp_path, monkeypatch):
    monkeypatch.setattr(workloads, "CDC_ORDERS", 2000)
    monkeypatch.setattr(workloads, "CDC_FILES", 3)
    con = oracle.connect(str(tmp_path))
    wl = workloads.CdcMergeStream(str(tmp_path / "w"), seed=7)
    wl.prepare(con)  # leaves the replayed final table in temp table tgt
    os.makedirs(wl.output)
    yield wl, con
    con.close()


def _write(con, wl, sql):
    path = os.path.join(wl.output, "part-0.parquet")
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def test_correct_output_passes(cdc):
    wl, con = cdc
    _write(con, wl, "SELECT * FROM tgt ORDER BY random()")
    assert workloads.check(wl, con) == []


@pytest.mark.parametrize("corrupt", [
    "SELECT * REPLACE (o_totalprice + 0.01 AS o_totalprice) FROM tgt",
    "SELECT * REPLACE (CASE WHEN o_orderkey = 5 THEN 'X' ELSE recordmode END AS recordmode) FROM tgt",
    "SELECT * FROM tgt WHERE o_orderkey <> 17",
    "SELECT * FROM tgt UNION ALL SELECT * FROM tgt WHERE o_orderkey = 17",
])
def test_corrupted_output_is_rejected(cdc, corrupt):
    wl, con = cdc
    _write(con, wl, corrupt)
    problems = workloads.check(wl, con)
    assert len(problems) == 1 and "!= expected" in problems[0]


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = inputs.write_documents(str(tmp_path / "a"), 3, 200)
    b = inputs.write_documents(str(tmp_path / "b"), 3, 200)
    c = inputs.write_documents(str(tmp_path / "c"), 4, 200)
    con = oracle.connect(str(tmp_path))
    cols = [("doc_id", "int"), ("text", "str"), ("lang", "str"), ("n_chars", "int")]
    da, db, dc = (oracle.digest(con, f"SELECT * FROM read_parquet('{p}')", cols) for p in (a, b, c))
    assert da == db
    assert da != dc
