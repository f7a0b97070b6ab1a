"""The checkers flag a planted wrong answer and pass a right one."""

import os

import numpy as np

import _paths  # noqa: F401

import adhoc
import batch
import gen


def test_adhoc_check_flags_planted_wrong_value():
    cols = ["k", "n"]
    oracle_rows = [(1, 10), (2, 20), (3, 30)]
    assert adhoc.check(cols, [(3, 30), (1, 10), (2, 20)], False, cols, oracle_rows) is None
    assert "value mismatch" in adhoc.check(cols, [(1, 10), (2, 21), (3, 30)], False, cols, oracle_rows)
    assert "row count" in adhoc.check(cols, oracle_rows[:2], False, cols, oracle_rows)
    assert "columns" in adhoc.check(["k", "m"], oracle_rows, False, cols, oracle_rows)


def test_adhoc_check_equates_exact_numbers_across_types():
    assert adhoc.check(["x"], [(3,)], False, ["x"], [(3.0,)]) is None


def test_adhoc_check_truncated_result():
    cols = ["k"]
    full = [(i,) for i in range(12)]
    assert adhoc.check(cols, full[:10], True, cols, full, max_rows=10) is None
    assert adhoc.check(cols, full[:9] + [(99,)], True, cols, full, max_rows=10) is not None
    # A stale engine that truncates a result the oracle says is small.
    assert adhoc.check(cols, full[:10], True, cols, full[:10], max_rows=10) is not None
    # An engine that misses rows the oracle has beyond the cap.
    assert adhoc.check(cols, full[:10], False, cols, full, max_rows=10) is not None


def test_adhoc_stream_runs_in_duckdb_and_reads_back(tmp_path):
    """Every template renders SQL that DuckDB runs over generated files."""
    tdir, _ = gen.ensure_tables(str(tmp_path / "d"), 1, 0.002)
    sdir, _ = gen.ensure_shards(str(tmp_path / "d"), 1, 6)
    shards = sorted(os.path.join(sdir, n) for n in os.listdir(sdir) if n.endswith(".parquet"))
    tables = {t: os.path.join(tdir, f"{t}.parquet") for t in adhoc.TABLES}
    paths = adhoc.Paths(tables, shards, np.random.default_rng(0))
    qg = adhoc.QueryGen(np.random.default_rng(1), paths)
    oracle = adhoc.Oracle(str(tmp_path))
    try:
        for _ in range(100):
            cols, rows = oracle.run(qg.next())
            assert cols
            assert adhoc.check(cols, rows, False, cols, rows) is None
    finally:
        oracle.close()


def test_batch_check_flags_planted_wrong_answer(tmp_path):
    """`batch.check` runs `oracle.compare_query` on collected rows."""
    from sql_engine_spark import oracle
    from sql_engine_spark.registry import all_queries, resolve_oracle

    sf, _ = gen.ensure_tables(str(tmp_path), 2, 0.002)
    qs = all_queries()
    name = "tpch_q1"
    con = oracle.duckdb_connection(sf)
    try:
        rel = con.sql(resolve_oracle(qs[name].oracle, sf))
        cols, rows = list(rel.columns), rel.fetchall()
    finally:
        con.close()
    right = {name: batch.Collected(cols, rows)}
    assert batch.check(None, qs, [name], sf, right, set()) == []
    wrong_rows = list(rows)
    wrong_rows[0] = tuple(
        v + 1 if isinstance(v, (int, float)) and not isinstance(v, bool) else v
        for v in wrong_rows[0]
    )
    wrong = {name: batch.Collected(cols, wrong_rows)}
    failures = batch.check(None, qs, [name], sf, wrong, set())
    assert [f["op"] for f in failures] == [name]
