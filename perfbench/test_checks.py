"""The benchmark's own tests: each output check passes on a correct
result and fails on a perturbed one (one row dropped, one value
changed), and the generators are deterministic in their seed.

Run from the repository root: ``python3 -m pytest perfbench/test_checks.py -q``
(no Spark session is started).
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen_stream  # noqa: E402
import gen_tables  # noqa: E402


@pytest.fixture(scope="module")
def tables(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("tables"))
    gen_tables.write_tables(out, seed=7, sf=0.001)
    return out


@pytest.fixture(scope="module")
def oracle_results(tables):
    """The registered oracles of a few benchmark queries, run on DuckDB."""
    from sensor_data_pipeline_spark.plans import REGISTRY

    con = checks.duck_conn(tables)
    names = ["q22_sentinel_default", "q09_cube", "q40_dedup_exact", "q177_embedding_drift"]
    return {n: checks.oracle_result(con, REGISTRY[n].oracle) for n in names}


def test_oracle_check_accepts_equal_result_in_any_order(oracle_results):
    for rows, cols in oracle_results.values():
        assert checks.compare_result(list(reversed(rows)), cols, rows, cols) == []


def test_oracle_check_fails_on_dropped_row(oracle_results):
    for name, (rows, cols) in oracle_results.items():
        assert rows, name
        assert checks.compare_result(rows[1:], cols, rows, cols), name


def test_oracle_check_fails_on_changed_value(oracle_results):
    for name, (rows, cols) in oracle_results.items():
        changed = [list(r) for r in rows]
        i = next(i for i, v in enumerate(changed[0]) if isinstance(v, (int, float)) and not isinstance(v, bool))
        changed[0][i] = changed[0][i] + 1
        assert checks.compare_result([tuple(r) for r in changed], cols, rows, cols), name


def test_oracle_check_fails_on_renamed_column(oracle_results):
    rows, cols = oracle_results["q09_cube"]
    assert checks.compare_result(rows, ["x" + c for c in cols], rows, cols)


def test_wrong_query_result_makes_the_run_incorrect(oracle_results):
    rows, cols = oracle_results["q09_cube"]
    wrong = {"q09_cube": checks.compare_result(rows[1:], cols, rows, cols)}
    assert wrong["q09_cube"]
    assert checks.outcome(12, 1, wrong) == {"correct": False, "attempted": 12, "failed": 1}
    # a query that raised is a failed operation, not a wrong result
    assert checks.outcome(12, 1, {}) == {"correct": True, "attempted": 12, "failed": 1}


def test_stream_check_problem_makes_the_run_incorrect(stream):
    inp, expected, sink = stream
    problems = checks.check_stream(sink[1:], sum(inp.rows), sum(inp.corrupt), expected)
    assert checks.outcome(4, 0, problems)["correct"] is False


@pytest.fixture(scope="module")
def stream(tmp_path_factory):
    inp = gen_stream.generate(str(tmp_path_factory.mktemp("stream")), seed=3, n_files=4,
                              rows_per_file=400, n_devices=8)
    expected = gen_stream.replay(inp.records)
    # what a correct sink holds: every replayed delta plus every corrupt message
    sink = [(dev, ts, v, d, None) for dev, rows in expected.items() for ts, v, d in rows]
    sink += [("sensors/dev000", None, None, None, "ERR")] * sum(inp.corrupt)
    return inp, expected, sink


def test_stream_check_accepts_correct_sink(stream):
    inp, expected, sink = stream
    assert checks.check_stream(list(reversed(sink)), sum(inp.rows), sum(inp.corrupt), expected) == []


def test_stream_check_fails_on_dropped_row(stream):
    inp, expected, sink = stream
    problems = checks.check_stream(sink[1:], sum(inp.rows), sum(inp.corrupt), expected)
    assert any("rows in" in p for p in problems) and any("replay" in p for p in problems)


def test_stream_check_fails_on_changed_delta(stream):
    inp, expected, sink = stream
    dev, ts, v, d, p = sink[1]
    changed = [sink[0], (dev, ts, v, (d or 0.0) + 0.1, p), *sink[2:]]
    problems = checks.check_stream(changed, sum(inp.rows), sum(inp.corrupt), expected)
    assert problems == [f"1 devices' deltas differ from the replay (e.g. {dev})"]


def test_stream_check_fails_on_lost_corrupt_row(stream):
    inp, expected, sink = stream
    problems = checks.check_stream(sink[:-1], sum(inp.rows), sum(inp.corrupt), expected)
    assert any("corrupt rows routed" in p for p in problems)


def test_stream_input_shape(stream):
    inp, expected, _ = stream
    assert sum(inp.corrupt) > 0
    # 5% of each file is held back into the next; the last file holds none back
    assert inp.rows == [380, 380, 380, 400]
    stamps = [ts for rows in expected.values() for ts, _, _ in rows]
    assert len(stamps) == sum(inp.rows) - sum(inp.corrupt)
    for rows in expected.values():  # timestamps unique per device
        assert len({ts for ts, _, _ in rows}) == len(rows)
    # event time arrives out of order across files for some device
    assert any(rows != sorted(rows) for rows in expected.values())


def test_generators_are_seed_deterministic(tmp_path):
    a = gen_tables.build_tables(5, 0.001)
    assert all(a[t].equals(gen_tables.build_tables(5, 0.001)[t]) for t in a)
    assert not a["events"].equals(gen_tables.build_tables(6, 0.001)["events"])
    s1 = gen_stream.generate(str(tmp_path / "a"), 9, n_files=2, rows_per_file=200, n_devices=4)
    s2 = gen_stream.generate(str(tmp_path / "b"), 9, n_files=2, rows_per_file=200, n_devices=4)
    assert all(pq.read_table(x).equals(pq.read_table(y)) for x, y in zip(s1.files, s2.files))
