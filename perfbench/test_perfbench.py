"""Self-tests of the benchmark's output checks and accounting (no Spark).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import batch  # noqa: E402
import checks  # noqa: E402
import compare  # noqa: E402
import index  # noqa: E402
import serve  # noqa: E402

GOOD = (Decimal("10.00"), 5.0, 3, "discount", (("F", 3, Decimal("10.00")),))


def test_read_with_wrong_expected_value_counts_failed():
    ops = [("write", 1.0, False), ("read", 0.1, False), ("read", 0.1, False)]
    wrong = (Decimal("10.01"),) + GOOD[1:]
    observed = [(GOOD, GOOD), (GOOD, GOOD), (GOOD, wrong)]
    notes: list = []
    tally = index.account(ops, observed, notes)
    assert (tally.attempted, tally.failed) == (3, 1)
    assert notes


def test_min_rising_counts_failed_even_when_it_matches():
    higher = (GOOD[0], 6.0) + GOOD[2:]
    ops = [("read", 0.1, False), ("read", 0.1, False)]
    tally = index.account(ops, [(GOOD, GOOD), (GOOD, GOOD), (higher, higher)], [])
    assert (tally.attempted, tally.failed) == (2, 1)


def test_raised_ops_count_failed():
    ops = [("write", 1.0, True), ("read", 0.1, True)]
    tally = index.account(ops, [(GOOD, GOOD), (None, GOOD)], [])
    assert (tally.attempted, tally.failed) == (2, 2)


def test_expected_state_follows_inserts():
    e = index.Expected.__new__(index.Expected)
    e.sum, e.min, e.count = Decimal("100.00"), 1001.5, 2
    e.groups = {"F": [2, Decimal("100.00")]}
    e.add([(1, "O", 999.99)])
    assert e.snapshot() == (
        Decimal("1099.99"), 999.99, 3, "discount",
        (("F", 2, Decimal("100.00")), ("O", 1, Decimal("999.99"))),
    )


def test_oracle_mismatch_fails_every_op_of_that_query():
    want = checks.canonical(["a", "b"], [(1, "x"), (2, "y")], set())
    assert checks.diff(checks.canonical(["b", "a"], [("y", 2), ("x", 1)], set()), want) is None
    d = checks.diff(checks.canonical(["a", "b"], [(1, "x"), (3, "y")], set()), want)
    assert d
    ops = [("q1", 1.0, False), ("q2", 1.0, False), ("q1", 1.0, False)]
    tally = batch.account(ops, {"q1": d})
    assert (tally.attempted, tally.failed) == (3, 2)


def test_int_and_float_render_apart():
    assert checks.diff(checks.canonical(["a"], [(50,)], set()), checks.canonical(["a"], [(50.0,)], set()))
    # an integer column holding a NULL renders as float, as pandas does
    assert checks.canonical(["a"], [(50,), (None,)], {"a"})[1] == [("50.0",), ("None",)]


def test_duckdb_rendering():
    con = duckdb.connect()
    want = checks.duck_canonical(con, "SELECT 1::BIGINT AS k, 'x' AS v UNION ALL SELECT 2, 'y'")
    assert checks.diff(checks.canonical(["v", "k"], [("y", 2), ("x", 1)], set()), want) is None
    assert checks.duck_canonical(con, "SELECT 1::HUGEINT AS s")[1] == [("1.0",)]


def test_wrong_http_body_counts_failed():
    want = checks.canonical(["artist_id", "name"], [(0, "NATION_0")], set())
    route = "get_artist_less_than"
    assert serve.verdict(route, 200, b'[{"artist_id":0,"name":"NATION_0"}]', want) is None
    assert serve.verdict(route, 200, b'[{"artist_id":1,"name":"NATION_0"}]', want)
    assert serve.verdict(route, 200, b"[]", want)
    assert serve.verdict(route, 500, b"", want)


def test_compare_flags_counter_differences_only():
    def run(jobs, ms):
        return {"attempted": 4, "failed": 0, "metrics": {
            "query.q.jobs": {"value": jobs, "unit": "count"},
            "build.ms_per_op": {"value": ms, "unit": "ms"},
        }}

    assert compare.compare(run(3, 1.0), run(3, 2.0))[1]
    assert not compare.compare(run(3, 1.0), run(4, 1.0))[1]
