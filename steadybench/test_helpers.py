"""Unit tests for the benchmark's own helpers.

    python3 -m pytest steadybench/test_helpers.py -q
"""

from __future__ import annotations

import datetime as dt
import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import compare  # noqa: E402
import stats  # noqa: E402
from tracing import Span, self_times, sql_metric_seconds, union_seconds  # noqa: E402


# ---- tail percentile rule -------------------------------------------------
def test_tail_leaves_exactly_ten_samples_beyond():
    xs = list(range(1, 101))  # 100 samples
    value, pct, n = stats.tail(xs)
    assert n == 100
    assert value == 90
    assert sum(1 for x in xs if x > value) == 10
    assert pct == 90.0


def test_tail_is_order_insensitive():
    xs = [float(i) for i in range(200)]
    ys = xs[:]
    random.Random(7).shuffle(ys)
    assert stats.tail(xs) == stats.tail(ys)


def test_tail_of_a_short_run_is_its_slowest_op():
    for n in (1, 2, 7, 8, 20):
        xs = [float(i) for i in range(n)]
        value, pct, got_n = stats.tail(xs)
        assert (value, pct, got_n) == (xs[-1], 100.0, n)


def test_tail_at_21_samples_switches_to_the_ten_beyond_rule():
    xs = [float(i) for i in range(21)]
    value, _, _ = stats.tail(xs)
    assert value == 10.0 and sum(1 for x in xs if x > value) == 10
    xs = [float(i) for i in range(31)]
    assert stats.tail(xs)[0] == 20.0


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        stats.tail([])


# ---- span self time -------------------------------------------------------
def test_union_merges_overlaps_and_gaps():
    assert union_seconds([]) == 0
    assert union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_seconds([(5, 6), (0, 1), (0, 1)]) == 2


def test_self_time_subtracts_children_once():
    spans = [
        Span("op", 0.0, 10.0),
        Span("flow", 1.0, 4.0, parent=0),
        Span("dump", 3.0, 7.0, parent=0),  # overlaps flow: union is 1..7
        Span("inner", 2.0, 3.0, parent=1),
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(4.0)  # 10 - |1..7|
    assert got[1] == pytest.approx(2.0)  # 3 - inner's 1
    assert got[2] == pytest.approx(4.0)
    assert got[3] == pytest.approx(1.0)


def test_self_time_clips_children_to_parent():
    spans = [Span("op", 0.0, 2.0), Span("late", 1.5, 5.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(1.5)


# ---- order-insensitive output fingerprint ---------------------------------
ROWS = [
    (1, "a", 0.5, [1, 2], None),
    (2, "b", 1.25, [], dt.datetime(2024, 1, 1, 12)),
    (3, "c", -0.0, [3], dt.datetime(2024, 1, 2)),
]
COLS = ["id", "name", "score", "items", "ts"]


def test_fingerprint_ignores_row_and_column_order():
    fp = stats.fingerprint(COLS, ROWS)
    assert stats.fingerprint(COLS, list(reversed(ROWS))) == fp
    perm = [4, 2, 0, 3, 1]
    cols = [COLS[i] for i in perm]
    rows = [tuple(r[i] for i in perm) for r in ROWS]
    assert stats.fingerprint(cols, rows) == fp


def test_fingerprint_sees_changed_missing_and_duplicated_rows():
    fp = stats.fingerprint(COLS, ROWS)
    assert stats.fingerprint(COLS, ROWS[:2]) != fp
    assert stats.fingerprint(COLS, ROWS + [ROWS[0]]) != fp
    changed = [ROWS[0], (2, "b", 1.5, [], ROWS[1][4]), ROWS[2]]
    assert stats.fingerprint(COLS, changed) != fp
    assert stats.fingerprint(["x"] + COLS[1:], ROWS) != fp


def test_fingerprint_normalises_engine_representations():
    import decimal

    # DuckDB hands back Decimal and -0.0 where Spark has float and 0.0
    assert stats.fingerprint(["v"], [(decimal.Decimal("1.25"),)]) == \
        stats.fingerprint(["v"], [(1.25,)])
    assert stats.fingerprint(["v"], [(-0.0,)]) == stats.fingerprint(["v"], [(0.0,)])


# ---- metric parsing and verdicts ------------------------------------------
def test_sql_metric_seconds_reads_the_total():
    v = "total (min, med, max (stageId: taskId))\n1.2 s (0 ms, 3 ms, 40 ms (stage 3.0: task 4))"
    assert sql_metric_seconds(v) == pytest.approx(1.2)
    assert sql_metric_seconds("total (min, med, max)\n350 ms (1 ms, 2 ms, 3 ms)") == \
        pytest.approx(0.35)
    assert sql_metric_seconds("total\n1.5 m (0 ms, 0 ms, 0 ms)") == pytest.approx(90.0)
    assert sql_metric_seconds("no time here") == 0.0


def test_verdicts():
    base = [10.0, 10.1, 9.9, 10.0, 10.2]
    assert compare.verdict(base, [x * 1.2 for x in base], 0.1, True, False)[0] == "regressed"
    assert compare.verdict(base, base, 0.1, True, False)[0] == "unchanged"
    assert compare.verdict(base, [x * 0.8 for x in base], 0.1, True, False)[0] == "improved"
    assert compare.verdict(base, [x * 1.2 for x in base], 0.1, True, True)[0] == "unresolved"
    noisy = [5.0, 10.0, 15.0, 20.0]
    assert compare.verdict(noisy, [x * 1.2 for x in noisy], 0.1, True, False)[0] == "unresolved"
