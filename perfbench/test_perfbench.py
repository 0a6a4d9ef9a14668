"""Tests of the benchmark's own helpers; they start no Spark session.

Run from the repository root::

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import math

import pyarrow.parquet as pq
import pytest

import datagen
import stats
import traffic


def _docs(requests):
    return [(r.kind, r.doc, r.sql) for r in requests]


@pytest.mark.parametrize("templates", [traffic.DASHBOARD, traffic.ANALYST])
def test_same_seed_same_request_sequence(templates):
    first = traffic.request_pool(templates, 7, "stream", 60)
    again = traffic.request_pool(templates, 7, "stream", 60)
    other = traffic.request_pool(templates, 8, "stream", 60)
    assert _docs(first) == _docs(again)
    assert _docs(first) != _docs(other)


def test_every_template_once_per_cycle():
    pool = traffic.request_pool(traffic.DASHBOARD, 3, "stream", 3 * len(traffic.DASHBOARD))
    n = len(traffic.DASHBOARD)
    for i in range(0, len(pool), n):
        kinds = [r.kind for r in pool[i:i + n]]
        assert len(set(kinds)) == n


def test_same_seed_same_ingest_slices():
    first = traffic.ingest_slices(5, 4)
    again = traffic.ingest_slices(5, 4)
    assert [(s.lo, s.hi, _docs(s.requests)) for s in first] == \
        [(s.lo, s.hi, _docs(s.requests)) for s in again]
    assert [s.lo for s in first] != [s.lo for s in traffic.ingest_slices(6, 4)]


def test_same_seed_same_tables(tmp_path):
    names = ["nation", "customer", "documents"]
    a = datagen.generate(11, str(tmp_path / "a"), names)
    b = datagen.generate(11, str(tmp_path / "b"), names)
    c = datagen.generate(12, str(tmp_path / "c"), names)
    for name in names:
        assert a[name].equals(b[name])
        assert pq.read_table(tmp_path / "a" / f"{name}.parquet").equals(a[name])
    assert not a["customer"].equals(c["customer"])


@pytest.mark.parametrize("n", [1, 2, 9, 10, 11, 20, 21, 22, 40, 100, 101, 1000, 10001])
def test_tail_is_highest_sample_with_ten_beyond(n):
    values = [float((i * 7919) % n) for i in range(n)]  # a permutation of 0..n-1
    p, value = stats.tail(values)
    beyond = sum(1 for v in values if v > value)
    if n >= 2 * stats.TAIL_BEYOND + 2:
        assert beyond == stats.TAIL_BEYOND
        assert math.isclose(p, 100.0 * (n - 1 - stats.TAIL_BEYOND) / (n - 1))
    else:
        # too few samples for ten beyond anything above the median
        assert (p, value) == (50.0, stats.median(values))


def test_tail_percentile_moves_smoothly():
    ps = [stats.tail_percentile(n) for n in range(1, 500)]
    assert ps == sorted(ps)
    assert max(b - a for a, b in zip(ps, ps[1:])) < 2.5
    assert stats.tail_percentile(101) == 90.0
    assert stats.tail_percentile(1001) == 99.0


def test_mean_over_kinds_ignores_each_kinds_share():
    few = {"a": [100.0, 120.0, 110.0], "b": [10.0]}
    many = {"a": [110.0], "b": [10.0, 9.0, 11.0, 10.0, 10.0]}
    assert stats.mean_over_kinds(few, stats.median) == 60.0
    assert stats.mean_over_kinds(many, stats.median) == 60.0


def test_matches_tolerates_float_sum_order_only():
    assert traffic.matches({"a": [1, 2.0000000000001]}, {"a": [1, 2.0]})
    assert not traffic.matches({"a": [1, 2.001]}, {"a": [1, 2.0]})
    assert not traffic.matches({"a": [1]}, {"a": [1, 2]})
    assert not traffic.matches({"a": 1, "b": 2}, {"a": 1})
