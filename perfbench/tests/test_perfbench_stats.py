from __future__ import annotations

import pytest

from stats import summary, tail


def test_tail_is_max_without_ten_samples_above():
    assert tail([3.0, 1.0, 2.0]) == (3.0, "max")
    assert tail([float(i) for i in range(10)]) == (9.0, "max")


def test_tail_keeps_ten_samples_above():
    values = [float(i) for i in range(100)]
    value, label = tail(values)
    assert value == 89.0 and label == "p90.0"
    assert sum(v > value for v in values) == 10
    assert tail([float(i) for i in range(11)]) == (0.0, "p9.1")


def test_summary_reports_sample_count():
    s = summary([float(i) for i in range(40)])
    assert s["n"] == 40 and s["p50"] == 19.5
    assert s["tail"] == 29.0 and s["tail_pct"] == "p75.0"


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        tail([])
