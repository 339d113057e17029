"""The tail rule: the highest percentile with at least ten samples
beyond it."""

import pytest

from perfbench.stats import best_times, median, percentile, tail


def test_tail_p99_needs_a_thousand_samples():
    p, v, beyond = tail(list(range(1, 1001)))
    assert (p, v, beyond) == (99.0, 990, 10)
    p, v, beyond = tail(list(range(1, 1000)))
    assert p == 95.0 and beyond >= 10


def test_tail_small_samples_fall_back_down_the_ladder():
    p, v, beyond = tail(list(range(1, 41)))
    assert p == 75.0 and v == 30 and beyond == 10
    p, v, beyond = tail(list(range(1, 6)))
    assert p == 100.0 and v == 5 and beyond == 0


def test_tail_counts_only_samples_strictly_beyond():
    # ties at the percentile value are not "beyond" it
    vals = [1.0] * 990 + [2.0] * 10
    p, v, beyond = tail(vals)
    assert (p, v, beyond) == (99.0, 1.0, 10)
    # five distinct slow samples never make ten beyond any rung
    assert tail([1.0] * 995 + [2.0] * 5) == (100.0, 2.0, 0)


def test_percentile_and_median():
    assert percentile([3, 1, 2], 50) == 2
    assert percentile([1, 2, 3, 4], 100) == 4
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_best_times_takes_each_querys_fastest_repeat():
    passes = [
        [("match", 5.0), ("bool", 2.0), ("sqs", None)],
        [("match", 4.0), ("bool", 3.0), ("sqs", None)],
        [("match", 6.0), ("bool", None), ("sqs", None)],
    ]
    # a query that raised in some repeats keeps its best good one; one that
    # raised in every repeat is left out
    assert best_times(passes) == [("match", 4.0), ("bool", 2.0)]
