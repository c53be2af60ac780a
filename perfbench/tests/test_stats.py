"""The percentile rule and failure accounting."""

import random

import numpy as np
import pytest

from perfbench.stats import (
    Tally,
    percentile,
    samples_beyond,
    tail_percentile,
)


@pytest.mark.parametrize("p", [50.0, 75.0, 90.0, 95.0, 99.0])
def test_samples_beyond_counts_samples_above_the_percentile(p):
    for n in range(1, 300):
        xs = [float(i) for i in range(n)]
        value = percentile(xs, p)
        assert sum(x > value for x in xs) == samples_beyond(n, p), (n, p)


def test_percentile_matches_numpy():
    rng = random.Random(3)
    for n in (1, 2, 7, 50, 101):
        xs = [rng.random() for _ in range(n)]
        for p in (0, 10, 50, 90, 100):
            assert percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


def test_p90_needs_ten_samples_beyond():
    assert tail_percentile([float(i) for i in range(91)], 90) is None
    assert tail_percentile([float(i) for i in range(92)], 90) == pytest.approx(81.9)


def test_tally_counts_failures_against_attempts():
    t = Tally()
    assert t.failed_ratio == 0.0
    t.ok(3)
    assert t.check(True, "fine")
    assert not t.check(False, "wrong answer")
    t.fail("raised")
    assert (t.attempted, t.failed) == (6, 2)
    assert t.failed_ratio == pytest.approx(2 / 6)
    assert t.messages == ["wrong answer", "raised"]


def test_tally_keeps_at_most_twenty_messages():
    t = Tally()
    for i in range(30):
        t.fail(str(i))
    assert t.failed == 30 and len(t.messages) == 20
