"""The wall-time summaries weigh every query of the mix the same."""

import math

import pytest

import run


def _samples(walls: dict[str, list[float]]) -> list[dict]:
    return [{"query": q, "wall": w} for q, ws in walls.items() for w in ws]


def test_mix_p50_is_geometric_mean_of_per_query_medians():
    got = run.mix_p50(_samples({"a": [1.0, 9.0, 2.0], "b": [8.0, 8.0]}))
    assert got == pytest.approx(math.sqrt(2.0 * 8.0))


def test_mix_p50_does_not_follow_the_middle_query():
    # Pooled, the median of these runs is query b's time; moving b alone
    # from 1.0 s to 1.5 s would move the pooled median by 50 %, while
    # the mix summary moves by the geometric share of one query in three.
    before = _samples({"a": [0.5, 0.5], "b": [1.0, 1.0], "c": [2.0, 2.0]})
    after = _samples({"a": [0.5, 0.5], "b": [1.5, 1.5], "c": [2.0, 2.0]})
    assert run.mix_p50(after) / run.mix_p50(before) == pytest.approx(1.5 ** (1 / 3))
