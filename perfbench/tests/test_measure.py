"""The tail rule: the highest percentile with at least 10 samples beyond."""

import measure


def test_tail_picks_highest_level_with_ten_beyond():
    t = measure.tail([float(x) for x in range(1, 41)])
    assert t["level"] == 75.0 and t["beyond"] == 10 and t["n"] == 40
    t = measure.tail([float(x) for x in range(1, 201)])
    assert t["level"] == 95.0 and t["beyond"] == 10


def test_tail_of_a_short_run_falls_back_to_p75():
    t = measure.tail([float(x) for x in range(1, 13)])
    assert t["level"] == 75.0 and t["beyond"] < measure.MIN_BEYOND
    assert t["value"] == measure.percentile([float(x) for x in range(1, 13)], 75)


def test_percentile_interpolates_like_numpy():
    assert measure.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert measure.percentile([5.0], 99) == 5.0
