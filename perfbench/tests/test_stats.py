import pytest

from stats import percentile, tail_percentile, verdict


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(9) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(40) == 75
    assert tail_percentile(50) == 80
    assert tail_percentile(99) == 80  # p90 would leave 9.9 beyond
    assert tail_percentile(100) == 90
    assert tail_percentile(200) == 95
    assert tail_percentile(1000) == 99
    assert tail_percentile(10000) == 99.9


def test_percentile_interpolates():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 90) == pytest.approx(4.6)
    assert percentile([7.0], 99) == 7.0


def test_verdict_win_needs_nine_of_ten_and_medians_apart():
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
    change = [p - 1.0 for p in parent]
    assert verdict(parent, change)["outcome"] == "win"
    # 8 of 10 better is not enough
    change8 = change[:8] + [11.0, 11.0]
    v = verdict(parent, change8)
    assert v["change_better"] == 8 and v["outcome"] == "tie"


def test_verdict_medians_within_parent_iqr_is_a_tie():
    parent = [8.0, 12.0, 9.0, 11.0, 10.0, 8.5, 11.5, 9.5, 10.5, 10.0]
    change = [p - 0.2 for p in parent]  # better every time, by less than the IQR
    v = verdict(parent, change)
    assert v["change_better"] == 10
    assert v["outcome"] == "tie"


def test_verdict_loss_and_ties_count_for_neither():
    parent = [10.0] * 10
    assert verdict(parent, [12.0] * 10)["outcome"] == "loss"
    v = verdict(parent, [10.0] * 10)
    assert (v["change_better"], v["parent_better"], v["outcome"]) == (0, 0, "tie")
    higher = verdict(parent, [12.0] * 10, better="higher")
    assert higher["outcome"] == "win"
