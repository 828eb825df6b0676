"""The steal correction applied to every end-to-end time.

    python3 -m pytest perfbench/tests -q
"""

import pytest

from perfbench.clock import cpu_ticks, steal_share, unstolen


def test_share_is_stolen_over_asked_for():
    # 300 busy ticks and 100 stolen: a quarter of what was asked for
    assert steal_share((1000, 50), (1300, 150)) == pytest.approx(0.25)
    assert unstolen(2.0, (1000, 50), (1300, 150)) == pytest.approx(1.5)


def test_no_steal_or_no_ticks_leaves_wall_time_alone():
    assert unstolen(2.0, (1000, 50), (1400, 50)) == 2.0
    assert unstolen(0.01, (1000, 50), (1000, 50)) == 0.01


def test_ticks_only_grow():
    before = cpu_ticks()
    sum(i * i for i in range(200_000))
    after = cpu_ticks()
    assert after[0] >= before[0] and after[1] >= before[1]
