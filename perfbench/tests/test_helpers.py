"""Unit tests for the benchmark's pure helpers and the tx_serve model.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import helpers  # noqa: E402
import model  # noqa: E402


# -- percentiles --------------------------------------------------------------


def test_percentile_interpolates_like_numpy_linear():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert helpers.percentile(xs, 50) == 2.5
    assert helpers.percentile(xs, 0) == 1.0
    assert helpers.percentile(xs, 100) == 4.0
    assert helpers.percentile(xs, 90) == pytest.approx(3.7)


def test_failed_ops_lie_beyond_every_percentile():
    xs = [1.0] * 9 + [math.inf]
    assert helpers.percentile(xs, 50) == 1.0
    assert helpers.percentile(xs, 100) == math.inf
    assert helpers.percentile(xs, 95) == math.inf  # interpolates into the failure
    assert helpers.percentile([math.inf] * 3, 50) == math.inf


def test_samples_beyond_counts_ranks_above_the_percentile():
    assert helpers.samples_beyond(100, 90) == 10
    assert helpers.samples_beyond(99, 90) == 10
    assert helpers.samples_beyond(11, 0) == 10
    assert helpers.samples_beyond(1, 50) == 0


def test_tail_needs_ten_samples_beyond():
    assert helpers.tail_percentile([1.0] * 10) is None
    q, v = helpers.tail_percentile(list(range(100)))
    assert q == 90 and v == pytest.approx(89.1)
    q, _ = helpers.tail_percentile(list(range(1000)))
    assert q == 99
    q, _ = helpers.tail_percentile(list(range(38)))
    assert q == 75
    assert helpers.tail_percentile(list(range(37))) is None


# -- spans ----------------------------------------------------------------------


def test_interval_union_merges_overlaps_and_ignores_empty():
    assert helpers.interval_union([]) == 0.0
    assert helpers.interval_union([(0, 1), (2, 3)]) == 2.0
    assert helpers.interval_union([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert helpers.interval_union([(0, 10), (2, 3), (4, 5)]) == 10.0
    assert helpers.interval_union([(3, 3), (4, 2)]) == 0.0
    assert helpers.interval_union([(1, 2), (2, 3)]) == 2.0


def test_clipped_keeps_the_part_inside():
    assert helpers.clipped([(0, 5), (6, 9), (10, 12)], 2, 11) == [(2, 5), (6, 9), (10, 11)]


def test_self_time_subtracts_covered_child_time():
    spans = [
        (0.0, 10.0, None),  # root
        (1.0, 4.0, 0),      # child
        (3.0, 6.0, 0),      # overlapping child (another thread)
        (2.0, 3.0, 1),      # grandchild: counts against the child only
        (20.0, 21.0, None),
    ]
    assert helpers.self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 1.0, 1.0])


def test_self_time_clips_children_that_outlive_the_parent():
    assert helpers.self_times([(0.0, 2.0, None), (1.0, 5.0, 0)]) == pytest.approx([1.0, 4.0])


# -- host self-label -------------------------------------------------------------

STAT = "cpu  {} {} {} {} {} {} {} {} {} {}\ncpu0 1 1 1 1 1 1 1 1 1 1\n"


def test_cpu_ticks_sum_only_fields_zero_to_seven():
    # user nice system idle iowait irq softirq steal guest guest_nice
    total, steal = helpers.read_cpu_ticks(STAT.format(100, 0, 50, 800, 10, 0, 5, 35, 60, 7))
    assert (total, steal) == (1000, 35)


def test_steal_share_between_samples():
    a = helpers.read_cpu_ticks(STAT.format(100, 0, 50, 800, 10, 0, 5, 35, 60, 0))
    b = helpers.read_cpu_ticks(STAT.format(200, 0, 100, 1500, 10, 0, 5, 185, 999, 0))
    assert helpers.steal_share(a, b) == pytest.approx(150 / 1000)
    assert helpers.steal_share(a, a) == 0.0


def test_cpu_ticks_accepts_old_kernels_without_guest_fields():
    assert helpers.read_cpu_ticks("cpu 1 2 3 4\n") == (10, 0)


# -- tx_serve model ---------------------------------------------------------------


def _people():
    m = model.FactModel({"person/friend", "person/tag"})
    m.add(1, "city/name", "a", 1)
    m.add(2, "city/name", "b", 1)
    for p, city, age in ((10, 1, 30), (11, 1, 50), (12, 2, 60)):
        m.add(p, "person/city", model.ref(city), 1)
        m.add(p, "person/age", age, 1)
    m.add(10, "person/friend", model.ref(11), 1)
    m.add(10, "person/friend", model.ref(12), 1)
    m.add(12, "person/friend", model.ref(11), 1)
    return m


def test_cardinality_one_keeps_the_newest_live_value():
    m = _people()
    m.add(11, "person/age", 20, 5)
    assert m.live_values(11, "person/age") == [20]
    assert m.live_values(11, "person/age", as_of=4) == [50]
    # retracting the newest value uncovers the previous live one
    m.add(11, "person/age", 20, 6, added=False)
    assert m.live_values(11, "person/age") == [50]


def test_cardinality_many_keeps_every_live_value_and_applies_retractions():
    m = _people()
    m.add(10, "person/tag", "x", 2)
    m.add(10, "person/tag", "y", 2)
    m.add(10, "person/tag", "x", 3, added=False)
    assert sorted(m.live_values(10, "person/tag")) == ["y"]
    assert sorted(m.live_values(10, "person/tag", as_of=2)) == ["x", "y"]
    m.add(10, "person/tag", "x", 4)
    assert sorted(m.live_values(10, "person/tag")) == ["x", "y"]


def test_retract_outranks_assert_in_the_same_tx():
    m = _people()
    m.add(10, "person/tag", "z", 7)
    m.add(10, "person/tag", "z", 7, added=False)
    assert m.live_values(10, "person/tag") == []


def test_refs_never_equal_plain_integers():
    m = _people()
    m.add(10, "person/friend", 11, 8)  # a long, not a ref
    friends = m.live_values(10, "person/friend")
    assert model.ref(11) in friends and 11 in friends and len(friends) == 3


def test_two_hop_query_counts_friend_pairs_per_city():
    m = _people()
    # city a: 10 -> 11 (50 > 40), 10 -> 12 (60); city b: 12 -> 11 (50)
    assert model.friend_counts_by_city(m.visible()) == {"a": 2, "b": 1}
    m.add(11, "person/age", 40, 9)  # no longer older than 40
    assert model.friend_counts_by_city(m.visible()) == {"a": 1}
    assert model.friend_counts_by_city(m.visible(as_of=8)) == {"a": 2, "b": 1}


def test_historical_counts_asserts_and_retractions():
    m = _people()
    m.add(10, "person/tag", "x", 2)
    m.add(10, "person/tag", "x", 3, added=False)
    m.add(11, "person/tag", "y", 3)
    assert model.tag_versions_by_person(m.history()) == {10: 2, 11: 1}
    assert model.tag_versions_by_person(m.history(as_of=2)) == {10: 1}
