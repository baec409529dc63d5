import pytest

from stats import covered, geomean, job_split, median, percentile, self_times, union


def test_median_odd_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_geomean():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert geomean([0.5, 2.0, 8.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_p90_needs_ten_samples_beyond_it():
    assert percentile([float(i) for i in range(99)], 0.9) is None
    values = [float(i) for i in range(1, 101)]
    assert percentile(values, 0.9) == 90.0  # 10 samples (91..100) lie beyond
    assert percentile(values, 0.5) == 50.0


def test_p99_needs_a_thousand_samples():
    assert percentile([1.0] * 999, 0.99) is None
    assert percentile([float(i) for i in range(1, 1001)], 0.99) == 990.0


def test_percentile_rank_out_of_range():
    with pytest.raises(ValueError):
        percentile([1.0] * 200, 1.0)


def test_union_merges_overlapping_touching_and_nested():
    assert union([(5, 6), (0, 2), (1, 3), (3, 4), (0.5, 1)]) == [(0, 4), (5, 6)]
    assert union([]) == []
    with pytest.raises(ValueError):
        union([(2, 1)])


def test_covered_clips_to_window():
    assert covered([(0, 10)], 2, 5) == 3
    assert covered([(0, 1), (0.5, 2), (3, 4)], 0, 10) == 3
    assert covered([(0, 1)], 2, 3) == 0


def test_job_split_sequential_jobs_with_gap():
    s = job_split(0.0, 10.0, [(2.0, 4.0), (5.0, 8.0)])
    assert s == pytest.approx({"pre_job": 2.0, "in_job": 5.0, "gap": 1.0, "post_job": 2.0})
    assert sum(s.values()) == pytest.approx(10.0)


def test_job_split_concurrent_jobs_count_once():
    # two overlapping jobs (a streaming thread beside the Spark driver's) and a
    # third nested inside the first: in_job is their union
    s = job_split(0.0, 10.0, [(1.0, 5.0), (3.0, 7.0), (2.0, 4.0)])
    assert s == pytest.approx({"pre_job": 1.0, "in_job": 6.0, "gap": 0.0, "post_job": 3.0})


def test_job_split_clips_millisecond_stamps_to_the_op():
    s = job_split(1.0005, 2.0, [(1.000, 1.5)])
    assert s["pre_job"] == 0.0
    assert s["in_job"] == pytest.approx(0.4995)
    assert sum(s.values()) == pytest.approx(0.9995)


def test_job_split_without_jobs_is_all_pre_job():
    assert job_split(1.0, 3.0, []) == {"pre_job": 2.0, "in_job": 0.0, "gap": 0.0, "post_job": 0.0}


def test_self_time_subtracts_direct_children_once():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},  # overlaps 2
        {"id": 4, "parent": 2, "start": 1.5, "end": 2.5},  # grandchild
        {"id": 5, "parent": 1, "start": 9.0, "end": 12.0},  # runs past its parent
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    assert st[5] == pytest.approx(3.0)
