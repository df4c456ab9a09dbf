"""The steal-aware median behind every timed end-to-end metric."""

from perfbench.workloads import Sample, quiet_median, steal_share


def test_without_steal_it_is_the_plain_median():
    samples = [Sample(v, 0.0) for v in (0.3, 0.1, 0.2, 0.5, 0.4, 0.6, 0.7)]
    assert quiet_median(samples) == 0.4


def test_only_the_least_stolen_samples_count():
    quiet = [Sample(0.20 + i / 100, 0.0) for i in range(8)]
    stolen = [Sample(0.40 + i / 100, 0.05 + i / 100) for i in range(12)]
    # a quarter of 20 is 5; the 8 steal-free samples tie and are all kept
    assert quiet_median(quiet + stolen) == 0.23


def test_at_least_five_samples_are_kept():
    samples = [Sample(v, s) for v, s in ((0.9, 0.5), (0.1, 0.1), (0.2, 0.2), (0.3, 0.3), (0.4, 0.4), (0.5, 0.45))]
    assert quiet_median(samples) == 0.3


def test_weights_count_each_sample_as_many_times():
    samples = [Sample(1.0, 0.0, 1), Sample(2.0, 0.0, 5), Sample(3.0, 0.0, 1)]
    assert quiet_median(samples) == 2.0


def test_steal_share_is_stolen_over_all_ticks():
    assert steal_share((10, 500, 1000), (30, 700, 1400)) == 0.05
    assert steal_share((0, 0, 0), (0, 0, 0)) == 0.0
