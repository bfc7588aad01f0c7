import os
import time

from perfbench import host


def test_sampler_times_its_unit_and_stops():
    sampler = host.Sampler()
    time.sleep(3 * host.PERIOD_S)
    samples = sampler.stop()
    assert samples and all(c > 0 for _, c in samples)
    try:
        os.kill(sampler.pid, 0)
        alive = True
    except ProcessLookupError:
        alive = False
    assert not alive


def test_slowdown_averages_the_samples_inside_the_stretch():
    ref = host.REFERENCE_S
    samples = [(1.0, ref), (2.0, 3 * ref), (5.0, 9 * ref)]
    assert host.slowdown(samples, 0.5, 2.0) == 2.0
    assert host.slowdown(samples, 10.0, 1.0) == 13 / 3    # none inside


def test_stopwatch_net_is_at_most_wall():
    watch = host.Stopwatch()
    time.sleep(0.05)
    start, wall, net = watch.stop()
    assert start == watch.start and 0 < net <= wall
