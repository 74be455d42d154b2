"""tools/scale_legs.py's pure parts: the per-op summary, the group table,
the --scales parser and the CPU default. No Spark."""
import argparse
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import scale_legs  # noqa: E402


def test_summary_is_min_median_and_all_samples():
    samples = [2.5, 1.25, 4.0, 3.0]
    assert scale_legs.summarize(samples) == {
        "min_s": 1.25, "median_s": 2.75, "samples": samples}
    assert scale_legs.summarize([0.7])["median_s"] == 0.7


def test_leg_times_one_callable_attempts_times():
    calls = []
    leg = scale_legs.Leg({}, scale=10, attempts=3)
    assert leg.time(lambda: calls.append(1) or len(calls)) == 3
    assert len(leg.samples) == 3
    with pytest.raises(RuntimeError):
        leg.time(lambda: None)


def test_wall_ratios_are_against_the_first_scale():
    legs = {"1x": {"a": {"min_s": 2.0}}, "10x": {"a": {"min_s": 5.0}},
            "30x": {"a": {"min_s": 14.0}}}
    assert scale_legs.wall_ratios(legs, (1, 10, 30), ["a"]) == {
        "10x": {"a": 2.5}, "30x": {"a": 7.0}}


def test_group_and_op_names_are_unique():
    names = [g.name for g in scale_legs.GROUPS]
    assert len(names) == len(set(names)) == len(scale_legs.BY_NAME)
    for g in scale_legs.GROUPS:
        ops = [op.name for op in g.ops]
        assert ops and len(ops) == len(set(ops)), g.name
        assert scale_legs.parse_scales(
            ",".join(map(str, g.scales))) == g.scales


@pytest.mark.parametrize("text", ["", "1", "1,x", "1.5,10", "10,1", "1,1",
                                  "0,10", "1,10,5"])
def test_scales_rejects_bad_lists(text):
    with pytest.raises(argparse.ArgumentTypeError):
        scale_legs.parse_scales(text)


def test_scales_accepts_increasing_lists():
    assert scale_legs.parse_scales("1,10,30") == (1, 10, 30)
    args = scale_legs.parse_args(["flagship", "text_dedup", "--scales",
                                  "1,2"])
    assert args.groups == ["flagship", "text_dedup"]
    assert args.scales == (1, 2)
    with pytest.raises(SystemExit):
        scale_legs.parse_args(["flagship", "--scales", "10,1"])
    with pytest.raises(SystemExit):
        scale_legs.parse_args(["no_such_group"])


def test_cpu_default_is_the_affinity(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert scale_legs.cpus() == len(os.sched_getaffinity(0))
