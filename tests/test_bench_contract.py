"""bench.py reports only what its own run measured: the headline's queries
are the minima of this run's samples, the line fits the driver's stdout
tail, and the scaling levels come from the host's CPU count. No Spark."""
import json

import pytest

import bench

FACTS = dict(total=30.0, sf="0.1", cpus=4, kg_triples=1_000_000,
             write_rows=5_000, kg_skew=1.1, loadavg=[0.5, 3.2])


def _samples(scale=1.0):
    return {q: [round(scale * (i + 2.5), 3), round(scale * (i + 1.25), 3),
                round(scale * (i + 4.0), 3)]
            for i, q in enumerate(["kg_construct"] + bench.HEADLINE)}


def test_headline_is_this_runs_minima():
    samples = _samples()
    line, side = bench.build_headline(samples, **FACTS)
    assert "\n" not in line and len(line) <= bench.MAX_LINE
    head = json.loads(line)
    assert "code_state" not in head and "windows_merged" not in head
    assert head["queries"] == {q: min(s) for q, s in samples.items()}
    assert head["kg_triples_per_sec"] == round(
        1_000_000 / min(samples["kg_construct"]))
    for q, s in samples.items():
        assert side["query_stats"][q] == {"min": min(s), "median": s[0],
                                          "samples": s}


def test_second_build_never_sees_the_first():
    bench.build_headline(_samples(0.5), **FACTS)
    samples = _samples(2.0)
    line, side = bench.build_headline(samples, **FACTS)
    assert json.loads(line)["queries"] == {q: min(s)
                                           for q, s in samples.items()}
    assert all(st["samples"] == samples[q]
               for q, st in side["query_stats"].items())


def test_overlong_line_drops_queries_but_still_parses():
    samples = {f"q{i:03d}_" + "x" * 40: [1.0] for i in range(60)}
    samples.update(_samples())
    line, side = bench.build_headline(samples, **FACTS)
    head = json.loads(line)
    assert len(line) <= bench.MAX_LINE and "queries" not in head
    assert set(side["query_stats"]) == set(samples)


@pytest.mark.parametrize("cpus, levels", [(4, (1, 4)), (7, (1, 4)),
                                          (32, (8, 32))])
def test_scaling_levels(cpus, levels):
    assert bench.scaling_levels(cpus) == levels


def test_scaling_refuses_below_four_cpus():
    with pytest.raises(SystemExit):
        bench.scaling_levels(3)
