"""tools/scale_legs.py's pure parts: the per-op summary, the group table,
the invariant check, the --scales parser and the CPU default. No Spark."""
import argparse
import json
import os
import sys
import time
import types

import pytest

ROOT = os.path.join(os.path.dirname(__file__), "..")
sys.path.insert(0, os.path.join(ROOT, "tools"))

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


class _Session:
    """Stands in for the session: ``run_group`` reads only its
    parallelism when the group persists nothing."""
    sparkContext = types.SimpleNamespace(defaultParallelism=2)


def _canned_group(pairs: dict):
    """One op whose ``pairs`` at each scale come from ``pairs``; it must
    scale by k within 25%."""
    def run(leg):
        leg.time(lambda: time.sleep(0.002))
        return {"pairs": pairs[leg.scale]}
    return scale_legs.Group(
        "fake", (1, 10), lambda *_: {}, (scale_legs.Op("op", run),),
        scale_legs.keeps(scale_legs.linear("op.pairs", 0.25)),
        persist=False)


def test_broken_invariant_fails_the_run_naming_group_field_and_scale():
    with pytest.raises(scale_legs.Broken,
                       match=r"fake\.op\.pairs at 10x: 4056 ") as e:
        scale_legs.run_group(_Session, _canned_group({1: 59, 10: 4056}),
                             (1, 10), "", 1)
    assert e.value.out["10x"]["op"]["pairs"] == 4056
    with pytest.raises(scale_legs.Broken, match=r"at 30x") as e:
        scale_legs.run_group(
            _Session, _canned_group({1: 59, 10: 600, 30: 5000}),
            (1, 10, 30), "", 1)
    assert "at 10x" not in str(e.value)


def test_kept_invariant_passes():
    out = scale_legs.run_group(
        _Session, _canned_group({1: 59, 10: 590, 30: 1700}), (1, 10, 30),
        "", 1)
    assert [out[f"{s}x"]["op"]["pairs"] for s in (1, 10, 30)] == [
        59, 590, 1700]


def test_every_group_declares_an_invariant_that_reads_its_fields():
    for g in scale_legs.GROUPS:
        empty = {"scales": list(g.scales),
                 **{f"{s}x": {} for s in g.scales}}
        with pytest.raises(KeyError):
            g.invariant(empty)


def _legs(pairs) -> dict:
    """Results in ``run_group``'s shape from (scale, fields) pairs."""
    return {"scales": [s for s, _ in pairs],
            **{f"{s}x": fields for s, fields in pairs}}


def _committed(name: str) -> dict:
    with open(os.path.join(ROOT, "perf_data", f"{name}.json")) as f:
        return json.load(f)


def test_state_and_triangle_invariants_hold_on_the_committed_evidence():
    tri = _committed("triangle_skew_r7")
    assert scale_legs.BY_NAME["triangle"].invariant(_legs(
        [(s, {"n_edges": leg.pop("n_edges"), "triangles": leg})
         for s, leg in ((1, tri["N=20000"]), (10, tri["N=200000"]))])) == []
    for group, name, frame in (
            ("sessionize_state", "sessionize_state_10x", "n_events"),
            ("neardup_state", "stream_neardup_state_10x", "n_docs")):
        legs = _committed(name)["legs"]
        assert scale_legs.BY_NAME[group].invariant(_legs(
            [(s, {frame: legs[f"{s}x"].pop(frame), "state": legs[f"{s}x"]})
             for s in (1, 10)])) == [], group


def test_state_invariants_reject_a_broken_stream():
    legs = _committed("sessionize_state_10x")["legs"]
    for leg in legs.values():
        leg["state_removed_total"] = 0
    legs["10x"]["emitted_sessions"] -= 1
    legs["10x"]["peak_state_rows"] = 10 * legs["1x"]["peak_state_rows"]
    bad = scale_legs.BY_NAME["sessionize_state"].invariant(_legs(
        [(s, {"n_events": legs[f"{s}x"].pop("n_events"),
              "state": legs[f"{s}x"]}) for s in (1, 10)]))
    assert {(field, s) for field, s, _ in bad} == {
        ("state.state_removed_total", 1), ("state.state_removed_total", 10),
        ("state", 10), ("state.peak_state_rows", 10)}


def test_recall_invariant_rejects_twins_made_after_replication():
    """Twins added to the replicated corpus: 50 positives at every
    scale, and 550 / 5,050 vectors instead of 550 / 5,500."""
    def recall(n, true_pairs):
        return {"n_vectors": n, "prod_dedup": {"true_pairs": true_pairs}}
    inv = scale_legs.BY_NAME["recall"].invariant
    assert {(f, s) for f, s, _ in inv(_legs(
        [(1, recall(550, 50)), (10, recall(5050, 50))]))} == {
        ("n_vectors", 10), ("prod_dedup.true_pairs", 10)}
    assert inv(_legs([(1, recall(550, 50)), (10, recall(5500, 500))])) == []


def test_ivf_invariant_bounds_the_cosine_work_not_the_output():
    """On i.i.d. vectors output pairs grow like k² (59 / 4,040 under
    either replica map); the per-cell cosine work must grow like k."""
    def ivf(pairs, cell_pairs):
        return {"n_vectors": 500 * pairs[0],
                "ivf_dedup": {"pairs": pairs[1], "cell_pairs": cell_pairs}}
    inv = scale_legs.BY_NAME["ivf_dedup"].invariant
    assert inv(_legs([(1, ivf((1, 59), 249_000)),
                      (10, ivf((10, 4040), 2_600_000))])) == []
    assert [(f, s) for f, s, _ in inv(_legs(
        [(1, ivf((1, 59), 249_000)), (10, ivf((10, 4040), 6_900_000))]))] \
        == [("ivf_dedup.cell_pairs", 10)]
