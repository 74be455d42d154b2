"""Hot-hub skew evidence for the ITERATIVE graph stages (round-5
verdict next-round #5): kg_pagerank and dedup_components repeat a join
per round, so a hub straggler multiplies by round count — §20 proved
the single two-hop join, this proves the loops.

Skew anatomy (why the join, not the aggregate):

* pagerank's per-round ``ed.join(ranks, on src)`` keys on the edge
  SOURCE — a node holding 90% of out-edges puts 0.9·N rows on one
  reducer every round. The ``groupBy(dst).sum()`` side is safe even
  with a 90%-in-degree hub: sum() partially aggregates map-side.
* components' per-round ``sym.join(labels, on src)`` — symmetrization
  gives the hub 90% of sym rows regardless of edge direction.

Variants per algorithm (interleaved rounds, all samples printed,
best-of reported — CLAUDE.md noisy-host protocol):

  * unsalted      plain per-round shuffle join (AQE on — its byte-based
                  skew split is expected NOT to fire on the row-bound
                  hub, same as PERF.md §20)
  * salted+hint   hot_keys=[hub] supplied a priori (the amortized
                  detection pattern: freqItems once per graph, reused
                  across all rounds), salt_factor 32

Outputs (one JSON line): per variant wall, heaviest-stage task-duration
quantiles and straggler ratio (max/median), total executor seconds, and
a value-identity check (ranks / components equal across variants —
salting never changes results; pagerank's per-round 1e-9 rounding
absorbs the reordered partial sums).

Usage: PYSPARK_SUBMIT_ARGS="--driver-memory 12g pyspark-shell" \
         python tools/iterative_skew_proof.py [n_edges]
  (default 4_000_000; the driver heap is a launch-time setting)
Evidence lands in PERF.md §21 + perf_data/iterative_skew.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from skew_proof import _stages, _task_summary  # noqa: E402


def _measure(spark, ui, app_id, fn):
    before = set(_stages(ui, app_id))
    t0 = time.time()
    result = fn()
    wall = time.time() - t0
    after = _stages(ui, app_id)
    new = {k: v for k, v in after.items() if k not in before}
    heavy, heavy_dur = None, None
    total_exec_s = 0.0
    per_round = []
    for s in sorted(new.values(), key=lambda s: s["stageId"]):
        if not s["numCompleteTasks"]:
            continue
        total_exec_s += s["executorRunTime"] / 1000.0
        ts = _task_summary(ui, app_id, s["stageId"], s["attemptId"])
        dur = [x / 1000.0 for x in ts["duration"]]
        # per-round distribution evidence: keep every stage whose max
        # task is non-trivial (the join stages; skip tiny admin stages)
        if dur[3] >= 0.25:
            per_round.append({"stage": s["stageId"],
                              "tasks": s["numCompleteTasks"],
                              "med_s": round(dur[1], 2),
                              "max_s": round(dur[3], 2),
                              "ratio": round(dur[3] / max(dur[1], 1e-3),
                                             1)})
        if heavy_dur is None or dur[3] > heavy_dur[3]:
            heavy, heavy_dur = s, dur
    return result, {
        "wall_s": round(wall, 2),
        "heavy_stage": heavy["stageId"] if heavy else None,
        "task_s_med": round(heavy_dur[1], 2) if heavy else None,
        "task_s_max": round(heavy_dur[3], 2) if heavy else None,
        "straggler_ratio": (round(heavy_dur[3] / max(heavy_dur[1], 1e-3), 1)
                            if heavy else None),
        "exec_total_s": round(total_exec_s, 1),
        "round_stages": per_round,
    }


def main():
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    from rdf_rdfxml_spark.operators.graph import (
        connected_components, pagerank,
    )
    from rdf_rdfxml_spark.plans.pipeline import default_session

    cpus = len(os.sched_getaffinity(0))
    spark = default_session(app="iterative-skew-proof",
                            master=f"local[{cpus}]", shuffle_partitions=32)
    # ranks/labels must NOT auto-broadcast: at scale the node table is
    # data-sized — the per-round shuffle join is the thing under test
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    out = {"n_edges": n_edges, "protocol":
           "interleaved A/B rounds, best-of-2, all samples printed; "
           f"local[{cpus}], 32 shuffle partitions, auto-broadcast off"}

    # --- pagerank: hub holds 90% of OUT-edges -------------------------
    # node 0 = hub; dst uniform over 100k nodes; 10% uniform srcs
    pr_edges = spark.range(n_edges).selectExpr(
        "CASE WHEN id % 10 < 9 THEN CAST(0 AS BIGINT) "
        "ELSE 1 + id % 99999 END AS src",
        "1 + (id * 7919) % 99999 AS dst").persist()
    pr_edges.count()
    pr_results = {}
    samples = {}
    for variant in ["unsalted", "salted+hint", "unsalted", "salted+hint"]:
        hot = [0] if variant == "salted+hint" else None

        def run(h=hot):
            return {r["node"]: r["rank"]
                    for r in pagerank(pr_edges, iters=3,
                                      hot_keys=h).collect()}
        ranks, m = _measure(spark, ui, app_id, run)
        pr_results.setdefault(variant, ranks)
        assert ranks == pr_results[variant]
        samples.setdefault(f"pagerank_{variant}", []).append(m)
        print(f"[pagerank {variant}] {m}", file=sys.stderr)
    assert pr_results["unsalted"] == pr_results["salted+hint"], \
        "salted pagerank must be value-identical"
    out["pagerank_identical"] = True
    for k, v in samples.items():
        best = min(v, key=lambda m: m["wall_s"])
        out[k] = best
        out[k + "_samples"] = [m["wall_s"] for m in v]

    # --- components: hub incident to 90% of edges ---------------------
    cc_edges = spark.range(n_edges).selectExpr(
        "CASE WHEN id % 10 < 9 THEN CAST(0 AS BIGINT) "
        "ELSE 1 + (id * 13) % 49999 END AS a",
        "1 + (id * 7919) % 49999 AS b").persist()
    cc_edges.count()
    cc_results = {}
    samples = {}
    for variant in ["unsalted", "salted+hint", "unsalted", "salted+hint"]:
        hot = [0] if variant == "salted+hint" else None

        def run(h=hot):
            stats = {}
            rows = connected_components(cc_edges, hot_keys=h,
                                        stats=stats).collect()
            return stats.get("rounds"), {(r["node"], r["component"])
                                         for r in rows}
        (rounds, comp), m = _measure(spark, ui, app_id, run)
        m["rounds"] = rounds
        cc_results.setdefault(variant, comp)
        assert comp == cc_results[variant]
        samples.setdefault(f"components_{variant}", []).append(m)
        print(f"[components {variant}] {m}", file=sys.stderr)
    assert cc_results["unsalted"] == cc_results["salted+hint"], \
        "salted components must be value-identical"
    out["components_identical"] = True
    for k, v in samples.items():
        best = min(v, key=lambda m: m["wall_s"])
        out[k] = best
        out[k + "_samples"] = [m["wall_s"] for m in v]

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
