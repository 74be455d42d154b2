"""Hot-hub skew evidence for the kg_two_hop self-join (round-4 verdict
next-round #6).

The two-hop traversal (``__spark_entry__.q_kg_two_hop``) is a self-join
of the triple table on ``object = subject``. The gated corpus is
uniform; real KGs are not — a handful of hub entities are referenced by
most documents. This tool builds exactly that shape: N hop-1 edges where
90% point at ONE hub mid, hop-2 has one origin per mid, and the join
output is therefore N rows with 0.9·N of them produced by the hub key.

Variants (interleaved A/B/.. rounds, all samples printed, best-of
reported — CLAUDE.md noisy-host protocol):

  * unsalted-noaqe   plain shuffle join, AQE skew split OFF (naive plan)
  * unsalted+aqeskew plain shuffle join, AQE skew split ON (the
                     backstop; splits by partition BYTES, so whether it
                     fires depends on the hub partition's size vs
                     spark.sql.adaptive.skewJoin thresholds)
  * salted           graph.salted_join, freqItems-detected hub,
                     default salt_factor 8
  * salted32+hint    graph.salted_join, hub supplied a priori,
                     salt_factor = shuffle partitions (32) — a 90% hub
                     must spread over EVERY reducer

Every variant is count-verified identical. Per-variant: wall, the
heaviest stage's per-task duration quantiles (Spark REST taskSummary),
straggler ratio = max/median task. Evidence lands in PERF.md §20.

Usage: PYSPARK_SUBMIT_ARGS="--driver-memory 12g pyspark-shell" \
         python tools/twohop_skew_proof.py [n_rows]
  (default 8_000_000; the driver heap is a launch-time setting)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from skew_proof import _stages, _task_summary  # noqa: E402


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    from rdf_rdfxml_spark.operators.graph import salted_join
    from rdf_rdfxml_spark.plans.pipeline import default_session

    spark = default_session(
        app="twohop-skew-proof",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        shuffle_partitions=32)
    # hop2 must NOT auto-broadcast: at scale it is the full triple table
    # (broadcasting it is exactly what a real cluster cannot do), so the
    # shuffle join is what's measured
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    hub = "http://example.org/HUB"
    hop1 = spark.range(n_rows).selectExpr(
        "concat('http://example.org/d/', id) AS doc",
        f"CASE WHEN id % 10 < 9 THEN '{hub}' "
        "ELSE concat('http://example.org/m/', id) END AS mid",
    ).persist()
    n1 = hop1.count()
    hop2 = (hop1.select("mid").distinct()
            .selectExpr("mid", "concat('origin-of-', mid) AS origin")
            .persist())
    n2 = hop2.count()
    print(f"[twohop] hop1={n1:,} rows (90% one hub), hop2={n2:,} mids",
          file=sys.stderr)

    def run(variant: str):
        skew_on = variant == "unsalted+aqeskew"
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled",
                       str(skew_on).lower())
        before = set(_stages(ui, app_id))
        t0 = time.time()
        if variant.startswith("unsalted"):
            out = hop1.join(hop2, "mid").select("doc", "origin")
        elif variant == "salted32+hint":
            # salt_factor = shuffle partitions: a 90% hub needs its rows
            # spread over EVERY reducer, not 8 of 32 — factor 8 leaves
            # 8 hub shards ~9x the size of the other 24 partitions
            out = salted_join(hop1, hop2, "mid", hot_keys=[hub],
                              salt_factor=32).select("doc", "origin")
        else:
            out = salted_join(hop1, hop2, "mid").select("doc", "origin")
        n_out = out.count()
        wall = time.time() - t0
        assert n_out == n_rows, (variant, n_out)
        after = _stages(ui, app_id)
        new = {k: v for k, v in after.items() if k not in before}
        heavy, heavy_dur = None, None
        total_exec_s = 0.0
        for s in new.values():
            if not s["numCompleteTasks"]:
                continue
            total_exec_s += s["executorRunTime"] / 1000.0
            ts = _task_summary(ui, app_id, s["stageId"], s["attemptId"])
            dur = [x / 1000.0 for x in ts["duration"]]
            if heavy_dur is None or dur[3] > heavy_dur[3]:
                heavy, heavy_dur = s, dur
        return {"wall_s": round(wall, 2),
                "stage": heavy["stageId"],
                "n_tasks": heavy["numCompleteTasks"],
                "task_s_med": round(heavy_dur[1], 2),
                "task_s_p95": round(heavy_dur[2], 2),
                "task_s_max": round(heavy_dur[3], 2),
                "straggler_ratio": round(
                    heavy_dur[3] / max(heavy_dur[1], 1e-3), 1),
                "exec_total_s": round(total_exec_s, 1)}

    variants = ["unsalted-noaqe", "unsalted+aqeskew", "salted",
                "salted32+hint"]
    results: dict = {v: [] for v in variants}
    for rnd in range(2):
        for v in variants:
            r = run(v)
            results[v].append(r)
            print(f"[twohop] round {rnd} {v}: {r}", file=sys.stderr)

    best = {v: min(rs, key=lambda r: r["wall_s"])
            for v, rs in results.items()}
    print(json.dumps({"n_rows": n_rows, "n_mids": n2,
                      "best": best, "all": results}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
