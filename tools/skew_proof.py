"""Salted-join skew evidence on a genuinely hot-keyed corpus (round-3
verdict next-round #5).

The entity-linking dictionary join's skew story (linking.py module
docstring) was value-checked and unit-tested for spread, but never
*measured* under rdf:type-grade heat. This tool builds a fact table
whose object column is 90% ONE IRI (the reference's hot intern-cache
path, reader.rb:692) and a dense-id dictionary (``dense_ids=True``:
only dense ids encode through joins; hash ids are a projection with
nothing to salt), then encodes it through all three join paths —

  * broadcast   (the default plan with Spark's broadcast threshold
                raised so the dictionary fits: zero fact shuffle)
  * unsalted    the default plan as a shuffle join (no ``hot_keys``),
                AQE skew splitting ON (the backstop)
  * unsalted    the same, AQE skew splitting OFF (the naive plan)
  * salted      graph.salted_join with detected hot keys, 8 salts (AQE
                skew OFF, so the salting itself is what's measured)
  * salted+hint the same with caller-supplied hot keys

— and records wall time plus the per-task duration distribution of the
heaviest new stage (Spark REST API taskSummary quantiles). Evidence
lands in PERF.md §18.

Usage: PYSPARK_SUBMIT_ARGS="--driver-memory 8g pyspark-shell" \
         python tools/skew_proof.py [n_rows]
  (default 2_000_000; the driver heap is a launch-time setting)
Quiet host only (CLAUDE.md noisy-neighbor protocol): interleaved
variant order A/B/C/D repeated, all samples printed, best-of per
variant reported.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _stages(ui: str, app_id: str) -> dict:
    url = f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        return {(s["stageId"], s["attemptId"]): s
                for s in json.load(r)}


def _task_summary(ui: str, app_id: str, stage_id: int, attempt: int):
    url = (f"{ui}/api/v1/applications/{app_id}/stages/{stage_id}/"
           f"{attempt}/taskSummary?quantiles=0.0,0.5,0.95,1.0")
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    from rdf_rdfxml_spark.operators.linking import (
        build_term_dictionary, detect_hot_keys, encode_triples,
    )
    from rdf_rdfxml_spark.plans.pipeline import default_session

    spark = default_session(
        app="skew-proof", master=f"local[{len(os.sched_getaffinity(0))}]",
        shuffle_partitions=32)
    # statistics-based broadcast stays OFF so the unsalted and salted
    # variants measure real shuffle joins; the broadcast variant raises
    # the threshold for its own run
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    # 90%-hot object column; subjects unique; 5 predicates.
    fact = spark.range(n_rows).selectExpr(
        "concat('http://example.org/s/', id) AS s",
        "'iri' AS s_kind",
        "concat('http://example.org/p/', id % 5) AS p",
        "CASE WHEN id % 10 < 9 THEN 'http://example.org/HOT' "
        "ELSE concat('http://example.org/o/', id) END AS o",
        "'iri' AS o_kind",
        "CAST(NULL AS STRING) AS o_lang",
        "CAST(NULL AS STRING) AS o_dt",
    ).persist()
    n = fact.count()
    d = build_term_dictionary(fact, dense_ids=True).persist()
    n_terms = d.count()
    print(f"[skew] fact={n:,} rows, dict={n_terms:,} terms, "
          f"hot share=90% of objects", file=sys.stderr)

    def run(variant: str):
        skew_on = variant == "unsalted+aqeskew"
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled",
                       str(skew_on).lower())
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       "1g" if variant == "broadcast" else "-1")
        before = set(_stages(ui, app_id))
        t0 = time.time()
        if variant == "salted+hint":
            # caller-supplied heavy hitters (the rdf:type case — known a
            # priori) skip the freqItems detection pass
            hot = ["\x00".join(["iri", "http://example.org/HOT", "", ""])]
            out = encode_triples(fact, d, hot_keys=hot)
        elif variant == "salted":
            out = encode_triples(fact, d, hot_keys=detect_hot_keys(fact))
        else:
            out = encode_triples(fact, d)
        assert out.filter("o_id IS NULL").count() == 0
        wall = time.time() - t0
        after = _stages(ui, app_id)
        new = {k: v for k, v in after.items() if k not in before}
        # the skew shows in the single longest TASK anywhere in the
        # variant's stages (the straggler the whole job waits on), not in
        # summed executor time — fetch per-task quantiles for every new
        # stage and report the stage holding the longest task
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

    variants = ["broadcast", "unsalted+aqeskew", "unsalted-noaqe",
                "salted", "salted+hint"]
    results: dict = {v: [] for v in variants}
    for rnd in range(2):  # interleave A/B/C/D, twice
        for v in variants:
            r = run(v)
            results[v].append(r)
            print(f"[skew] round {rnd} {v}: {r}", file=sys.stderr)

    best = {v: min(rs, key=lambda r: r["wall_s"])
            for v, rs in results.items()}
    print(json.dumps({"n_rows": n_rows, "n_terms": n_terms,
                      "best": best, "all": results}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
