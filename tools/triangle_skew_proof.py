"""Hub-skew proof for triangle counting: degree-ordered orientation
keeps the wedge join linear while the naive wedge count explodes
quadratically in the hub degree.

Graph: N nodes in 5-cliques plus ONE hub linked to every node (the
celebrity-entity shape real KGs have). The naive wedge count at the hub
alone is C(N, 2); after (degree, id) orientation the hub is always the
rank-maximal endpoint, so it is never a wedge source, and every node's
oriented out-degree is <= 5 (4 clique neighbors + its hub edge) —
oriented wedges are <= 10 per node, linear in N by construction.

The proof measures, at N and 10N:

* oriented wedge rows (the actual join input) — must grow ~10x,
* the naive hub wedge count C(N, 2) it replaces — grows ~100x,
* wall time — ~linear,
* triangle totals as the correctness anchor (closed form: each 5-clique
  has C(5,3)=10 triangles; each of its 10 edges forms one more with the
  hub → 20 per clique).

Host is noisy (CLAUDE.md): best-of-N, all samples printed, quiet host.

Usage: python tools/triangle_skew_proof.py   (one JSON line, ~2 min)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = len(os.sched_getaffinity(0))
ATTEMPTS = int(os.environ.get("SPARK_GRAFT_BENCH_N", "3"))


def _edges(spark, n: int):
    from pyspark.sql import functions as F
    ids = spark.range(n).select(F.col("id").alias("i"))
    clique = ids.selectExpr(
        "concat('d', i) AS src",
        f"explode(filter(transform(sequence(1, 4), x -> i - (i % 5) + "
        f"(i % 5 + x) % 5), j -> j > i AND j < {n})) AS jj") \
        .selectExpr("src", "concat('d', jj) AS dst")
    hub = ids.selectExpr("'h' AS src", "concat('d', i) AS dst")
    return clique.unionByName(hub)


def main():
    from pyspark.sql import functions as F

    from rdf_rdfxml_spark.operators.graph import triangle_counts
    from rdf_rdfxml_spark.plans.pipeline import default_session

    spark = default_session(app="triangle-skew-proof",
                            master=f"local[{CPUS}]",
                            shuffle_partitions=max(2 * CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    out = {"protocol": f"5-cliques + full-degree hub, N vs 10N, "
                       f"best-of-{ATTEMPTS}, local[{CPUS}]",
           "loadavg": round(os.getloadavg()[0], 2)}
    legs = {}
    for n in (20_000, 200_000):
        edges = _edges(spark, n).repartition(2 * CPUS).persist()
        n_edges = edges.count()

        # oriented wedge count — the actual join input size
        und = (edges.selectExpr("least(src, dst) AS a",
                                "greatest(src, dst) AS b")
               .filter("a <> b").distinct())
        deg = (und.selectExpr("a AS node")
               .unionAll(und.selectExpr("b AS node"))
               .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
        nd = und.join(deg.withColumnRenamed("node", "a")
                      .withColumnRenamed("deg", "da"), "a") \
                .join(deg.withColumnRenamed("node", "b")
                      .withColumnRenamed("deg", "db"), "b")
        outdeg = (nd.selectExpr(
            "CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END"
            " AS u")
            .groupBy("u").agg(F.count(F.lit(1)).alias("d")))
        wedge_rows = int(outdeg.selectExpr(
            "sum(d * (d - 1) / 2)").collect()[0][0])
        max_outdeg = int(outdeg.agg(F.max("d")).collect()[0][0])

        samples, total = [], None
        for _ in range(ATTEMPTS):
            t0 = time.time()
            total = int(triangle_counts(edges)
                        .agg(F.sum("n_triangles")).collect()[0][0])
            samples.append(round(time.time() - t0, 3))
        legs[f"N={n}"] = {
            "n_edges": n_edges,
            "oriented_wedges": wedge_rows,
            "max_oriented_outdeg": max_outdeg,
            "naive_hub_wedges": n * (n - 1) // 2,
            "triangle_memberships_sum": total,
            "expected_memberships": (n // 5) * 20 * 3,
            "wall_sec": min(samples), "samples": samples,
        }
        edges.unpersist()
    lo, hi = legs["N=20000"], legs["N=200000"]
    out.update(legs)
    out["wedge_ratio_at_10x"] = round(
        hi["oriented_wedges"] / lo["oriented_wedges"], 2)
    out["naive_hub_wedge_ratio_at_10x"] = round(
        hi["naive_hub_wedges"] / lo["naive_hub_wedges"], 1)
    out["wall_ratio_at_10x"] = round(hi["wall_sec"] / lo["wall_sec"], 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
