"""Benchmark entry: the headline queries, and the N vs 4N scaling run.

Default run: the ``kg_construct`` flagship plus the headline queries at
$SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS] (default: every CPU this
process may run on). Prints ONE JSON line
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: min sec of this run's samples}, "sf": ..., ...}
and writes each query's min, median and samples to
perf_data/bench_last_run.json. Every number comes from this run alone.

``--scaling``: runs the KG-construction pipeline at local[N] and
local[4N], N = cpus // 4, each in its own process pinned to that many
CPUs, and reports throughput at both + efficiency
(= (rate_4N / rate_N) / 4) per the BASELINE.md sandbox protocol.

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_N (timed
runs per headline query, default 2), SPARK_GRAFT_BENCH_REPLICATE (corpus
copies for kg_construct, default 40).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HEADLINE = ["rdfxml_extract_basic", "rdfxml_reification",
            "rdfxml_error_channel", "rdfxml_write", "triples_dedup_global",
            "entity_linking", "entity_linking_salted", "dedup_exact",
            "minhash_lsh", "dedup_verified_pairs", "simhash",
            "ann_cosine_topk", "ann_lsh_bucketed",
            "dedup_embedding_bucketed", "text_quality", "events_windowed"]
MAX_LINE = 1800   # the driver keeps only the last ~2 kB of stdout


def build_headline(samples: dict[str, list[float]], *, total: float,
                   sf: str, cpus: int, kg_triples: int, write_rows: int,
                   kg_skew: float, loadavg: list[float]) -> tuple[str, dict]:
    """The stdout JSON line and the side-file record, from this run's
    per-query ``samples`` (seconds) and facts alone. Each ``queries`` value
    is the minimum of its samples; the side file adds the median and the
    samples themselves."""
    queries = {q: min(s) for q, s in samples.items()}
    kg_rate = kg_triples / queries["kg_construct"]
    head = {
        "metric": "total_bench_sec",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "kg_triples": kg_triples,
        "kg_triples_per_sec": round(kg_rate),
        "kg_skew_ratio_docs_per_partition": round(kg_skew, 3),
        "kg_docs_per_sec": round(kg_rate / 5),  # 5 triples/doc
        "write_docs_per_sec": round(write_rows / queries["rdfxml_write"]),
        "cpus": cpus,
        "loadavg": loadavg,
        "queries_sum_best_sec": round(sum(queries.values()), 3),
    }
    side = {**head, "query_stats": {
        q: {"min": queries[q], "median": round(statistics.median(s), 3),
            "samples": list(s)} for q, s in samples.items()}}
    line = json.dumps(head)
    if len(line) > MAX_LINE:
        # never fail the run over line length: the queries stay in the side
        # file, and the rest of the line still parses
        head = {k: v for k, v in head.items() if k != "queries"}
        head["truncated"] = "queries dropped; see perf_data/"
        line = json.dumps(head)
        print(f"[bench] headline exceeded {MAX_LINE} bytes; queries moved "
              f"to the side file", file=sys.stderr)
    return line, side


def scaling_levels(cpus: int) -> tuple[int, int]:
    """N and 4N for ``--scaling``: N = cpus // 4, so 4N is every CPU when
    ``cpus`` is a multiple of 4."""
    if cpus < 4:
        raise SystemExit(f"bench.py --scaling needs at least 4 CPUs "
                         f"(N = cpus // 4), got {cpus}")
    return cpus // 4, cpus // 4 * 4


def _mk_session(cpus: int):
    from rdf_rdfxml_spark.plans.pipeline import default_session
    return default_session(app="rdf-rdfxml-bench", master=f"local[{cpus}]",
                           shuffle_partitions=max(2 * cpus, 8))


def _bench_docs(spark, sf_dir: str, replicate: int):
    """Bench corpus: table-derived XML, replicated ``replicate``× with
    distinct IRIs/provenance (deterministic rewriting, FIXTURES.md §5)."""
    from pyspark.sql import functions as F
    from rdf_rdfxml_spark.sources import documents as D
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    reps = spark.range(replicate).select(F.col("id").alias("rep"))
    # Repartition the *small* base table before the fat XML column is
    # derived: only ~60 bytes/row shuffle instead of the built documents.
    cores = spark.sparkContext.defaultParallelism
    base = base.repartition(3 * cores)
    # rewrite doc_id per replica so IRIs and content differ
    return (base.crossJoin(reps)
            .selectExpr("doc_id + rep * 1000000 AS doc_id", "text", "lang",
                        "source", "n_chars")
            .selectExpr(
                f"({D.xml_basic_expr()}) AS content",
                "'http://example.org/' AS base_uri",
                "'bench' AS repo", "CAST(doc_id AS STRING) AS path",
                "'0' AS commit"))


def _run_kg(spark, sf_dir: str, replicate: int):
    from rdf_rdfxml_spark.plans.pipeline import construct_graph
    docs = _bench_docs(spark, sf_dir, replicate)
    # input already balanced upstream (cheap pre-derivation repartition)
    g = construct_graph(docs, strict=True, repartition=None)
    t0 = time.time()
    n_triples = g.triples.count()
    wall = time.time() - t0
    return wall, n_triples


def _report(name: str, samples: list[float]) -> None:
    print(f"[bench] {name}: min={min(samples)}s median="
          f"{round(statistics.median(samples), 3)}s samples={samples}",
          file=sys.stderr)


def _scaling(sf_dir: str, sf: str, cpus: int, replicate: int) -> dict:
    """Interleaved N/4N/N/4N child visits, best rate per level; every
    sample is reported next to it."""
    import subprocess
    levels = scaling_levels(cpus)
    out = {"protocol": "BASELINE.md two-parallelism scaling "
                       "(process-isolated, CPU-affinity-pinned, "
                       f"N={levels[0]} vs 4N={levels[1]} cores)",
           "sf": sf, "replicate": replicate * 3}
    rates, samples = {}, {}
    for n in levels * 2:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--scaling-run", str(n)],
            capture_output=True, text=True, timeout=1800,
            env=dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir,
                     SPARK_GRAFT_BENCH_REPLICATE=str(replicate)))
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        rate = res["triples"] / res["wall"]
        samples.setdefault(n, []).append(round(rate))
        if n not in rates or rate > rates[n]:
            rates[n] = rate
            out[f"local{n}_sec"] = round(res["wall"], 2)
            out[f"local{n}_triples_per_sec"] = round(rate)
        out["n_triples"] = res["triples"]
    out["samples_triples_per_sec"] = {str(k): v for k, v in samples.items()}
    out["scaling_efficiency"] = round(
        (rates[levels[1]] / rates[levels[0]]) / 4, 3)
    return out


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    sf = sf_dir.rstrip("/").split("sf")[-1]
    replicate = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICATE", "40"))

    if "--scaling-run" in sys.argv:
        # Child: one parallelism level in a fresh process whose whole tree
        # (this driver, the JVM it launches, every Python worker) is pinned
        # to exactly n CPUs before the JVM exists.
        n = int(sys.argv[sys.argv.index("--scaling-run") + 1])
        os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:n])
        spark = _mk_session(n)
        spark.sparkContext.setLogLevel("ERROR")
        _run_kg(spark, sf_dir, 2)  # warm-up (JIT, Python workers)
        # best-of-2 inside the child; the parent additionally interleaves
        # child visits per level
        wall = None
        for _ in range(2):
            w, n_triples = _run_kg(spark, sf_dir, replicate * 3)
            wall = w if wall is None else min(wall, w)
        print(json.dumps({"n": n, "wall": wall, "triples": n_triples}))
        spark.stop()
        return

    if "--scaling" in sys.argv:
        print(json.dumps(_scaling(sf_dir, sf, cpus, replicate)))
        return

    spark = _mk_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as E

    loadavg_start = round(os.getloadavg()[0], 2)
    # warm-up: spin executors + Python workers before timing
    spark.range(1000).selectExpr("sum(id)").collect()
    _run_kg(spark, sf_dir, 1)

    samples = {"kg_construct": []}
    t_all0 = time.time()
    for _ in range(3):
        wall, n_triples = _run_kg(spark, sf_dir, replicate)
        samples["kg_construct"].append(round(wall, 3))
    _report("kg_construct", samples["kg_construct"])

    # BASELINE.md protocol step 5: per-partition balance evidence — the
    # scaling gate depends on even task sizing, so record max/median
    # docs-per-partition for the measured corpus (one extra pass).
    from rdf_rdfxml_spark.operators.extract import extract
    from rdf_rdfxml_spark.operators.metrics import skew_ratio
    kg_skew = skew_ratio(extract(_bench_docs(spark, sf_dir, replicate)))

    qmap = {**E.queries(), **E.extra_queries()}  # simhash/write are extras
    attempts = int(os.environ.get("SPARK_GRAFT_BENCH_N", "2"))
    rows_of = {}
    for name in HEADLINE:
        samples[name] = []
        for _ in range(attempts):
            t0 = time.time()
            rows_of[name] = qmap[name](spark, sf_dir).count()
            samples[name].append(round(time.time() - t0, 3))
        _report(name, samples[name])

    total = round(time.time() - t_all0, 3)
    line, side = build_headline(
        samples, total=total, sf=sf, cpus=cpus, kg_triples=n_triples,
        write_rows=rows_of["rdfxml_write"], kg_skew=kg_skew,
        loadavg=[loadavg_start, round(os.getloadavg()[0], 2)])
    try:
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "perf_data", "bench_last_run.json")
        with open(path, "w") as fh:
            json.dump(side, fh, indent=1)
    except OSError as e:
        print(f"[bench] side-file write failed: {e}", file=sys.stderr)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
