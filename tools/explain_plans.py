"""Print the physical plans PERF.md cites — column pruning through the
grammar UDF, filter pushdown, hash-id linking as a projection and the
salted dense-id linking join.

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import functions as F

    from rdf_rdfxml_spark.operators.extract import extract, triples_channel
    from rdf_rdfxml_spark.operators.linking import (
        build_term_dictionary, detect_hot_keys, encode_triples,
    )
    from rdf_rdfxml_spark.plans.pipeline import default_session

    spark = default_session(app="explain",
                            master=f"local[{len(os.sched_getaffinity(0))}]",
                            shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    print("=" * 72)
    print("1. column pruning through the extraction UDF")
    print("=" * 72)
    extract(docs.selectExpr("text AS content")).explain("formatted")

    print("=" * 72)
    print("2. filter pushdown on the documents scan")
    print("=" * 72)
    docs.filter("lang = 'en'").select("doc_id").explain("formatted")

    triples = triples_channel(
        extract(docs.selectExpr("text AS content"))).localCheckpoint()

    print("=" * 72)
    print("3. entity linking — hash ids: a projection of xxhash64 term "
          "keys (no join, no dictionary stage)")
    print("=" * 72)
    encode_triples(triples, build_term_dictionary(triples)) \
        .explain("formatted")

    print("=" * 72)
    print("4. entity linking — dense ids, salted shuffle path (caller "
          "hot_keys; auto-broadcast disabled to show the at-scale plan)")
    print("=" * 72)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    dense = build_term_dictionary(triples, dense_ids=True).localCheckpoint()
    encode_triples(triples, dense, hot_keys=detect_hot_keys(triples)) \
        .explain("formatted")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

    from rdf_rdfxml_spark.operators.ann import (
        dedup_embedding_bucketed, load_embeddings,
    )
    from rdf_rdfxml_spark.operators.sketch import minhash_candidates

    print("=" * 72)
    print("5. minhash LSH — signatures in one mapInArrow stage; the only "
          "exchange is the banded equi-join on (band_id, band_hash)")
    print("=" * 72)
    minhash_candidates(docs.select("doc_id", "text")).explain("formatted")

    print("=" * 72)
    print("6. bucketed embedding dedup — distinct candidate ids, explicit "
          "re-spread (AQE byte-coalescing countermeasure), broadcast unit "
          "vectors: the pair join moves no arrays")
    print("=" * 72)
    dedup_embedding_bucketed(load_embeddings(spark, sf_dir)) \
        .explain("formatted")

    from rdf_rdfxml_spark.operators.graph import salted_join
    from rdf_rdfxml_spark.writer.serialize import write_rdfxml

    print("=" * 72)
    print("7. grouped writer fast path (round 5) — NO Exchange anywhere: "
          "scan → parse mapInArrow → render mapInArrow, one fused stage "
          "(vs the repartition+sort the generic path needs)")
    print("=" * 72)
    t5 = triples_channel(extract(docs.selectExpr(
        "text AS content"))).select(
        "doc_sha", "s", "s_kind", "p", "o", "o_kind", "o_lang", "o_dt")
    write_rdfxml(t5, grouped=True).explain("formatted")

    print("=" * 72)
    print("8. salted self-join (round 5) — build side exploded only for "
          "hot keys (CASE-guarded array), probe salt from xxhash64 of "
          "the whole row; join keys (mid, _salt)")
    print("=" * 72)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    hop1 = triples.selectExpr("s AS doc", "o AS mid")
    hop2 = triples.selectExpr("s AS mid", "o AS origin")
    salted_join(hop1, hop2, "mid", hot_keys=["hub"]).explain("formatted")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    print("=" * 72)
    print("9. image near-dup (round 6) — decode+dHash in ONE mapInArrow "
          "stage (zero shuffle before the sketch), then the Hamming-LSH "
          "band equi-join on (band_id, band_value): the only exchange "
          "moves fixed-width (media_id, band, hash) rows, never pixels")
    print("=" * 72)
    from rdf_rdfxml_spark.operators.multimodal import (
        image_neardup_candidates, synth_neardup_media,
    )
    image_neardup_candidates(
        synth_neardup_media(spark, 48)).explain("formatted")

    print("=" * 72)
    print("10. int8 within-cell prefilter (round 6) — the pair score is "
          "a per-cell FlatMapGroupsInPandas (numpy int8 matmul); only "
          "surviving id-pairs reach the float recheck join against the "
          "BROADCAST unit-vector table — no array ever shuffles")
    print("=" * 72)
    from rdf_rdfxml_spark.operators.ann import (
        _dedup_from_assign, ivf_assign,
    )
    emb = load_embeddings(spark, sf_dir)
    _dedup_from_assign(emb, ivf_assign(emb, n_cells=8, nprobe=4),
                       0.4).explain("formatted")

    print("=" * 72)
    print("11. capped Hamming-LSH band join (round 7) — the mega-bucket "
          "guard adds ONE aggregate on the already-shuffled band rows + "
          "a LeftSemi prune before the self-join; no new exchange of "
          "signatures, and a degenerate bucket never reaches the join")
    print("=" * 72)
    image_neardup_candidates(
        synth_neardup_media(spark, 48), max_bucket=100) \
        .explain("formatted")

    print("=" * 72)
    print("12. video near-dup (round 7) — frame split + per-frame dHash "
          "+ bit-majority signature in ONE mapInArrow stage (pixels "
          "never shuffle); downstream is the same capped band join")
    print("=" * 72)
    from rdf_rdfxml_spark.operators.multimodal import (
        synth_neardup_video, video_neardup_candidates,
    )
    video_neardup_candidates(
        synth_neardup_video(spark, 24)).explain("formatted")

    print("=" * 72)
    print("13. eval-set decontamination (round 7) — pruned (id, text) "
          "scans, n-gram GENERATOR explode inside codegen, eval side "
          "BroadcastExchange, partial-agg countDistinct: the only "
          "shuffle carries (doc_id, gram-count) partials, never raw "
          "n-gram strings from the corpus side")
    print("=" * 72)
    from rdf_rdfxml_spark.operators.decontam import decontaminate
    dd = docs.select("doc_id", "text")
    decontaminate(dd, dd.filter("doc_id % 10 = 3"), n=8) \
        .explain("formatted")

    print("=" * 72)
    print("14. token packing (round 7) — two-level prefix scan: the "
          "only SinglePartition window is over the per-bucket sums "
          "(n_docs/bucket_size rows); the corpus window is partitioned "
          "by bucket and the bucket offsets come back via "
          "BroadcastExchange")
    print("=" * 72)
    from rdf_rdfxml_spark.operators.packing import pack_token_chunks
    pack_token_chunks(docs.select("doc_id", "text"),
                      context_len=512, bucket_size=64) \
        .explain("formatted")

    print("=" * 72)
    print("15. duplicated-span stats (round 7) — winnowing anchors in "
          "ONE mapInArrow over the pruned (doc_id, text) scan; the "
          "dup-fp set is a partial-agg countDistinct; the probe is a "
          "LEFT SEMI join (each position row matches at most once — no "
          "pair explosion); island merge + stats are per-doc windows "
          "(PARTITION BY doc_id, never SinglePartition)")
    print("=" * 72)
    from rdf_rdfxml_spark.operators.spans import dup_span_stats
    dup_span_stats(docs.select("doc_id", "text")).explain("formatted")

    print("=" * 72)
    print("16. BPE pair counting (round 7) — the per-iteration hot "
          "stage: adjacent pairs via codegen transform/explode over "
          "the cached vocab table, hash-agg with map-side partial sum; "
          "only (left, right, count) rows shuffle, never word text; "
          "the global top-1 is TakeOrderedAndProject (per-partition "
          "top-1 + single-row final), not a full sort")
    print("=" * 72)
    from rdf_rdfxml_spark.operators.bpe import _pairs, word_freqs, _chars_col
    words = (word_freqs(docs.select("doc_id", "text"))
             .select("word", "freq", _chars_col().alias("syms")))
    from pyspark.sql import functions as F2
    _pairs(words).orderBy(F2.desc("pair_count"), F2.asc("lft"),
                          F2.asc("rgt")).limit(1).explain("formatted")

    print("=" * 72)
    print("17. triangle counting (round 7) — degree-ordered orientation: "
          "wedge join + both-direction closing probe, all hash "
          "equi-joins on narrow (node, node) rows; no window, no UDF; "
          "the skew proof (perf_data/triangle_skew_r7.json) pins the "
          "wedge input linear under a full-degree hub")
    print("=" * 72)
    from rdf_rdfxml_spark.operators.graph import triangle_counts
    ids = spark.range(200).selectExpr("concat('d', id) AS src",
                                      "concat('d', (id * 7 + 1) % 200) "
                                      "AS dst")
    triangle_counts(ids).explain("formatted")

    print("=" * 72)
    print("18. bigram-LM scoring (round 7) — codegen bigram transform "
          "(no raw-text shuffle), two partial-agg training passes, one "
          "equi-join probe where hot bigrams are single build rows; "
          "all-BIGINT ppm arithmetic")
    print("=" * 72)
    from rdf_rdfxml_spark.operators.lm import bigram_lm_scores
    bigram_lm_scores(docs.select("doc_id", "text")).explain("formatted")

    print("=" * 72)
    print("19. PQ ADC top-k (round 7) — broadcast model-sized codebook "
          "and ADC tables, long-format integer assignments, per-query "
          "rank window over narrow rows; integer-exact end to end")
    print("=" * 72)
    from rdf_rdfxml_spark.operators.ann import ann_pq_topk, load_embeddings
    ann_pq_topk(load_embeddings(spark, sf_dir)).explain("formatted")

    print("=" * 72)
    print("20. line-frequency boilerplate dedup (round 7) — posexplode "
          "lines (narrow), TWO partial-agg stages for the distinct-doc "
          "frequency (the corpus-wide footer hot key collapses to one "
          "row per map task), broadcast/AQE anti-join against the "
          "bounded blocklist (set-membership — no pair term), per-doc "
          "reassembly window state bounded by one document")
    print("=" * 72)
    from rdf_rdfxml_spark.operators.lines import line_dedup
    lined = docs.selectExpr(
        "doc_id", "concat('H\\n', text, '\\nF') AS text")
    line_dedup(lined).explain("formatted")

    print("=" * 72)
    print("21. per-source quota cap (round 7) — two-phase salted "
          "top-k-per-key: phase-1 window over (stratum, salt) spreads "
          "the hot domain across n_salts tasks, phase-2 window sees "
          "<= n_salts x quota rows per stratum; plan must show BOTH "
          "exchanges over narrow (id, stratum, u) rows only")
    print("=" * 72)
    from rdf_rdfxml_spark.operators.sampling import source_quota
    source_quota(docs.selectExpr("doc_id", "source"), 10) \
        .explain("formatted")

    print("=" * 72)
    print("22. HyperLogLog register build (round 7) — the textbook "
          "mergeable-sketch plan: codegen gram explode + hash, "
          "partial-agg groupBy(bucket).max(rho) so each map task ships "
          "at most m=1024 rows; the ONLY exchange is the m-row state, "
          "never grams; no distinct pass anywhere")
    print("=" * 72)
    from rdf_rdfxml_spark.operators.distinct_sketch import hll_state
    hll_state(docs.select("doc_id", "text")).explain("formatted")

    print("=" * 72)
    print("23. grouped histogram quantiles (round 7) — per-stratum "
          "value histogram partial-aggregates to <= |universe| rows "
          "per (stratum, map task); the cumulative and total windows "
          "run keyed by stratum over the AGGREGATED table (no "
          "SinglePartition anywhere); q thresholds broadcast")
    print("=" * 72)
    from rdf_rdfxml_spark.operators.quantiles import grouped_quantiles
    grouped_quantiles(
        docs, "size(filter(split(text, ' '), t -> t <> ''))",
        qs=(25, 50, 95)).explain("formatted")

    print("=" * 72)
    print("24. mixture-plan execution (round 7) — the stratum-sized "
          "cut table is BROADCAST into one narrow corpus "
          "projection+filter; the only corpus-wide work is "
          "mix_plan's own partial-agg pass")
    print("=" * 72)
    from rdf_rdfxml_spark.operators.sampling import mix_execute
    mix_execute(docs, token_budget=100_000).explain("formatted")

    print("=" * 72)
    print("25. BFS one expansion round (round 7, iterative — plan of "
          "a single frontier step): left-semi frontier probe into the "
          "persisted adjacency + distinct + anti-join visited, all "
          "narrow (node) rows; rounds are localCheckpoint-separated "
          "so lineage never grows")
    print("=" * 72)
    from pyspark.sql import functions as F3
    adjx = docs.selectExpr("concat('n', doc_id DIV 2) AS u",
                           "concat('n', doc_id) AS w")
    frontier = docs.limit(5).selectExpr("concat('n', doc_id) AS u")
    visited = frontier.selectExpr("u AS node")
    (adjx.join(frontier, "u", "left_semi")
     .selectExpr("w AS node").distinct()
     .join(visited, "node", "left_anti")
     .withColumn("depth", F3.lit(1).cast("long"))).explain("formatted")
    spark.stop()


if __name__ == "__main__":
    main()


# --- round 3 ----------------------------------------------------------------
# lsh_bucket_topk (fixed round-2 "what's wrong" #1): plan must show ZERO
# hash-exchange of embedding arrays before the bucket join — planes are
# driver-collected (model-sized) and all sign bits compute in one narrow
# projection; the query side is broadcast. Expected exchanges:
#   - BroadcastExchange (1-row plane table)
#   - BroadcastExchange (query side)
#   - Exchange hashpartitioning(query_id) — the top-k window over narrow
#     (query_id, neighbor_id, sim) rows ONLY
#   - RoundRobin spreads from load_embeddings (intentional input spread)
# Check with:
#   from rdf_rdfxml_spark.operators.ann import load_embeddings, lsh_bucket_topk
#   lsh_bucket_topk(load_embeddings(spark, sf_dir)).explain("formatted")
