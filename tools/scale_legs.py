"""Scale legs: each group measures one operator family on a corpus that
grows by an integer scale factor, with the same plans at every scale, and
reports per op the min, the median and every sample plus the wall ratio
of each scale to the first. Each group also declares the invariant its
protocol keeps (what must scale by k, stay fixed or hold at every
scale); the runner checks it after the last scale, and a broken
invariant makes the run exit non-zero naming the group, field and scale:
a wall ratio from a leg whose work does not scale explains nothing.

Usage: SPARK_GRAFT_SF_DIR=DIR python tools/scale_legs.py GROUP...
           [--scales lo,hi[,...]]

  GROUP     one or more names from GROUPS below; each runs at its own
            default scales unless ``--scales`` is given (then every named
            group runs at those).
  --scales  comma-separated, strictly increasing integer scale factors.

Env: SPARK_GRAFT_SF_DIR (required: a scale-factor directory holding
documents.parquet, embeddings.parquet and events.parquet),
SPARK_GRAFT_BENCH_N (timed attempts per op, default 3). The session is
local[<CPUs this process may run on>]; pin the process with ``taskset``
to measure fewer cores. The streaming state groups run up to 30·scale
micro-batches in the one Spark driver; give large legs driver heap at
launch (``PYSPARK_SUBMIT_ARGS="--driver-memory 8g pyspark-shell"``).

Corpora grow by one of three replication protocols:

* rotation (``rotated_documents``): replica r rotates the alphabet by r
  (``translate``), a bijection, so near-dup structure within a replica
  is exactly preserved and replicas share almost no shingles (sf0.01:
  minhash pairs 25 at 1x, 270 at 10x).
* signed permutation (``signed_permuted``): replica r maps every vector
  by one orthogonal map seeded by r, a permutation of the dimensions
  plus sign flips, so every within-replica cosine is exactly preserved.
  The sf embeddings are i.i.d., so across replicas cosines are as
  random as within one: pairs above a fixed threshold grow like the
  number of vector pairs (k²), and no map that keeps the dimensions can
  avoid that (for isotropic vectors the mean squared cross-replica
  cosine is 1/d under any orthogonal map). Near-dup twins (``recall``)
  are made per replica, so there are 50·k positives.
* copymark (``copymark_documents``): copy k offsets the id by k·10^9 and
  appends the token ``copymark<k>`` to the text, so texts stay distinct
  while sharing nearly all n-grams — the adversarial case for
  decontamination, span and line dedup.

Scale 1 is the table itself under every protocol. The two streaming
state groups (``sessionize_state``, ``neardup_state``) replicate into
disjoint keys and disjoint event-time windows, so the stream is k times
as long at the same instantaneous rate, and share one driver
(``stream_state``): the leg is written as ts-ordered files, their count
proportional to scale so every micro-batch spans the same event time
(state expires at batch boundaries; a fixed file count measures the
batching, not the operator), then streamed one file per micro-batch
under ``availableNow`` with a fresh checkpoint and output per timed
attempt; every batch's ``stateOperators`` metrics are read, none
dropped. Prints one JSON line and one ``[scale]`` stderr line per op.
Timings are only comparable within one run on a quiet host.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import string
import sys
import tempfile
import time
from dataclasses import dataclass
from functools import reduce
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import _bench_docs  # noqa: E402
from rdf_rdfxml_spark.operators import (  # noqa: E402
    ann, bpe, curation, decontam, distinct_sketch, graph, lines, lm,
    multimodal, packing, quantiles, sampling, sketch, spans,
)
from rdf_rdfxml_spark.operators.extract import extract  # noqa: E402
from rdf_rdfxml_spark.operators.metrics import skew_ratio  # noqa: E402
from rdf_rdfxml_spark.plans.pipeline import (  # noqa: E402
    construct_graph, default_session,
)
from rdf_rdfxml_spark.streaming import sessionize, stream  # noqa: E402


# ---------------------------------------------------------------- runner --

def cpus() -> int:
    return len(os.sched_getaffinity(0))


def summarize(samples: list[float]) -> dict:
    return {"min_s": min(samples),
            "median_s": round(statistics.median(samples), 3),
            "samples": list(samples)}


def parse_scales(text: str) -> tuple[int, ...]:
    try:
        scales = tuple(int(x) for x in text.split(","))
    except ValueError:
        raise argparse.ArgumentTypeError(
            f"scales must be comma-separated integers, got {text!r}")
    if len(scales) < 2 or scales[0] < 1 or any(
            a >= b for a, b in zip(scales, scales[1:])):
        raise argparse.ArgumentTypeError(
            f"scales must be at least two strictly increasing integers "
            f">= 1, got {text!r}")
    return scales


def wall_ratios(legs: dict, scales, ops) -> dict:
    """min wall at each scale after the first / min wall at the first."""
    lo = legs[f"{scales[0]}x"]
    return {f"{s}x": {op: round(legs[f"{s}x"][op]["min_s"]
                                / lo[op]["min_s"], 2) for op in ops}
            for s in scales[1:]}


class Leg:
    """One (group, scale) leg as the ops see it: the corpus frames, the
    scale, one timed call per op and untimed setup shared by the ops."""

    def __init__(self, frames: dict, scale: int, attempts: int):
        self.frames, self.scale = frames, scale
        self._attempts = attempts
        self._memo: dict = {}
        self.samples: list[float] | None = None

    def time(self, fn):
        """Run ``fn`` ``attempts`` times, record the walls and return the
        last result."""
        if self.samples is not None:
            raise RuntimeError("an op times exactly one callable")
        self.samples = []
        for _ in range(self._attempts):
            t0 = time.perf_counter()
            val = fn()
            self.samples.append(round(time.perf_counter() - t0, 3))
        return val

    def once(self, key: str, fn):
        if key not in self._memo:
            self._memo[key] = fn()
        return self._memo[key]


@dataclass(frozen=True)
class Op:
    name: str
    run: Callable[[Leg], dict]


@dataclass(frozen=True)
class Group:
    name: str
    scales: tuple[int, ...]
    corpus: Callable      # (spark, sf_dir, scale, spread) -> {name: frame}
    ops: tuple[Op, ...]
    # results at all scales -> [(field, scale, why)] violations
    invariant: Callable[[dict], list]
    persist: bool = True  # persist + count every frame for the leg


class Broken(RuntimeError):
    """A group broke its invariant; ``out`` holds its results."""

    def __init__(self, out: dict, violations: list[str]):
        super().__init__("; ".join(violations))
        self.out = out


def _field(leg: dict, path: str):
    """``op.field`` of one leg's results, or a corpus count ``n_<frame>``."""
    op, _, field = path.partition(".")
    return leg[op][field] if field else leg[op]


def keeps(*checks):
    """Invariant from ``(field, ok, rule)`` checks: ``ok(v, first, k)``
    must hold at every scale for the field's value ``v`` there, its value
    ``first`` at the first scale and the scale ratio ``k``."""
    def violations(out: dict) -> list:
        s0 = out["scales"][0]
        bad = []
        for path, ok, rule in checks:
            first = _field(out[f"{s0}x"], path)
            for s in out["scales"]:
                v = _field(out[f"{s}x"], path)
                if not ok(v, first, s / s0):
                    got = "" if isinstance(v, dict) else f"{v!r} "
                    bad.append((path, s, f"{got}breaks '{rule}'"))
        return bad
    return violations


def linear(path: str, tol: float = 0.0):
    """``path`` scales by k, within ``tol`` of k × its first value."""
    return (path, lambda v, first, k: abs(v - k * first) <= tol * k * first,
            f"k × first ± {tol:.0%}")


def fixed(path: str):
    return (path, lambda v, first, k: v == first, "same at every scale")


def holds(path: str, ok, rule: str):
    """``ok(v)`` at every scale."""
    return (path, lambda v, first, k: ok(v), rule)


def run_group(spark, group: Group, scales, sf_dir: str,
              attempts: int) -> dict:
    spread = 2 * spark.sparkContext.defaultParallelism
    out: dict = {"scales": list(scales)}
    for scale in scales:
        frames = group.corpus(spark, sf_dir, scale, spread)
        fields: dict = {}
        if group.persist:
            for name, df in frames.items():
                fields[f"n_{name}"] = df.persist().count()
        leg = Leg(frames, scale, attempts)
        for op in group.ops:
            leg.samples = None
            result = op.run(leg)
            if leg.samples is None:
                raise RuntimeError(f"{group.name}.{op.name} timed nothing")
            fields[op.name] = {**result, **summarize(leg.samples)}
        if group.persist:
            for df in frames.values():
                df.unpersist()
        out[f"{scale}x"] = fields
    ops = [op.name for op in group.ops]
    out["wall_ratios"] = wall_ratios(out, scales, ops)
    for s, ratios in out["wall_ratios"].items():
        for op in ops:
            print(f"[scale] {group.name}.{op}: {scales[0]}x "
                  f"min={out[f'{scales[0]}x'][op]['min_s']}s -> {s} "
                  f"min={out[s][op]['min_s']}s ({ratios[op]}x)",
                  file=sys.stderr)
    bad = [f"{group.name}.{path} at {s}x: {why}"
           for path, s, why in group.invariant(out)]
    if bad:
        raise Broken(out, bad)
    return out


# --------------------------------------------------------------- corpora --

def _copies(base, scale: int, copy):
    if scale == 1:
        return base
    return reduce(lambda a, b: a.unionByName(b),
                  [copy(base, k) for k in range(scale)])


def rotated_documents(spark, sf_dir: str, scale: int):
    az = string.ascii_lowercase
    return _copies(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text"), scale,
        lambda b, r: b.selectExpr(
            f"doc_id + {r} * 10000000 AS doc_id",
            f"translate(text, '{az}', '{az[r:] + az[:r]}') AS text"))


def _embeddings(spark, sf_dir: str):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")


def signed_permuted(base, scale: int):
    """Replica r maps every vector by one orthogonal map seeded by r: the
    dimensions in xxhash64(r, i) order, each sign-flipped when
    xxhash64(r, i, 1) is odd."""
    return _copies(base, scale, lambda b, r: b.selectExpr(
        f"vec_id + {r} * 10000000 AS vec_id",
        "v" if r == 0 else
        "transform(array_sort(transform(sequence(0, size(v) - 1), "
        f"i -> named_struct('h', xxhash64({r}, i), 'i', i))), "
        f"x -> IF((xxhash64({r}, x.i, 1) & 1) = 0, v[x.i], -v[x.i])) "
        "AS v"))


def copymark_documents(spark, sf_dir: str, scale: int):
    return _copies(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang", "text"), scale,
        lambda b, k: b.select(
            (F.col("doc_id") + F.lit(k * 1_000_000_000)).alias("doc_id"),
            "lang", F.concat(F.col("text"),
                             F.lit(f" copymark{k}")).alias("text")))


def _lined(docs):
    """Every document framed by a per-language header and a shared
    footer: the boilerplate that line dedup removes. Every copy shares
    them, so the document-frequency hot key carries n_docs weight."""
    return docs.select(
        "doc_id",
        F.concat(F.lit("NAV "), F.col("lang"),
                 F.lit(" home about contact\n\n"), F.col("text"),
                 F.lit("\nPowered by ExampleCMS\nCOPYRIGHT "),
                 F.col("lang")).alias("text"))


def shifted_events(spark, sf_dir: str, scale: int):
    """Replica r: user ids + 10,000·r, timestamps + 31·r days — disjoint
    keys in disjoint windows, the same concurrency as the table. Every
    replica, the first too, casts ``ts`` to TIMESTAMP: a watermark needs
    it."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return reduce(lambda a, b: a.unionByName(b), [ev.selectExpr(
        f"user_id + {10000 * r} AS user_id",
        f"CAST(ts + make_interval(0,0,0,{31 * r},0,0,0) AS TIMESTAMP) AS ts",
        "value") for r in range(scale)])


HORIZON_S = 3600


def ingested_documents(spark, sf_dir: str, scale: int):
    """Rotated documents arriving one per 21 s, replica r 32·r hours
    later (disjoint buckets in disjoint windows), plus every 5th
    document re-ingested 2 min later under a new id: the in-horizon
    duplicate the near-dup flags exist for."""
    d = rotated_documents(spark, sf_dir, scale)
    t = ("1700000000 + (doc_id DIV 10000000) * 115200"
         " + (doc_id % 10000000) * 21")
    return d.selectExpr("doc_id", "text",
                        f"CAST({t} AS TIMESTAMP) AS ingested_at").unionByName(
        d.filter("doc_id % 5 = 0").selectExpr(
            "doc_id + 1000000 AS doc_id", "text",
            f"CAST({t} + 120 AS TIMESTAMP) AS ingested_at"))


def _hub_cliques(spark, n: int):
    """n nodes in 5-cliques plus one hub linked to every node: the
    celebrity-entity shape. After (degree, id) orientation every node's
    out-degree is at most 5, so oriented wedges are 4 per node, while the
    naive hub wedge count is C(n, 2)."""
    ids = spark.range(n).select(F.col("id").alias("i"))
    clique = ids.selectExpr(
        "concat('d', i) AS src",
        "explode(filter(transform(sequence(1, 4), x -> i - (i % 5) + "
        f"(i % 5 + x) % 5), j -> j > i AND j < {n})) AS jj") \
        .selectExpr("src", "concat('d', jj) AS dst")
    return clique.unionByName(
        ids.selectExpr("'h' AS src", "concat('d', i) AS dst"))


# ------------------------------------------------------------------- ops --

def counted(field: str, plan, frame: str = "docs"):
    """Op: time ``plan(frame).count()``; the count is ``field``."""
    def run(leg):
        df = leg.frames[frame]
        return {field: leg.time(lambda: plan(df).count())}
    return run


def summed(plan, frame: str = "docs", **fields: str):
    """Op: time one aggregate row over ``plan(frame)``; each keyword maps
    a result field to its aggregate SQL expression."""
    def run(leg):
        df = leg.frames[frame]
        row = leg.time(lambda: plan(df).agg(
            *[F.expr(e) for e in fields.values()]).collect()[0])
        return {k: int(v) for k, v in zip(fields, row)}
    return run


def _kg(leg):
    docs = leg.frames["docs"]
    n = leg.time(lambda: construct_graph(
        docs, strict=True, repartition=None).triples.count())
    return {"triples": n, "triples_per_sec": round(n / min(leg.samples)),
            "skew": round(skew_ratio(extract(docs)), 3)}


def _components(leg):
    """Also records propagation rounds (the graph diameter), so wall =
    rounds × per-round join cost is separable."""
    d, stats = leg.frames["docs"], {}
    nodes = leg.time(lambda: graph.connected_components(
        sketch.minhash_candidates(d), stats=stats).count())
    return {"nodes": nodes, "rounds": stats.get("rounds")}


def _containment(leg):
    """Also records the fingerprint buckets: the join fan-out
    Σ c·(c-1)/2 over buckets of at most 200 docs next to the output."""
    d = leg.frames["docs"]
    pairs = leg.time(lambda: sketch.containment_pairs(d).count())
    b = (sketch.winnow_fingerprints(d).groupBy("fp").count()
         .selectExpr("count(*) AS n_fps", "max(count) AS max_bucket",
                     "sum(CASE WHEN count > 200 THEN 1 ELSE 0 END) "
                     "AS n_capped",
                     "sum(CASE WHEN count <= 200 THEN "
                     "count * (count - 1) / 2 ELSE 0 END) AS cand_pairs")
         .first())
    return {"pairs": pairs, "fps": b["n_fps"], "max_bucket": b["max_bucket"],
            "capped_fps": int(b["n_capped"]),
            "cand_pairs": int(b["cand_pairs"])}


def _centroids(leg):
    """Trained IVF cells, k ∝ N (8 per scale): the dedup regime keeps the
    cell size constant. Untimed; shared by the ops of the leg."""
    return leg.once("centroids", lambda: ann.kmeans_cells(
        leg.frames["vectors"], k=8 * leg.scale, iters=2)[1])


def _ivf_dedup(leg):
    """Also records the cosine work: Σ C(m, 2) over the probed cells
    (``nprobe=4``, the op's default), the per-cell all-pairs the dedup
    evaluates."""
    e, c = leg.frames["vectors"], _centroids(leg)
    pairs = leg.time(lambda: ann.dedup_embedding_bucketed(
        e, centroids=c, n_cells=len(c)).count())
    work = (ann.ivf_assign(e, centroids=c, nprobe=4).groupBy("cell_id")
            .count().selectExpr("sum(count * (count - 1) DIV 2)").first())
    return {"pairs": pairs, "cells": 8 * leg.scale, "cell_pairs": work[0]}


def _true_pairs(leg) -> set:
    """Brute-force cosine >= 0.7 pairs in numpy (chunked row blocks)."""
    def compute():
        rows = leg.frames["vectors"].collect()
        ids = np.array([r["vec_id"] for r in rows])
        v = np.array([r["v"] for r in rows])
        vn = v / np.linalg.norm(v, axis=1, keepdims=True)
        truth = set()
        for i0 in range(0, len(ids), 4000):
            sim = vn[i0:i0 + 4000] @ vn.T
            for a, b in zip(*np.nonzero(sim >= 0.7)):
                ga, gb = int(ids[i0 + a]), int(ids[b])
                if ga < gb:
                    truth.add((ga, gb))
        return truth
    return leg.once("truth", compute)


def _scored(leg, rows) -> dict:
    got = {(r["a"], r["b"]) for r in rows}
    truth = _true_pairs(leg)
    return {"recall": round(len(got & truth) / max(1, len(truth)), 4),
            "precision": round(len(got & truth) / max(1, len(got)), 4)}


def _prod_dedup(leg):
    """Flat trained-IVF dedup at the production threshold 0.7."""
    e, c = leg.frames["vectors"], _centroids(leg)
    rows = leg.time(lambda: ann.dedup_embedding_bucketed(
        e, centroids=c, threshold=0.7).collect())
    return {"cells": 8 * leg.scale, "true_pairs": len(_true_pairs(leg)),
            **_scored(leg, rows)}


def _prod_dedup_twolevel(leg):
    """The same through the trained coarse quantizer (driver-side Lloyd's
    over the centroid table, untimed: it is model-sized)."""
    e, c = leg.frames["vectors"], _centroids(leg)
    q = ann.train_coarse_quantizer(c)
    rows = leg.time(lambda: ann.dedup_embedding_twolevel(
        e, c, threshold=0.7, coarse_centroids=q).collect())
    return _scored(leg, rows)


def _decontaminate(d):
    dd = d.select("doc_id", "text")
    return decontam.decontaminate(dd, dd.filter("doc_id % 10 = 3"), n=8)


def _hll_state(leg):
    """The sketch path alone: register build plus the m-row collect."""
    d = leg.frames["docs"]
    return {"nonzero_buckets": leg.time(
        lambda: len(distinct_sketch.hll_state(d).collect()))}


def _kcore_edges(docs, *, hub: bool):
    """The gated 3-tier cascade graph over the doc ids: 5-cliques survive,
    the chain and both tiers peel in rounds 1-3 at every scale. ``hub``
    adds one node attached to every clique node."""
    d = docs.select("doc_id")
    cl = (d.alias("x").join(
        d.alias("y"),
        F.expr("x.doc_id DIV 5 = y.doc_id DIV 5 AND x.doc_id < y.doc_id"))
        .selectExpr("concat('k', x.doc_id) AS src",
                    "concat('k', y.doc_id) AS dst"))
    ch = d.selectExpr("concat('c', doc_id) AS src",
                      "concat('c', doc_id + 1) AS dst")
    t1 = d.selectExpr("concat('t1_', doc_id DIV 3) AS src",
                      "concat('c', doc_id) AS dst")
    t2 = d.selectExpr("concat('t2_', doc_id DIV 9) AS src",
                      "concat('t1_', doc_id DIV 3) AS dst")
    anchor = (d.filter("doc_id % 9 = 0")
              .selectExpr("concat('t2_', doc_id DIV 9) AS src",
                          "concat('k', doc_id) AS dst"))
    e = cl.unionByName(ch).unionByName(t1).unionByName(t2) \
        .unionByName(anchor)
    if hub:
        e = e.unionByName(
            d.selectExpr("'HUB' AS src", "concat('k', doc_id) AS dst"))
    return e


def _ccnet(docs):
    """Line dedup → bigram LM on the cleaned text → NTILE terciles."""
    cleaned = lines.line_dedup(_lined(docs), min_df=10)
    scores = lm.bigram_lm_scores(
        cleaned.select("doc_id", F.col("clean_text").alias("text")))
    w = Window.orderBy(F.desc("mean_bigram_ppm"), F.asc("doc_id"))
    b = scores.withColumn("bucket", F.ntile(3).over(w).cast("long"))
    return (b.join(cleaned.select("doc_id", "clean_chars"), "doc_id")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("clean_chars").alias("clean_chars")))


def _bfs_edges(docs):
    """One binary tree per copy on the copy-local doc index (copy = id DIV
    1e9, local = id % 1e9), every copy's root joined to one root R: depth
    stays ~10 at every scale while the frontier widens."""
    d = docs.select("doc_id")
    tree = d.filter("doc_id % 1000000000 >= 1").selectExpr(
        "concat('c', doc_id DIV 1000000000, '_', "
        "(doc_id % 1000000000) DIV 2) AS src",
        "concat('c', doc_id DIV 1000000000, '_', "
        "doc_id % 1000000000) AS dst")
    roots = (d.filter("doc_id % 1000000000 = 0")
             .selectExpr("'R' AS src",
                         "concat('c', doc_id DIV 1000000000, '_0') AS dst"))
    return tree.unionByName(roots)


_MODALITIES = {   # name: (items, bases) at scale 1, so cluster size is 3;
    # then (synth, candidates, signatures, hash column, bits)
    "image": ((48, 16), multimodal.synth_neardup_media,
              multimodal.image_neardup_candidates, multimodal.image_dhash,
              "dhash", multimodal.DHASH_BITS),
    "audio": ((36, 12), multimodal.synth_neardup_audio,
              multimodal.audio_neardup_candidates,
              multimodal.audio_fingerprints, "afp", 48),
    "video": ((24, 8), multimodal.synth_neardup_video,
              multimodal.video_neardup_candidates,
              multimodal.video_signatures, "vhash", multimodal.DHASH_BITS),
}
BAND_CAP = 100    # the production max_bucket


def _modality_op(name: str):
    """Timed candidate count, then the band-bucket structure under the
    production cap: the largest bucket, the buckets dropped before the
    join and the exact join fan-out Σ C(m, 2) over the kept buckets."""
    _, _, cand, sig, col, bits = _MODALITIES[name]

    def run(leg):
        media = leg.frames[name]
        pairs = leg.time(lambda: cand(media).count())
        stats = multimodal.hamming_band_bucket_stats(
            sig(media).filter(f"{col} IS NOT NULL"), col, bits, n_bands=4,
            max_bucket=BAND_CAP).collect()
        kept = [r["n_items"] for r in stats if not r["dropped"]]
        return {"n_pairs": pairs, "n_band_buckets": len(stats),
                "max_bucket": max(r["n_items"] for r in stats),
                "dropped_buckets": len(stats) - len(kept),
                "join_fanout_pairs": sum(m * (m - 1) // 2 for m in kept)}
    return run


def _triangles(leg):
    """Timed triangle count, then the oriented wedge rows (the join
    input) and the largest oriented out-degree, next to the naive hub
    wedge count they replace and the closed form: 20 triangles per
    5-clique with the hub, 3 memberships each."""
    e, n = leg.frames["edges"], 20_000 * leg.scale
    total = leg.time(lambda: int(graph.triangle_counts(e).agg(
        F.sum("n_triangles")).collect()[0][0]))
    und = (e.selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
           .filter("a <> b").distinct())
    deg = (und.selectExpr("a AS node").unionAll(und.selectExpr("b AS node"))
           .groupBy("node").count())
    w = (und.join(deg.selectExpr("node AS a", "count AS da"), "a")
         .join(deg.selectExpr("node AS b", "count AS db"), "b")
         .selectExpr("CASE WHEN da < db OR (da = db AND a < b) THEN a "
                     "ELSE b END AS u")
         .groupBy("u").count()
         .selectExpr("sum(count * (count - 1) DIV 2) AS wedges",
                     "max(count) AS outdeg").first())
    return {"oriented_wedges": int(w["wedges"]),
            "max_oriented_outdeg": int(w["outdeg"]),
            "naive_hub_wedges": n * (n - 1) // 2,
            "triangle_memberships_sum": total,
            "expected_memberships": (n // 5) * 20 * 3}


def _ts_files(df, ts: str, n: int, path: str):
    """``df`` as ``n`` files in ``ts`` order, one append each: split at
    the ``ntile(n)`` bounds of ``ts``, written in order so file mtimes
    follow event time (a file stream lists new files by mtime)."""
    bounds = (df.selectExpr(f"ntile({n}) OVER (ORDER BY {ts}) AS b", ts)
              .groupBy("b").agg(F.max(ts).alias("hi"))
              .orderBy("b").collect())
    lo = None
    for row in bounds:
        part = df.filter(F.col(ts) <= row["hi"])
        if lo is not None:
            part = part.filter(F.col(ts) > lo)
        part.coalesce(1).write.mode("append").parquet(path)
        lo = row["hi"]
        time.sleep(0.05)  # distinct mtimes


def stream_state(frame: str, ts: str, files: int, query, check):
    """Op over a stateful streaming operator, the one driver of the state
    groups: ``frame`` goes out as ``files``·scale ts-ordered files and
    streams one file per micro-batch under ``availableNow`` through
    ``query``; each timed attempt writes a fresh checkpoint and output.
    Returns every batch's state metrics and ``check(frame, output)``."""
    def run(leg):
        df = leg.frames[frame]
        spark = df.sparkSession
        n = files * leg.scale
        # the progress buffer (100 by default) must hold every batch: n
        # data batches and the no-data batches that fire timeouts
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
                       str(2 * n + 2))
        with tempfile.TemporaryDirectory(prefix="scale_legs_") as tmp:
            _ts_files(df, ts, n, f"{tmp}/in")
            runs: list = []

            def attempt():
                out = f"{tmp}/out{len(runs)}"
                q = (query(spark.readStream.schema(df.schema)
                           .option("maxFilesPerTrigger", 1)
                           .parquet(f"{tmp}/in"))
                     .writeStream.format("parquet").option("path", out)
                     .option("checkpointLocation", f"{tmp}/ckpt{len(runs)}")
                     .trigger(availableNow=True).start())
                runs.append(out)
                q.awaitTermination()
                return q.recentProgress

            progress = leg.time(attempt)
            batches = [{"batch": p["batchId"],
                        "rows_in": p["numInputRows"],
                        "state_rows": op["numRowsTotal"],
                        "updated": op["numRowsUpdated"],
                        "removed": op["numRowsRemoved"]}
                       for p in progress for op in p["stateOperators"]]
            if [b["batch"] for b in batches] != list(range(len(batches))):
                raise RuntimeError("streaming progress lost a batch")
            result = check(df, spark.read.parquet(runs[-1]))
        return {"n_batches": len(batches),
                "peak_state_rows": max(b["state_rows"] for b in batches),
                "final_state_rows": batches[-1]["state_rows"],
                "state_removed_total": sum(b["removed"] for b in batches),
                **result, "batches": batches}
    return run


def _sessions(events, out):
    """Emitted sessions, the batch sessionizer's count on the same
    events and the users."""
    batch = sessionize.sessionize_batch(events.selectExpr(
        "user_id", "ts", "value", "CAST(0 AS LONG) AS event_id")).count()
    return {"n_users": events.select("user_id").distinct().count(),
            "emitted_sessions": out.count(), "batch_sessions": batch}


def _epoch_flags(docs, out):
    """The stream's flags against the batch epoch rule: per band bucket
    in (ts, doc_id) order, an arrival more than the horizon after the
    previous one opens an epoch, and every row of an epoch but its first
    document is flagged with ``dup_of`` = that document."""
    b = sketch.minhash_bands(docs, passthrough="ingested_at").selectExpr(
        "doc_id", "band_id", "band_hash",
        "CAST(unix_timestamp(ingested_at) AS LONG) AS ts")
    w = Window.partitionBy("band_id", "band_hash").orderBy("ts", "doc_id")
    e = (b.withColumn("prev_ts", F.lag("ts").over(w))
         .withColumn("brk", F.expr(
             f"CASE WHEN prev_ts IS NULL OR ts > prev_ts + {HORIZON_S} "
             "THEN 1 ELSE 0 END"))
         .withColumn("epoch", F.sum("brk").over(
             w.rowsBetween(Window.unboundedPreceding, 0))))
    want = (e.withColumn("first_doc", F.expr(
        "min_by(doc_id, struct(ts, doc_id))").over(
        Window.partitionBy("band_id", "band_hash", "epoch")))
        .filter("doc_id != first_doc")
        .selectExpr("doc_id", "band_id", "first_doc AS dup_of"))
    got = out.select("doc_id", "band_id", "dup_of").distinct()
    return {"flags": got.count(),
            "flags_match_batch_rule": got.subtract(want).isEmpty()
            and want.subtract(got).isEmpty()}


# ----------------------------------------------------------------- table --

def _spread(documents):
    """Corpus ``{"docs": documents(...)}`` over 2×cores partitions."""
    return lambda spark, sf_dir, scale, spread: {
        "docs": documents(spark, sf_dir, scale).repartition(spread)}


def _vectors(twins: bool):
    def corpus(spark, sf_dir, scale, spread):
        e = _embeddings(spark, sf_dir)
        e = ann.with_neardup_twins(e) if twins else e
        return {"vectors": signed_permuted(e, scale).repartition(spread)}
    return corpus


def _lm_pq_corpus(spark, sf_dir, scale, spread):
    return {"docs": copymark_documents(spark, sf_dir, scale)
            .repartition(spread),
            "vectors": signed_permuted(_embeddings(spark, sf_dir), scale)
            .repartition(spread)}


def _media(spark, sf_dir, scale, spread):
    return {name: synth(spark, n * scale, nb * scale).repartition(spread)
            for name, ((n, nb), synth, *_) in _MODALITIES.items()}


PAIRS = 0.25     # tolerance for data-dependent pair counts


def _conserved(r) -> bool:
    return r["emitted_sessions"] + r["final_state_rows"] == \
        r["batch_sessions"]


STATE = (       # the state groups' clauses besides their own
    holds("state.state_removed_total", lambda v: v > 0,
          "timeouts remove state"),
    ("state.peak_state_rows", lambda v, first, k: v < 2 * first,
     "peak state < 2 × first: it tracks the horizon, not the keys"))

GROUPS = (
    # kg_construct over 40·scale bench replicas; the corpus is not
    # persisted, so every sample derives the XML and parses it
    Group("flagship", (1, 10),
          lambda spark, sf_dir, scale, spread:
          {"docs": _bench_docs(spark, sf_dir, 40 * scale)},
          (Op("kg", _kg),), keeps(linear("kg.triples")), persist=False),
    Group("text_dedup", (1, 10), _spread(rotated_documents), (
        Op("minhash", counted("pairs", sketch.minhash_candidates)),
        Op("verify", counted("pairs", lambda d: sketch.verify_candidates(
            d, sketch.minhash_candidates(d)))),
        Op("components", _components), Op("containment", _containment),
        Op("simhash", counted("rows", sketch.simhash)),
        Op("winnow", counted("fps", sketch.winnow_fingerprints)),
        Op("tfidf", counted("rows", curation.tfidf_keywords))),
        keeps(linear("n_docs"), linear("simhash.rows"),
              linear("tfidf.rows"), linear("winnow.fps", 0.1),
              linear("minhash.pairs", PAIRS), linear("verify.pairs", PAIRS),
              linear("components.nodes", PAIRS),
              linear("containment.pairs", PAIRS),
              linear("containment.cand_pairs", PAIRS))),
    # output pairs grow like k² on i.i.d. vectors (module docstring); the
    # cosine work over cells of constant size grows like k
    Group("ivf_dedup", (1, 10), _vectors(twins=False),
          (Op("ivf_dedup", _ivf_dedup),),
          keeps(linear("n_vectors"), linear("ivf_dedup.cell_pairs", PAIRS))),
    # recall and precision against numpy brute force, flat vs two-level
    Group("recall", (1, 10), _vectors(twins=True), (
        Op("prod_dedup", _prod_dedup),
        Op("prod_dedup_twolevel", _prod_dedup_twolevel)),
        keeps(linear("n_vectors"), linear("prod_dedup.true_pairs"))),
    Group("corpus_ops", (1, 10),
          lambda spark, sf_dir, scale, spread:
          {"docs": copymark_documents(spark, sf_dir, scale)}, (
        Op("decontaminate", counted("n_flagged", _decontaminate)),
        Op("pack", counted("n_rows", lambda d: packing.pack_token_chunks(
            d.select("doc_id", "text"), context_len=512, bucket_size=64))),
        Op("manifest", counted("n_chunks", lambda d: packing.chunk_manifest(
            d.select("doc_id", "text"), context_len=512, bucket_size=64))),
        Op("mix_plan", counted("n_strata", lambda d: sampling.mix_plan(
            d.select("lang", "text"), stratum_col="lang")))),
        keeps(linear("n_docs"), linear("decontaminate.n_flagged"),
              linear("pack.n_rows"), linear("manifest.n_chunks", 0.1),
              fixed("mix_plan.n_strata"))),
    # spans at full duplication: every fingerprint of a copy is shared;
    # BPE makes one corpus pass, then vocabulary-sized merges
    Group("span_bpe", (10, 100), _spread(
        lambda spark, sf_dir, scale: copymark_documents(
            spark, sf_dir, scale).select("doc_id", "text")), (
        Op("dup_span_stats", summed(spans.dup_span_stats,
                                    dup_chars="sum(dup_chars)",
                                    n_spans="sum(n_spans)")),
        Op("dup_span_removal", summed(spans.dup_span_removal,
                                      clean_chars="sum(clean_chars)")),
        Op("bpe_train", counted("n_merges", lambda d: bpe.bpe_train_merges(
            d, n_merges=10)))),
        keeps(linear("n_docs"), fixed("bpe_train.n_merges"))),
    Group("lm_pq_lines", (10, 100), _lm_pq_corpus, (
        Op("bigram_lm_scores", summed(lm.bigram_lm_scores,
                                      ppm_sum="sum(mean_bigram_ppm)",
                                      n_bigrams="sum(n_bigrams)")),
        Op("line_dedup", summed(
            lambda d: lines.line_dedup(_lined(d), min_df=10),
            clean_chars="sum(clean_chars)", n_removed="sum(n_removed)")),
        Op("source_quota", summed(
            lambda d: sampling.source_quota(d, 100, stratum_col="lang"),
            n_kept="count(1)", rank_sum="sum(rank)")),
        Op("hll_state", _hll_state),
        Op("ann_pq_topk", summed(ann.ann_pq_topk, "vectors",
                                 adc_sum="sum(adc_l2sq)",
                                 n_rows="count(1)"))),
        keeps(linear("n_docs"), linear("n_vectors"),
              linear("bigram_lm_scores.n_bigrams", 0.05),
              linear("line_dedup.n_removed"),
              linear("line_dedup.clean_chars", 0.05),
              fixed("hll_state.nonzero_buckets"), fixed("ann_pq_topk.n_rows"),
              # top-k distances shrink only like N^(-2/d) on i.i.d.
              # vectors; a steep fall means the neighbours are copies
              ("ann_pq_topk.adc_sum", lambda v, first, k: v >= 0.75 * first,
               "adc_sum >= 0.75 × first"))),
    Group("kcore_ccnet", (10, 100), _spread(copymark_documents), (
        Op("kcore", summed(
            lambda d: graph.kcore(_kcore_edges(d, hub=False), 4),
            core_nodes="count(1)", deg_sum="sum(core_deg)")),
        Op("kcore_hub", summed(
            lambda d: graph.kcore(_kcore_edges(d, hub=True), 4),
            core_nodes="count(1)", deg_sum="sum(core_deg)")),
        Op("ccnet_stats", summed(_ccnet, n_docs="sum(n_docs)",
                                 clean_chars="sum(clean_chars)")),
        Op("token_quantiles", summed(
            lambda d: quantiles.exact_quantiles(
                d, "size(filter(split(text, ' '), t -> t <> ''))"),
            value_sum="sum(value)", n="min(n)")),
        Op("bfs_depths", summed(
            lambda d: graph.bfs_depths(_bfs_edges(d), "R"),
            n_reached="count(1)", max_depth="max(depth)"))),
        keeps(linear("n_docs"), linear("kcore.core_nodes"),
              linear("kcore.deg_sum"), linear("kcore_hub.deg_sum"),
              linear("kcore_hub.core_nodes", 0.01),
              linear("ccnet_stats.n_docs"),
              linear("ccnet_stats.clean_chars", 0.05),
              linear("token_quantiles.n"),
              linear("bfs_depths.n_reached", 0.01),
              fixed("bfs_depths.max_depth"))),
    # scale multiplies the bases, so cluster size stays 3
    Group("modality_neardup", (1, 10), _media,
          tuple(Op(m, _modality_op(m)) for m in _MODALITIES),
          keeps(*[c for m in _MODALITIES for c in (
              linear(f"n_{m}"), linear(f"{m}.n_pairs", 0.1))])),
    # 5-cliques + a full-degree hub over 20,000·scale nodes
    Group("triangle", (1, 10),
          lambda spark, sf_dir, scale, spread:
          {"edges": _hub_cliques(spark, 20_000 * scale).repartition(spread)},
          (Op("triangles", _triangles),),
          keeps(linear("n_edges"), linear("triangles.oriented_wedges"),
                fixed("triangles.max_oriented_outdeg"),
                holds("triangles", lambda r: r["triangle_memberships_sum"]
                      == r["expected_memberships"], "the closed form"))),
    # sessionize_stream over disjoint users in disjoint 31-day windows
    Group("sessionize_state", (1, 10), lambda spark, sf_dir, scale, spread:
          {"events": shifted_events(spark, sf_dir, scale)},
          (Op("state", stream_state("events", "ts", 30,
                                    sessionize.sessionize_stream,
                                    _sessions)),),
          keeps(linear("n_events"), linear("state.n_users"), *STATE,
                holds("state", _conserved,
                      "emitted + open sessions = batch sessions"))),
    # stream_neardup_flags over rotated replicas in disjoint 32 h windows
    Group("neardup_state", (1, 10), lambda spark, sf_dir, scale, spread:
          {"docs": ingested_documents(spark, sf_dir, scale)},
          (Op("state", stream_state(
              "docs", "ingested_at", 10,
              lambda s: stream.stream_neardup_flags(
                  s, horizon_seconds=HORIZON_S),
              _epoch_flags)),),
          keeps(linear("n_docs"), linear("state.flags", PAIRS), *STATE,
                holds("state.flags_match_batch_rule", bool,
                      "flags = the batch epoch rule"))),
)
BY_NAME = {g.name: g for g in GROUPS}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(
        description="Run scale legs (see the module docstring).")
    ap.add_argument("groups", nargs="+", choices=list(BY_NAME),
                    metavar="GROUP", help=", ".join(BY_NAME))
    ap.add_argument("--scales", type=parse_scales, default=None,
                    help="lo,hi[,...] for every named group "
                         "(default: each group's own)")
    return ap.parse_args(argv)


def main(argv=None):
    args = parse_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        sys.exit("scale_legs.py: set SPARK_GRAFT_SF_DIR to a scale-factor "
                 "directory")
    attempts = int(os.environ.get("SPARK_GRAFT_BENCH_N", "3"))
    if attempts < 1:
        sys.exit("scale_legs.py: SPARK_GRAFT_BENCH_N must be >= 1")
    n = cpus()
    spark = default_session(app="scale-legs", master=f"local[{n}]",
                            shuffle_partitions=max(2 * n, 8))
    spark.sparkContext.setLogLevel("ERROR")
    loadavg = round(os.getloadavg()[0], 2)
    # warm-up: executors, Python workers and the grammar's imports
    spark.range(1000).selectExpr("sum(id)").collect()
    construct_graph(_bench_docs(spark, sf_dir, 1), strict=True,
                    repartition=None).triples.count()

    out = {"sf": sf_dir.rstrip("/").split("sf")[-1], "cpus": n,
           "attempts": attempts, "groups": {}}
    broken = []
    for name in args.groups:
        g = BY_NAME[name]
        try:
            out["groups"][name] = run_group(
                spark, g, args.scales or g.scales, sf_dir, attempts)
        except Broken as e:
            out["groups"][name] = e.out
            broken.append(str(e))
    out["loadavg"] = [loadavg, round(os.getloadavg()[0], 2)]
    print(json.dumps(out))
    spark.stop()
    if broken:
        sys.exit("scale_legs.py: invariant broken: " + "; ".join(broken))


if __name__ == "__main__":
    main()
