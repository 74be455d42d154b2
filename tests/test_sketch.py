"""MinHash-LSH / SimHash sketch operators (operators/sketch.py).

Beyond the driver-gate oracle (hash-exact vs DuckDB), these tests check the
*statistical* contract: LSH candidate recall against brute-force jaccard
ground truth, SimHash hamming-distance separation of near-dups vs random
pairs, determinism, and the short-text guard.
"""

from __future__ import annotations

import hashlib

import pyarrow.parquet as pq
import pytest

from rdf_rdfxml_spark.operators.sketch import (
    minhash_bands, minhash_candidates, minhash_params, simhash,
)

SF_DIR = "/root/testdata/sf0.001"


def _docs_pylist():
    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    return list(zip(t.column("doc_id").to_pylist(),
                    t.column("text").to_pylist()))


def _shingles(text: str, k: int = 5) -> set:
    return {text[i:i + k] for i in range(len(text) - k + 1)}


def _ground_truth_pairs(threshold: float = 0.9):
    docs = _docs_pylist()
    sh = {d: _shingles(t) for d, t in docs if len(t) >= 5}
    ids = sorted(sh)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sh[a] & sh[b])
            if inter and inter / (len(sh[a]) + len(sh[b]) - inter) >= threshold:
                out.add((a, b))
    return out


def _docs_df(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_minhash_lsh_recall_on_near_dups(spark):
    truth = _ground_truth_pairs(0.9)
    assert len(truth) >= 10  # corpus sanity: near-dups exist
    cands = {(r["a"], r["b"])
             for r in minhash_candidates(_docs_df(spark)).collect()}
    recall = len(truth & cands) / len(truth)
    # 8 bands × 8 rows: per-pair miss prob at j=0.9 is (1-0.9^8)^8 ≈ 1.1%
    assert recall >= 0.9, f"LSH recall {recall:.3f} on {len(truth)} pairs"


def test_minhash_lsh_precision_shape(spark):
    """The banded join must not drown in background pairs (j ≈ 0.2 is the
    corpus's bulk) — that's the at-scale property the r=8 setting buys."""
    n_docs = _docs_df(spark).count()
    n_cands = minhash_candidates(_docs_df(spark)).count()
    assert n_cands < 5 * n_docs  # candidates ≈ near-dups, not ≈ n²


def test_minhash_deterministic_and_guarded(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "abc"),        # shorter than the shingle width → no bands
         (3, None)],        # null text → no bands
        "doc_id long, text string")
    rows = sorted(map(tuple, minhash_bands(docs).collect()))
    rows2 = sorted(map(tuple, minhash_bands(docs).collect()))
    assert rows == rows2
    assert {r[0] for r in rows} == {1}
    assert len(rows) == 8  # n_bands


def test_minhash_params_portable_bounds():
    a, b = minhash_params(64)
    assert len(a) == len(b) == 64
    assert all(x % 2 == 1 and 0 < x < 2 ** 30 for x in a)
    assert all(0 <= x < 4294967311 for x in b)
    # worst-case product must stay exact in int64/BIGINT
    assert max(a) * (2 ** 32 - 1) + max(b) < 2 ** 63


def _simhash_py(text: str, bits: int = 48) -> int:
    votes = [0] * bits
    for w in text.split(" "):
        if not w:
            continue
        h = int(hashlib.md5(w.encode()).hexdigest()[:bits // 4], 16)
        for i in range(bits):
            votes[i] += 1 if (h >> i) & 1 else -1
    return sum(1 << i for i in range(bits) if votes[i] > 0)


def test_simhash_matches_reference_impl(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, "one  two"), (3, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert got == {1: _simhash_py("alpha beta gamma alpha"),
                   2: _simhash_py("one  two")}  # empty text → no row


def test_simhash_separates_near_dups(spark):
    truth = _ground_truth_pairs(0.9)
    sims = {r["doc_id"]: r["simhash"]
            for r in simhash(_docs_df(spark)).collect()}
    ids = sorted(sims)
    near = [bin(sims[a] ^ sims[b]).count("1") for a, b in truth]
    far = [bin(sims[ids[i]] ^ sims[ids[i + 137]]).count("1")
           for i in range(0, len(ids) - 137, 7)]
    assert sum(near) / len(near) < 10
    assert sum(far) / len(far) > 14


@pytest.mark.parametrize("n_hashes,n_bands", [(64, 8), (32, 4)])
def test_minhash_band_count(spark, n_hashes, n_bands):
    docs = spark.createDataFrame([(7, "abcdefghij klmnop qrstuv")],
                                 "doc_id long, text string")
    rows = minhash_bands(docs, n_hashes=n_hashes, n_bands=n_bands).collect()
    assert sorted(r["band_id"] for r in rows) == list(range(n_bands))


def test_winnowing_containment_guarantee(spark):
    """Winnowing's defining property: any shared substring of length
    >= k + w - 1 contributes at least one shared fingerprint."""
    from rdf_rdfxml_spark.operators.sketch import winnow_fingerprints
    shared = "zqxjvkwpfy_shared_run_zqxjvkwpfy"   # 32 chars >= 8+4-1
    docs = spark.createDataFrame(
        [(1, "aaaa " + shared + " bbbb"),
         (2, "cccc dddd " + shared),
         (3, "totally unrelated content here with no overlap at all")],
        "doc_id long, text string")
    fps = {}
    for r in winnow_fingerprints(docs).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2]            # shared substring → shared fp
    assert not (fps[1] & fps[2] & fps[3])
    # short / null texts produce no fingerprints
    tiny = spark.createDataFrame([(9, "abcdefghij"[:10]), (10, None)],
                                 "doc_id long, text string")
    got = winnow_fingerprints(tiny, k=8, window=4).collect()
    assert got == []


def test_langid_trigram_separates_languages(spark):
    from rdf_rdfxml_spark.operators.textlang import langid_trigram
    docs = spark.createDataFrame(
        [(1, "the cat and the dog are in the garden of the house"),
         (2, "der hund und die katze sind in dem schönen garten"),
         (3, "le chat et le chien sont dans le jardin de la maison"),
         (4, "el perro y el gato están en el jardín de la casa")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["predicted"] for r in langid_trigram(docs).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es"}


def test_langid_trigram_deterministic_tiebreak(spark):
    from rdf_rdfxml_spark.operators.textlang import langid_trigram
    docs = spark.createDataFrame([(1, "xqz")], "doc_id long, text string")
    r, = langid_trigram(docs).collect()
    assert r["predicted"] == "de"  # all scores 0 → lexicographically first
    assert all(r[f"{lang}_score"] == 0 for lang in ("en", "de", "fr", "es"))


def test_minhash_max_bucket_guard(spark):
    """Mass-duplicated boilerplate must not quadratically blow up the band
    join when the cap is on: the mega-bucket is excluded (its members are
    exact duplicates that dedup_exact collapses), genuine near-dup pairs
    elsewhere survive."""
    from rdf_rdfxml_spark.operators.sketch import minhash_candidates
    boiler = "this exact boilerplate paragraph appears everywhere " * 3
    near_a = ("a genuinely distinctive document about knowledge graph "
              "construction with spark catalyst plans and arrow batches "
              "plus salted joins and adaptive execution for the win")
    near_b = near_a.replace("catalyst", "catalist")  # jaccard ≈ 0.95
    rows = [(i, boiler) for i in range(20)]
    rows += [(100, near_a), (101, near_b)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {(r["a"], r["b"])
              for r in minhash_candidates(docs, max_bucket=5).collect()}
    assert (100, 101) in capped                   # real near-dups survive
    assert not any(a < 20 and b < 20 for a, b in capped)  # mega-bucket cut
    uncapped = minhash_candidates(docs).count()
    assert uncapped >= 190 + 1                    # 20*19/2 pairs without cap


def test_connected_components_chain_and_islands(spark):
    """Hash-min propagation must close a chain (worst case: diameter
    iterations) and keep islands separate."""
    from rdf_rdfxml_spark.operators.graph import (
        component_stats, connected_components,
    )
    # chain 1-2-3-4-5-6 plus island {10,11}, plus a triangle {20,21,22}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
         (10, 11), (20, 21), (21, 22), (20, 22)],
        "a long, b long")
    cc = {r["node"]: r["component"]
          for r in connected_components(edges).collect()}
    assert all(cc[n] == 1 for n in (1, 2, 3, 4, 5, 6))
    assert cc[10] == cc[11] == 10
    assert cc[20] == cc[21] == cc[22] == 20
    stats = {r["component"]: r["n_members"]
             for r in component_stats(edges).collect()}
    assert stats == {1: 6, 10: 2, 20: 3}


def test_connected_components_raises_on_nonconvergence(spark):
    from rdf_rdfxml_spark.operators.graph import connected_components
    chain = spark.createDataFrame([(i, i + 1) for i in range(6)],
                                  "a long, b long")
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(chain, max_iters=2)


def test_simhash_candidates_pigeonhole_guarantee(spark):
    """Hamming-LSH exactness: every pair within Hamming distance
    n_bands-1 MUST appear as a candidate (pigeonhole over bit bands) —
    verified against the exhaustive pair set of the test corpus."""
    from rdf_rdfxml_spark.operators.sketch import simhash, simhash_candidates
    docs = _docs_df(spark).select("doc_id", "text")
    sims = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    ids = sorted(sims)
    within3 = {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
               if bin(sims[a] ^ sims[b]).count("1") <= 3}
    cands = {(r["a"], r["b"]): r["hamming"]
             for r in simhash_candidates(docs).collect()}
    missing = within3 - set(cands)
    assert not missing, f"pigeonhole guarantee violated: {missing}"
    # hamming column is the true distance
    for (a, b), h in list(cands.items())[:50]:
        assert h == bin(sims[a] ^ sims[b]).count("1")


def _hashed_jaccard_truth(threshold: float = 0.7):
    """Exact jaccard over the 32-bit md5-prefix shingle-hash space — the
    space verify_candidates measures (and minhash estimates)."""
    docs = _docs_pylist()
    hs = {}
    for d, t in docs:
        if t is None or len(t) < 5:
            continue
        hs[d] = {int.from_bytes(hashlib.md5(s.encode()).digest()[:4], "big")
                 for s in _shingles(t)}
    ids = sorted(hs)
    out = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(hs[a] & hs[b])
            if inter:
                j = inter / (len(hs[a]) + len(hs[b]) - inter)
                if j >= threshold:
                    out[(a, b)] = j  # unrounded (Spark rounds HALF_UP,
                    # Python banker's — compare with half-ulp tolerance)
    return out


def test_verify_candidates_values_and_recall(spark):
    from rdf_rdfxml_spark.operators.sketch import verify_candidates
    truth = _hashed_jaccard_truth(0.7)
    assert truth  # corpus sanity: verified near-dups exist
    docs = _docs_df(spark).select("doc_id", "text")
    pairs = minhash_candidates(docs)
    cand = {(r["a"], r["b"]) for r in pairs.collect()}
    got = {(r["a"], r["b"]): r["jacc_r"]
           for r in verify_candidates(docs, pairs).collect()}
    # every verified pair is a candidate with the exact hashed-jaccard value
    for (a, b), j in got.items():
        assert (a, b) in cand
        raw = truth.get((a, b))
        assert raw is not None and abs(j - raw) <= 5.1e-5, \
            f"pair ({a},{b}): {j} != truth {raw}"
    # every candidate pair that truly clears the threshold is kept
    assert set(got) == {p for p in truth if p in cand}


def test_shingle_sets_sorted_distinct_and_guarded(spark):
    from rdf_rdfxml_spark.operators.sketch import shingle_sets
    df = spark.createDataFrame(
        [(1, "abcdefabcdef"), (2, "abcd"), (3, None)],
        "doc_id long, text string")
    rows = {r["doc_id"]: r["shingles"]
            for r in shingle_sets(df).collect()}
    assert set(rows) == {1}  # short + null texts produce no row
    s = rows[1]
    assert s == sorted(set(s))  # sorted, distinct
    want = {int.from_bytes(hashlib.md5(x.encode()).digest()[:4], "big")
            for x in _shingles("abcdefabcdef")}
    assert set(s) == want


def test_containment_catches_embedded_document(spark):
    """A small doc embedded verbatim inside a much larger one has LOW
    jaccard (shingle sets differ wildly in size) but containment ≈ 1.0 —
    the case this operator exists for."""
    from rdf_rdfxml_spark.operators.sketch import containment_pairs
    import hashlib as _h
    small = "the quick brown fox jumps over the lazy dog " * 4
    filler = " ".join(
        _h.sha256(f"w{i}".encode()).hexdigest()[:6] for i in range(400))
    big = filler[:900] + " " + small + " " + filler[900:]
    other = " ".join(
        _h.sha256(f"z{i}".encode()).hexdigest()[:6] for i in range(300))
    df = spark.createDataFrame(
        [(1, small), (2, big), (3, other)], "doc_id long, text string")
    rows = {(r["a"], r["b"]): r for r in containment_pairs(df).collect()}
    assert (1, 2) in rows, rows
    r = rows[(1, 2)]
    assert r["containment_a_r"] >= 0.9          # small ⊆ big
    assert r["containment_b_r"] <= 0.5          # big ⊄ small
    # jaccard over the same fingerprints would be below any dedup bar
    jacc = r["n_shared"] / (r["n_shared"] / r["containment_a_r"]
                            + r["n_shared"] / r["containment_b_r"]
                            - r["n_shared"])
    assert jacc < 0.35
    assert (1, 3) not in rows and (2, 3) not in rows


def test_pagerank_properties(spark):
    """Hand-checkable PageRank properties: a uniform ring keeps uniform
    ranks; a star concentrates rank on the hub; dangling sinks leak mass
    (the documented no-redistribution simplification)."""
    from rdf_rdfxml_spark.operators.graph import pagerank
    # ring: i -> (i+1) % 6 — perfectly symmetric, ranks stay 1/6
    ring = spark.createDataFrame(
        [(f"n{i}", f"n{(i + 1) % 6}") for i in range(6)],
        "src string, dst string")
    ranks = {r["node"]: r["rank"] for r in pagerank(ring).collect()}
    assert len(ranks) == 6
    assert all(abs(v - 1 / 6) < 1e-6 for v in ranks.values())
    assert abs(sum(ranks.values()) - 1.0) < 1e-6  # no dangling: sums to 1
    # star: everyone links to hub, hub links back to n1
    star = spark.createDataFrame(
        [(f"s{i}", "hub") for i in range(1, 6)] + [("hub", "s1")],
        "src string, dst string")
    sr = {r["node"]: r["rank"] for r in pagerank(star).collect()}
    assert sr["hub"] == max(sr.values())
    assert sr["s1"] > sr["s2"]           # hub's back-link boosts s1
    assert abs(sr["s2"] - sr["s5"]) < 1e-9  # symmetric leaves equal
    # dangling sink: a -> b, b has no out-edges → total mass < 1
    dangle = spark.createDataFrame([("a", "b")], "src string, dst string")
    dr = {r["node"]: r["rank"] for r in pagerank(dangle).collect()}
    assert dr["b"] > dr["a"]
    assert sum(dr.values()) < 1.0
    # determinism across runs
    again = {r["node"]: r["rank"] for r in pagerank(star).collect()}
    assert again == sr


def test_tfidf_keywords_semantics(spark):
    """Rational tf-idf (tf*N/df): a term unique to one doc outranks a
    corpus-wide term regardless of tf; deterministic tie-break."""
    from rdf_rdfxml_spark.operators.curation import tfidf_keywords
    df = spark.createDataFrame(
        [(1, "common common common unique1"),
         (2, "common zebra zebra"),
         (3, "common apple")],
        "doc_id long, text string")
    rows = {(r["doc_id"], r["rank"]): r
            for r in tfidf_keywords(df, k=2).collect()}
    # doc 1: unique1 df=1 → score 1*3/1=3 beats common tf=3 df=3 → 3*3/3=3
    # tie at 3.0 → term ASC picks 'common' first
    assert rows[(1, 1)]["term"] == "common"
    assert rows[(1, 2)]["term"] == "unique1"
    assert rows[(1, 1)]["score_r"] == rows[(1, 2)]["score_r"] == 3.0
    # doc 2: zebra tf=2 df=1 → 6.0 beats common 1.0
    assert rows[(2, 1)]["term"] == "zebra" and rows[(2, 1)]["score_r"] == 6.0
    assert rows[(3, 1)]["term"] == "apple" and rows[(3, 1)]["score_r"] == 3.0


def test_salted_join_value_identity(spark):
    """graph.salted_join must equal the plain equi-join for ANY hot set
    (detected, supplied, or empty) — salting only changes the physical
    distribution, never the result — on a 90%-hot-hub graph."""
    from rdf_rdfxml_spark.operators.graph import salted_join
    hop1 = spark.range(2000).selectExpr(
        "concat('d', id) AS doc",
        "CASE WHEN id % 10 < 9 THEN 'HUB' "
        "ELSE concat('m', id) END AS mid")
    hop2 = (hop1.select("mid").distinct()
            .selectExpr("mid", "concat('o-', mid) AS origin"))
    plain = {(r["doc"], r["origin"]) for r in
             hop1.join(hop2, "mid").select("doc", "origin").collect()}
    assert len(plain) == 2000
    for hot in (None, ["HUB"], []):
        got = {(r["doc"], r["origin"]) for r in
               salted_join(hop1, hop2, "mid", hot_keys=hot)
               .select("doc", "origin").collect()}
        assert got == plain, f"hot_keys={hot}"


def test_salted_join_rejects_outer_how():
    """Build-side hot-key replication breaks right/full outer
    semantics (each unmatched replica would null-extend separately), so
    salted_join must refuse those modes up front."""
    import pytest as _pytest
    from rdf_rdfxml_spark.operators.graph import salted_join
    for bad in ("right", "full", "outer", "full_outer", "right_outer",
                "left_anti", "cross"):
        with _pytest.raises(ValueError, match="salted_join supports"):
            salted_join(None, None, "k", how=bad, hot_keys=["x"])


def _ref_triangles(edge_list):
    """Brute-force per-node triangle counts over an undirected edge list
    (self-loops dropped, parallel/reversed edges collapsed)."""
    from itertools import combinations
    adj = {}
    for s, d in edge_list:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    counts = {n: 0 for n in adj}
    for a, b, c in combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                counts[n] += 1
    return counts


def test_triangle_counts_vs_brute_force(spark):
    from rdf_rdfxml_spark.operators.graph import triangle_counts
    # overlapping cliques + a hub star + noise: K4 on a-d, K3 on d-f,
    # hub h linked to everything, plus self-loop and reversed/parallel
    # duplicates that must collapse
    nodes = ["a", "b", "c", "d", "e", "f"]
    edges = [(x, y) for i, x in enumerate(nodes[:4])
             for y in nodes[i + 1:4]]
    edges += [("d", "e"), ("d", "f"), ("e", "f")]
    edges += [("h", n) for n in nodes]
    edges += [("a", "a"), ("b", "a"), ("a", "b")]  # hostile dupes
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == _ref_triangles(edges)
    # the hub participates in one triangle per underlying edge
    assert got["h"] == 9


def test_triangle_counts_triangle_free_graph(spark):
    from rdf_rdfxml_spark.operators.graph import triangle_counts
    # a path + a 4-cycle: zero triangles, every node still reported
    edges = [("p1", "p2"), ("p2", "p3"),
             ("c1", "c2"), ("c2", "c3"), ("c3", "c4"), ("c4", "c1")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert len(got) == 7 and set(got.values()) == {0}


# --- k-core --------------------------------------------------------------

def _ref_kcore(edge_list, k):
    """Brute-force synchronous peel: returns {node: core_deg}."""
    edges = {tuple(sorted(e)) for e in edge_list if e[0] != e[1]}
    while True:
        deg = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        drop = {n for n, d in deg.items() if d < k}
        if not drop:
            return deg
        edges = {e for e in edges if e[0] not in drop and e[1] not in drop}
        if not edges:
            return {}


def test_kcore_vs_brute_force(spark):
    from rdf_rdfxml_spark.operators.graph import kcore
    # pseudo-random multigraph with self-loops and duplicates
    el = [(f"n{(i * 13) % 23}", f"n{(i * 7 + 3) % 23}")
          for i in range(80)]
    df = spark.createDataFrame(el, "src string, dst string")
    for k in (2, 3, 4):
        got = {r["node"]: r["core_deg"]
               for r in kcore(df, k).collect()}
        assert got == _ref_kcore(el, k), f"k={k}"


def test_kcore_multi_round_cascade(spark):
    from rdf_rdfxml_spark.operators.graph import kcore
    # square core {a,b,c,d}; x supported only by 2 chain nodes that
    # peel first; y supported by x — a 3-round cascade at k=2
    el = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
          ("p", "x"), ("q", "x"), ("x", "y"), ("y", "a")]
    got = {r["node"]: r["core_deg"]
           for r in kcore(spark.createDataFrame(
               el, "src string, dst string"), 2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2, "d": 2}


def test_kcore_empty_when_no_core(spark):
    from rdf_rdfxml_spark.operators.graph import kcore
    el = [("a", "b"), ("b", "c")]
    df = spark.createDataFrame(el, "src string, dst string")
    assert kcore(df, 3).count() == 0


_CACHE_RESTART_SCRIPT = """
from pyspark.sql import SparkSession
from rdf_rdfxml_spark.operators import multimodal, sketch

def fill_caches_in_fresh_session():
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    sig = spark.createDataFrame([("a", 1), ("b", 3)],
                                "media_id string, h long")
    for _ in range(5):   # more calls than the cache depth: evictions run
        sketch._cache_reset_and_persist(spark.range(10)).count()
        multimodal._hamming_lsh_pairs(sig, "h", 8, n_bands=2,
                                      radius=1).count()
    spark.stop()

fill_caches_in_fresh_session()
fill_caches_in_fresh_session()
print("CACHED", len(sketch._SKETCH_CACHE), len(multimodal._SIG_CACHE))
"""


def test_bounded_caches_survive_session_restart():
    """The bounded persist caches (sketch's and multimodal's) evict their
    oldest handle on the next call; a handle left over from a stopped
    session must be dropped, not unpersisted (its context is gone and
    unpersist() raises). Runs in a subprocess because the shared test
    session must not be stopped."""
    import pathlib
    import subprocess
    import sys
    proc = subprocess.run([sys.executable, "-c", _CACHE_RESTART_SCRIPT],
                          capture_output=True, text=True, timeout=300,
                          cwd=pathlib.Path(__file__).resolve().parents[1])
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "CACHED 4 4" in proc.stdout
