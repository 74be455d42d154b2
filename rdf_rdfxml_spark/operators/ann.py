"""Approximate nearest-neighbor / embedding-dedup operators (training-data
pipeline; SURVEY.md §2.5 additions).

The round-1 verdict's scale-killer was ``a.crossJoin(b)`` all-pairs cosine
— O(n²) pairs, 10¹⁸ at 10⁹ vectors. The scale shape here is IVF bucketing:

1. **Cells**: ``n_cells`` data-derived centroids (the lowest ``vec_id``
   rows — deterministic, so the DuckDB oracle replicates them; a production
   run would k-means-train them, which only changes the centroid table).
2. **Multi-probe assignment**: every vector joins its ``nprobe`` nearest
   cells (broadcast centroid table — tiny; ranked by exact cosine with a
   deterministic ``(cos DESC, cell_id)`` tie-break).
3. **Bucketed work**: candidate pairs / top-k search happen *within* cells
   only — the n² all-pairs space shrinks to Σ|cell|², and cells are
   hash-partitionable.

Measured on the test corpora (tests/test_ann.py): 8 cells / 4-probe
reproduces the brute-force ≥0.4-cosine pair set exactly (recall 1.0 at
sf0.001 and sf0.01). At 100 TB the knobs move but the plan shape is
unchanged; the brute-force queries stay in the suite as oracle baselines
only. Cell sizing is REGIME-SPECIFIC (measured at 10×, BASELINE.md round-3
section): within-cell all-pairs dedup costs Σ|cell|² ≈ nprobe²·N²/k, so
``dedup_embedding_bucketed`` wants **k ∝ N** (constant expected cell
size — measured linear, 8.2× time for 10× data) while query-time top-k
search (``ann_ivf_topk``, cost queries×nprobe×|cell|) wants the classic
**k ≈ √N** (that heuristic applied to dedup measured N^1.5, 33.7×).

Expression-level note: dot products use ``aggregate(zip_with(...))`` —
JVM-side, whole-stage-codegen'd, no Python in the loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import arrowcols


def _cos(a: str, b: str) -> str:
    """SQL expression: cosine similarity of two array<double> columns."""
    dot = (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
           f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
    na = (f"sqrt(aggregate(transform({a}, x -> x * x), "
          f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))")
    nb = (f"sqrt(aggregate(transform({b}, x -> x * x), "
          f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))")
    return f"({dot}) / (({na}) * ({nb}))"


def load_embeddings(spark, sf_dir: str,
                    *, spread: bool | int = True) -> DataFrame:
    """Embeddings as array<double>. ``spread`` repartitions to the cluster
    width — the bench corpus is one small parquet file (one scan partition)
    and every downstream stage here is compute-bound; at 100 TB the scan is
    already partitioned and the caller can pass spread=False. An int
    ``spread`` sets the partition count directly (round 8: stages with
    light per-row work pay more in task dispatch than they gain past a
    few hundred rows per task — measured 0.80 s vs 1.05 s on the LSH
    top-k at 8 vs 64 partitions)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
    if spread is True:
        emb = emb.repartition(2 * spark.sparkContext.defaultParallelism)
    elif spread:
        emb = emb.repartition(int(spread))
    return emb


def with_neardup_twins(emb: DataFrame, *, n_twins: int = 50,
                       id_offset: int = 100000,
                       mix: float = 0.05) -> DataFrame:
    """Append deterministic near-duplicate twins: for the ``n_twins``
    lowest vec_ids, a twin ``id_offset`` away with vector
    ``(1-mix)·v_i + mix·v[0]`` elementwise (cosine ≈ 0.999 to its
    original). The synthetic corpus has NO pairs above cosine 0.7, so
    production-threshold dedup (0.7–0.9, the regime a real pipeline
    runs at) would be vacuously green without these; the same twins are
    SQL-expressible, so the driver oracle reproduces them bit-exactly
    (same IEEE multiply-add order both engines)."""
    lo, hi = 1.0 - mix, mix
    twins = emb.filter(f"vec_id < {n_twins}").selectExpr(
        f"vec_id + {id_offset} AS vec_id",
        f"transform(v, x -> CAST({lo} AS DOUBLE) * x"
        f" + CAST({hi} AS DOUBLE) * v[0]) AS v")
    return emb.unionByName(twins)


def neardup_twins_table_sql(*, n_twins: int = 50, id_offset: int = 100000,
                            mix: float = 0.05,
                            table: str = "embeddings") -> str:
    """DuckDB twin-corpus subquery (columns ``vec_id, embedding``) —
    pass as the ``table`` argument of the oracle builders."""
    lo, hi = 1.0 - mix, mix
    return f"""(SELECT vec_id, embedding FROM {table}
    UNION ALL
    SELECT vec_id + {id_offset},
           list_transform(embedding::DOUBLE[],
             x -> {lo}::DOUBLE * x + {hi}::DOUBLE * (embedding::DOUBLE[])[1])
    FROM {table} WHERE vec_id < {n_twins}) _twinned"""


def ivf_assign(emb: DataFrame, *, n_cells: int = 8,
               nprobe: int = 1, centroids: list | None = None) -> DataFrame:
    """(vec_id, v) → (vec_id, v, cell_id), one row per probed cell.

    Centroids are broadcast (a centroid table is model-sized, never
    data-sized — the same memory class whether held as a broadcast
    relation or, as here since round 8, a collected list feeding the
    single-projection assignment in :func:`_ivf_assign_expr`, which
    removed the rank window's Exchange entirely).

    ``centroids``: optional trained ``[(cell_id, vector), ...]`` list (e.g.
    from :func:`kmeans_cells`) — the production path, where cells track the
    data distribution instead of the lowest-``vec_id`` placeholder rows.
    """
    if centroids is not None:
        cent_list = [(int(c), [float(x) for x in v]) for c, v in centroids]
    else:
        cent_list = [(int(r["cell_id"]), [float(x) for x in r["cv"]])
                     for r in emb.orderBy("vec_id").limit(n_cells)
                     .selectExpr("vec_id AS cell_id", "v AS cv").collect()]
    return _ivf_assign_expr(emb, cent_list, nprobe)


#: The per-row vector norm of the IVF assignments, and the guard that
#: fails the job on a zero-norm vector, naming it: its cosine is
#: undefined (a NaN that sort_array would rank last, or an anonymous
#: DIVIDE_BY_ZERO under ANSI), with no place in the ranking.
_NV = ("sqrt(aggregate(transform(v, x -> x * x), "
       "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))")
_NV_GUARD = ("IF(nv = 0, raise_error(concat('zero-norm vector: vec_id ', "
             "CAST(vec_id AS STRING))), nv) AS nv")


def _centroid_norm(cell_id: int, cv: list) -> float:
    """Python left-fold + ``math.sqrt`` — bit-equal to the HOF norm;
    a zero-norm centroid has no cosine, so it is refused."""
    import math
    s = 0.0
    for x in cv:
        s = s + x * x
    if s == 0:
        raise ValueError(f"zero-norm centroid: cell_id {cell_id}")
    return math.sqrt(s)


def _ivf_assign_expr(emb: DataFrame, cent_list: list,
                     nprobe: int) -> DataFrame:
    """Top-``nprobe`` cell assignment as ONE narrow projection over a
    1-row broadcast centroid table — round-8 rewrite of the
    crossJoin → Window path, which expanded every vector into ``k`` rows
    and shuffled them (vector payload included) through the rank
    exchange. Here the k cosines, the (desc c, asc cell_id) ordering,
    and the nprobe cut all happen per-row in ``transform`` +
    ``array_sort`` + ``slice`` — zero Exchange, identical assignment
    set (the comparator is exactly row_number's ordering and cosines
    are the same left-fold HOF doubles; the vector norm is evaluated
    once per row and centroid norms once per table instead of once per
    (vector, centroid) pair — same IEEE values, ~3× less HOF work).
    Centroid norms are Python left-fold + ``math.sqrt`` — bit-equal to
    the HOF aggregate + ``sqrt`` they replace (same fold order; sqrt is
    correctly rounded in both)."""
    cids = [c for c, _v in cent_list]
    cvs = [v for _c, v in cent_list]
    ncvs = [_centroid_norm(c, v) for c, v in cent_list]
    cent1 = F.broadcast(emb.sparkSession.createDataFrame(
        [(cids, cvs, ncvs)],
        "cids array<int>, cvs array<array<double>>, ncvs array<double>"))
    dot = ("aggregate(zip_with(v, cv, (x, y) -> x * y), "
           "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
    # sort_array's natural struct order on (-c, cell_id) == the window's
    # (desc c, asc cell_id) — and unlike a comparator lambda it stays in
    # codegen.
    probe = (f"slice(sort_array("
             f"transform(cvs, (cv, i) -> struct("
             f"-(({dot}) / (nv * ncvs[i])) AS nc, cids[i] AS cell_id))), "
             f"1, {nprobe})")
    return (emb.crossJoin(cent1)
            .selectExpr("vec_id", "v", f"({_NV}) AS nv",
                        "cids", "cvs", "ncvs")
            .selectExpr("vec_id", "v", _NV_GUARD, "cids", "cvs", "ncvs")
            .selectExpr("vec_id", "v", f"explode({probe}) AS _pr")
            .selectExpr("vec_id", "v", "_pr.cell_id AS cell_id"))


def train_coarse_quantizer(centroids: list, *, k_coarse: int | None = None,
                           iters: int = 2, round_dec: int = 6) -> list:
    """Deterministic Lloyd's over the FINE-centroid table → trained
    coarse quantizer for :func:`ivf_assign_two_level`.

    The fine-centroid table is model-sized (k×dim floats, driver-held),
    so the coarse training runs entirely on the driver in pure Python —
    no Spark job. The cross-engine contract mirrors
    :func:`kmeans_cells`: init = the ``k_coarse`` lowest cell_ids
    (labelled 0..k'-1 in cell_id order), assignment by ``round(cos, 6)``
    with lowest-coarse-id tie-break, per-dim mean rounded to
    ``round_dec``, empty clusters dropped — the DuckDB oracle
    (:func:`dedup_twolevel_oracle_sql` with ``trained_coarse=True``)
    re-derives the identical coarse table in SQL over its own fine-CTE
    chain. Sum-order float drift (Python left-fold vs DuckDB AVG) is
    ~1e-15 over ≤k values, far below the 1e-6 rounding grain.

    Why trained: the round-4 strided-subset coarse level missed 1/20
    twins at sf0.001 (a vector straddling a coarse boundary probed the
    wrong coarse cells). Centroids that track the fine-centroid
    distribution shrink boundary volume — recall vs brute force is
    re-measured in tests/test_ann.py and the ``recall`` group of
    tools/scale_legs.py.
    """
    import math

    def _c(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return round(dot / (math.sqrt(sum(x * x for x in a))
                            * math.sqrt(sum(x * x for x in b))), 6)

    fine = sorted((int(c), [float(x) for x in v]) for c, v in centroids)
    if k_coarse is None:
        k_coarse = max(1, int(len(fine) ** 0.5))
    coarse = [(j, list(fine[j][1])) for j in range(min(k_coarse, len(fine)))]
    for _ in range(iters):
        members: dict = {}
        for _cid, v in fine:
            best = max(coarse, key=lambda t: (_c(v, t[1]), -t[0]))
            members.setdefault(best[0], []).append(v)
        coarse = [(j, [round(sum(col) / len(vs), round_dec)
                       for col in zip(*vs)])
                  for j, vs in sorted(members.items())]
    return coarse


def ivf_assign_two_level(emb: DataFrame, centroids: list, *,
                         coarse_probes: int = 2,
                         nprobe: int = 4,
                         coarse_centroids: list | None = None) -> DataFrame:
    """Two-level IVF assignment: a coarse quantizer over the centroid
    table cuts the N·k fine-assignment cosines to
    ``N·(k' + coarse_probes·k/k')`` with k' ≈ √k.

    Why it exists: embedding DEDUP wants k ∝ N (constant cell size —
    the measured-linear regime), but flat assignment is then N·k = N²
    in the limit (BASELINE.md round-4: the 10× wall grew 12.7× and the
    assignment stage was the supralinear part). The standard fix is a
    coarse first level; with k ∝ N this restores ~N^1.5 total
    assignment work, and the within-cell pair math stays linear.

    Coarse table = ``coarse_centroids`` when given (the TRAINED
    production path — :func:`train_coarse_quantizer`, driver-side
    Lloyd's over the model-sized fine-centroid table), else every
    ⌈√k⌉-th fine centroid by cell_id (strided subset — the round-4
    untrained fallback, kept for the measured A/B). Both are
    deterministic and SQL-expressible, so the DuckDB oracle replicates
    the whole path. The fine→coarse routing map is computed with the
    same rounded-cosine/(id tie-break) contract as every other
    cross-engine ranking (k×k' rows — model-sized).

    Output ``(vec_id, v, cell_id)``, one row per probed fine cell —
    drop-in for :func:`ivf_assign`. Approximate BY DESIGN: a vector's
    best fine cell outside its probed coarse cells is missed; recall vs
    the flat path is measured in tests/test_ann.py.
    """
    spark = emb.sparkSession
    k = len(centroids)
    step = max(1, int(k ** 0.5))
    cent_list = [(int(c), [float(x) for x in v]) for c, v in centroids]
    if coarse_centroids is not None:
        coarse_list = [(int(c), [float(x) for x in v])
                       for c, v in coarse_centroids]
    else:
        coarse_list = [(c, v) for c, v in cent_list if c % step == 0]
    # centroid norms (refusing a zero one) before any cosine is taken
    fine_ns = {c: _centroid_norm(c, v) for c, v in cent_list}
    cq_ns = [_centroid_norm(c, v) for c, v in coarse_list]

    # fine→coarse routing (k×k' rows; rounded cosine, deterministic
    # ties). Still computed WITH SPARK EXPRESSIONS over the model-sized
    # tables — round() semantics must stay engine-side — then collected
    # (k rows, the same memory class as the broadcasts it replaces).
    cent = spark.createDataFrame(cent_list, "cell_id int, cv array<double>")
    coarse = spark.createDataFrame(coarse_list,
                                   "coarse_id int, qv array<double>")
    f2c = (cent.crossJoin(F.broadcast(coarse))
           .selectExpr("cell_id", "coarse_id",
                       f"round(({_cos('cv', 'qv')}), 6) AS c"))
    wf = Window.partitionBy("cell_id").orderBy(F.desc("c"),
                                               F.asc("coarse_id"))
    routing = {int(r["cell_id"]): int(r["coarse_id"])
               for r in f2c.withColumn("r", F.row_number().over(wf))
               .filter("r = 1").select("cell_id", "coarse_id").collect()}

    # Round 8: both N-row stages (coarse probe and fine candidate rank)
    # now run as ONE narrow projection per vector — the previous plan
    # expanded every vector into k' (then nprobe-candidate) rows and
    # shuffled the vector payload through TWO rank windows. The per-row
    # expressions evaluate the identical round(cos, 6) doubles with the
    # identical (desc c, asc id) orderings, so the probed-cell set is
    # unchanged; centroid norms are Python left-fold + math.sqrt
    # (bit-equal to the HOF norm they replace).
    cq_ids = [c for c, _v in coarse_list]
    cq_vs = [v for _c, v in coarse_list]
    # complete routes map (empty arrays for unrouted coarse ids, so the
    # flatten below never meets a NULL element)
    routes: dict = {c: [] for c in cq_ids}
    for cell_id, cv in cent_list:
        routes[routing[cell_id]].append(
            (cell_id, cv, fine_ns[cell_id]))
    route_rows = [routes[c] for c in cq_ids]
    cent1 = F.broadcast(spark.createDataFrame(
        [(cq_ids, cq_vs, cq_ns, route_rows)],
        "cqids array<int>, cqvs array<array<double>>, "
        "cqns array<double>, "
        "routes array<array<struct<cell_id: int, cv: array<double>, "
        "ncv: double>>>"))

    def _dot(a, b):
        return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
                f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")

    # sort_array's natural struct order on (-c, id) == the windows'
    # (desc c, asc id) in codegen. Tie-break on the coarse ID (cid), as
    # the window did; ci is the array position, kept only to index
    # `routes`.
    probed = (f"slice(sort_array("
              f"transform(cqvs, (qv, i) -> struct("
              f"-round(({_dot('v', 'qv')}) / (nv * cqns[i]), 6) AS nc, "
              f"cqids[i] AS cid, i AS ci))), 1, {coarse_probes})")
    # candidate fine cells of the probed coarse ids (disjoint by
    # construction: routing assigns each fine cell to exactly one coarse)
    cands = f"flatten(transform({probed}, p -> routes[p.ci]))"
    fine_sel = (f"slice(sort_array("
                f"transform({cands}, s -> struct("
                f"-round(({_dot('v', 's.cv')}) / (nv * s.ncv), 6) AS nc, "
                f"s.cell_id AS cell_id))), 1, {nprobe})")
    return (emb.crossJoin(cent1)
            .selectExpr("vec_id", "v", f"({_NV}) AS nv",
                        "cqids", "cqvs", "cqns", "routes")
            .selectExpr("vec_id", "v", _NV_GUARD,
                        "cqids", "cqvs", "cqns", "routes")
            .selectExpr("vec_id", "v", f"explode({fine_sel}) AS _pr")
            .selectExpr("vec_id", "v", "_pr.cell_id AS cell_id"))


def dedup_embedding_bucketed(emb: DataFrame, *, threshold: float = 0.4,
                             n_cells: int = 8, nprobe: int = 4,
                             centroids: list | None = None) -> DataFrame:
    """Near-duplicate vector pairs via IVF bucketing: exact cosine is
    evaluated only for pairs sharing a probed cell. Output
    ``(a, b, sim_r)`` — a < b, distinct.

    Plan shape (measured at sf0.1, 78s → ~7s; each step matters):

    * candidate ``(a, b)`` ids deduplicate *before* any vector math — a
      pair sharing k probed cells must cost one cosine, not k;
    * the candidate set is explicitly re-spread after the distinct: AQE
      coalesces the ~30 MB pair set into ONE partition by byte size, but
      the downstream per-pair dot is compute-bound — the classic
      small-bytes/big-compute mismatch (PERF.md §7);
    * vectors are L2-normalized once per vector and the (model-sized) unit
      table is broadcast, so the 10⁶-pair join never shuffles arrays;
    * the per-pair work is then a single ``aggregate(zip_with(...))`` dot.
      (A codegen-friendly unrolled ``u[0]*v[0]+…`` chain was measured 2×
      *slower* — 64 GetArrayItem null-checks blow past the JIT method
      budget and fall back to interpreted eval.)
    """
    assign = ivf_assign(emb, n_cells=n_cells, nprobe=nprobe,
                        centroids=centroids)
    return _dedup_from_assign(emb, assign, threshold)


def dedup_embedding_twolevel(emb: DataFrame, centroids: list, *,
                             threshold: float = 0.7,
                             coarse_probes: int = 2,
                             nprobe: int = 4,
                             coarse_centroids: list | None = None
                             ) -> DataFrame:
    """Embedding dedup through the TWO-LEVEL assignment
    (:func:`ivf_assign_two_level`) — the k ∝ N configuration whose flat
    assignment would be quadratic. Same distinct-pairs-first /
    broadcast-unit-vectors pair pipeline as
    :func:`dedup_embedding_bucketed`. Pass ``coarse_centroids`` from
    :func:`train_coarse_quantizer` for the trained (production) coarse
    level."""
    assign = ivf_assign_two_level(emb, centroids,
                                  coarse_probes=coarse_probes,
                                  nprobe=nprobe,
                                  coarse_centroids=coarse_centroids)
    return _dedup_from_assign(emb, assign, threshold)


def _dedup_from_assign(emb: DataFrame, assign: DataFrame,
                       threshold: float,
                       int8_prefilter: bool = True) -> DataFrame:
    """Within-cell near-dup pairs from an IVF assignment.

    ``int8_prefilter`` (round-6 VERDICT #4): the within-cell all-pairs
    cosine — the dominant cost once assignment is two-level — runs as a
    per-cell int8 MATMUL in one ``applyInPandas`` stage (numpy
    ``Q @ Q.T`` on int32, ~50x the per-pair ``aggregate(zip_with)``
    HOF, which never enters codegen — CLAUDE.md / PERF.md §7), keeping
    every pair whose quantized cosine clears ``threshold - eps``; the
    exact float dot then re-checks ONLY those survivors. The result is
    IDENTICAL to the all-float path by construction — eps is the
    worst-case int8 error for d-dim unit vectors
    (|qsim - sim| <= sqrt(d)/127 + d/64516, each |round delta| <= 0.5)
    computed inside the UDF where d is known — so the gated DuckDB
    oracles need no change; equality is pinned in tests/test_ann.py.
    Scale shape: the groupBy(cell) shuffle moves the same (vec_id, v)
    rows the self-join moved; pair output is finished (a, b, sim) rows
    only (no vectors). Round 8: the exact float recheck happens INSIDE
    the per-cell stage as a Python left-fold dot over exact unit
    vectors — double-for-double identical to the former
    ``aggregate(zip_with)`` unit-table join it replaces (same fold
    order; ``math.sqrt``/JVM sqrt both correctly rounded), pinned by
    tests/test_ann.py::test_int8_prefilter_identity against the
    all-float ``int8_prefilter=False`` path, which keeps the original
    unit-table plan.
    """
    spread = 2 * emb.sparkSession.sparkContext.defaultParallelism
    if int8_prefilter:
        thr = float(threshold)

        def per_cell(pdf):
            n = len(pdf)
            if n < 2:
                return pd.DataFrame(
                    {"a": pd.Series(dtype="int64"),
                     "b": pd.Series(dtype="int64"),
                     "sim": pd.Series(dtype="float64")})
            ids = pdf["vec_id"].to_numpy()
            vm = np.array([np.asarray(x, dtype=np.float64)
                           for x in pdf["v"]])
            d = vm.shape[1]
            # Exact norms, left-fold per vector — the SAME fold order as
            # the HOF ``aggregate`` in the former unit-table projection,
            # so the exact recheck below is bit-identical to the
            # all-float Spark path (math.sqrt and JVM sqrt are both
            # correctly rounded). The int8 quantizer keeps its own
            # zero-guarded norms (unchanged semantics).
            import math as _math
            norms = np.empty(n)
            for i in range(n):
                s = 0.0
                for x in vm[i]:
                    s = s + x * x
                norms[i] = _math.sqrt(s)
            un = vm / norms[:, None]  # elementwise — order-free, exact
            qnorms = norms.copy()
            qnorms[qnorms == 0] = 1.0
            u = vm / qnorms[:, None]
            q = np.round(127.0 * u).astype(np.int32)
            eps = np.sqrt(d) / 127.0 + d / 64516.0
            cut = 16129.0 * (thr - eps)
            # Hot-cell memory guard (round-6 ADVICE): a degenerate cell
            # (collapsed centroids funneling most vectors into one
            # group) would OOM the Python worker materializing one nxn
            # int32 matrix. Row-blocked matmul caps the resident
            # similarity block at ~2^25 entries (~128 MB) whatever the
            # cell size; for normal cells (n <= ~5.7k) it is the same
            # single full matmul as before, and the kept-pair set is
            # identical by construction in every case.
            blk = max(1, (1 << 25) // n)
            cols = np.arange(n)
            out_a, out_b, out_s = [], [], []
            for i0 in range(0, n, blk):
                i1 = min(n, i0 + blk)
                s_blk = q[i0:i1] @ q.T
                mask = ((s_blk >= cut)
                        & (cols[None, :] > np.arange(i0, i1)[:, None]))
                ri, ci = np.nonzero(mask)
                # Round-8: the exact float recheck moved INSIDE the cell
                # (the vectors are already resident here) — a Python
                # left-fold dot over the exact unit vectors, identical
                # double-for-double to the ``aggregate(zip_with(...))``
                # it replaces. This removes the former downstream unit
                # table, its two broadcast builds and the candidate
                # re-join: survivors leave this stage as finished
                # (a, b, sim) rows. int8-prefilter survivors are few by
                # construction, so the per-pair Python loop is bounded.
                for rr, cc in zip(ri, ci):
                    i, j = int(rr) + i0, int(cc)
                    ua, ub = un[i], un[j]
                    acc = 0.0
                    for k in range(d):
                        acc = acc + float(ua[k]) * float(ub[k])
                    if acc >= thr:
                        av, bv = int(ids[i]), int(ids[j])
                        out_a.append(min(av, bv))
                        out_b.append(max(av, bv))
                        out_s.append(acc)
            return pd.DataFrame(
                {"a": pd.Series(out_a, dtype="int64"),
                 "b": pd.Series(out_b, dtype="int64"),
                 "sim": pd.Series(out_s, dtype="float64")})

        return (assign.select("cell_id", "vec_id", "v")
                .groupBy("cell_id")
                .applyInPandas(per_cell, schema="a long, b long, sim double")
                .distinct()
                .selectExpr("a", "b", "round(sim, 4) AS sim_r"))
    else:
        cand = (assign.selectExpr("vec_id AS a", "cell_id")
                .join(assign.selectExpr("vec_id AS b", "cell_id"),
                      "cell_id")
                .filter("a < b")
                .select("a", "b").distinct()
                .repartition(spread))
    norm = ("sqrt(aggregate(transform(v, x -> x * x), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))")
    unit = emb.selectExpr("vec_id", f"transform(v, x -> x / ({norm})) AS u")
    dot = ("aggregate(zip_with(ua, ub, (x, y) -> x * y), "
           "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
    return (cand
            .join(F.broadcast(unit.selectExpr("vec_id AS a", "u AS ua")), "a")
            .join(F.broadcast(unit.selectExpr("vec_id AS b", "u AS ub")), "b")
            .selectExpr("a", "b", f"({dot}) AS sim")
            .filter(f"sim >= {threshold}")
            .selectExpr("a", "b", "round(sim, 4) AS sim_r"))


def lsh_bucket_topk(emb: DataFrame, *, n_planes: int = 4, k: int = 3,
                    n_queries: int = 10) -> DataFrame:
    """Random-hyperplane LSH buckets (data-derived planes: the lowest
    ``n_planes`` vec_ids) + exact-cosine top-k *within* the query's bucket.
    Completes the round-1 operator, which stopped at bucket histograms.

    Output ``(query_id, neighbor_id, rank, sim_r)``; queries whose bucket
    is a singleton return no rows (by construction, both engines).

    Scale shape (round-2 verdict "what's wrong" #1): the planes are
    model-sized, so they are **driver-collected** (exactly as
    ``kmeans_cells`` holds its centroids) and all plane bits are computed
    in ONE narrow projection — the previous plan crossJoined then
    ``groupBy(vec_id)``-shuffled n_planes copies of every embedding array
    back together. Bit positions here are the plane's rank by ``vec_id``
    while the oracle uses the raw ``vec_id``; both are injective on the
    sign pattern over the same plane set, so the induced bucket partition
    (the only thing bucket values feed) is identical. The tiny query side
    is broadcast, so no candidate array ever shuffles; the top-k window
    shuffles only narrow ``(query_id, neighbor_id, sim)`` rows."""
    spark = emb.sparkSession
    plane_rows = (emb.orderBy("vec_id").limit(n_planes)
                  .select("v").collect())
    pvs = [[float(x) for x in r["v"]] for r in plane_rows]
    planes_1row = spark.createDataFrame([(pvs,)], "pvs array<array<double>>")
    bucket_expr = (
        f"aggregate(transform(pvs, (pv, i) -> "
        f"CASE WHEN ({_cos('v', 'pv')}) >= 0 "
        f"THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END), "
        f"CAST(0 AS BIGINT), (acc2, x2) -> acc2 + x2)")
    sig = (emb.crossJoin(F.broadcast(planes_1row))
           .selectExpr("vec_id", "v", f"({bucket_expr}) AS bucket"))
    q = (sig.filter(f"vec_id < {n_queries}")
         .selectExpr("vec_id AS query_id", "v AS qv", "bucket"))
    c = sig.selectExpr("vec_id AS neighbor_id", "v AS nv", "bucket")
    sims = (F.broadcast(q).join(c, "bucket")
            .filter("query_id != neighbor_id")
            .selectExpr("query_id", "neighbor_id",
                        f"({_cos('qv', 'nv')}) AS sim"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"),
                                               F.asc("neighbor_id"))
    return (sims.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("long").alias("rank"),
                    F.round("sim", 4).alias("sim_r")))


# --- DuckDB oracle twins ------------------------------------------------------

_DUCK_COS = ("list_dot_product({a}, {b}) / "
             "(sqrt(list_dot_product({a}, {a})) * "
             "sqrt(list_dot_product({b}, {b})))")


def dedup_bucketed_oracle_sql(*, threshold: float = 0.4,
                              n_cells: int | str = 8,
                              nprobe: int = 4,
                              table: str = "embeddings") -> str:
    """``n_cells``: an int, or the string ``"scaled"`` for the k ∝ N
    regime — ``GREATEST(8, N // 25)`` computed in SQL, mirroring the
    Spark query's ``max(8, count // 25)`` so the oracle follows the
    corpus size exactly as the engine does."""
    cells = ("GREATEST(8, (SELECT COUNT(*) FROM e) // 25)"
             if n_cells == "scaled" else n_cells)
    cos_vc = _DUCK_COS.format(a="e.v", b="cent.cv")
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}),
    cent AS (SELECT vec_id AS cell_id, v AS cv FROM e
             ORDER BY vec_id LIMIT {cells}),
    scored AS (
      SELECT e.vec_id, cent.cell_id,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {cos_vc} DESC, cent.cell_id) AS crank
      FROM e, cent),
    assign AS (SELECT vec_id, cell_id FROM scored WHERE crank <= {nprobe}),
    pairs AS (
      SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
      FROM assign l JOIN assign r
        ON l.cell_id = r.cell_id AND l.vec_id < r.vec_id),
    unit AS (
      SELECT vec_id,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
      FROM e),
    sims AS (
      SELECT p.a, p.b, list_dot_product(ua.u, ub.u) AS sim
      FROM pairs p JOIN unit ua ON ua.vec_id = p.a
                   JOIN unit ub ON ub.vec_id = p.b)
    SELECT a, b, ROUND(sim, 4) AS sim_r FROM sims
    WHERE sim >= {threshold}"""


def lsh_topk_oracle_sql(*, n_planes: int = 4, k: int = 3,
                        n_queries: int = 10,
                        table: str = "embeddings") -> str:
    cos_vp = _DUCK_COS.format(a="e.v", b="p.pv")
    cos_qn = _DUCK_COS.format(a="qe.v", b="n.v")
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}),
    planes AS (SELECT vec_id AS plane_id, v AS pv FROM e
               ORDER BY vec_id LIMIT {n_planes}),
    sig AS (
      SELECT e.vec_id,
             CAST(SUM(CASE WHEN {cos_vp} >= 0
                      THEN CAST(POW(2, p.plane_id) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS bucket
      FROM e, planes p GROUP BY e.vec_id),
    q AS (SELECT vec_id AS query_id, bucket FROM sig
          WHERE vec_id < {n_queries}),
    sims AS (
      SELECT qq.query_id, c.vec_id AS neighbor_id,
             {cos_qn} AS sim
      FROM q qq JOIN sig c ON c.bucket = qq.bucket
             AND c.vec_id != qq.query_id
      JOIN e qe ON qe.vec_id = qq.query_id
      JOIN e n ON n.vec_id = c.vec_id),
    r AS (SELECT query_id, neighbor_id, sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, neighbor_id) AS rnk
          FROM sims)
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank,
           ROUND(sim, 4) AS sim_r
    FROM r WHERE rnk <= {k}"""


def _centroid_partials():
    """mapInArrow stage: per-batch (cell_id, n, sums[dim]) partial
    aggregates — the treeAggregate shape of k-means without exploding
    n×dim rows into a shuffle."""
    import numpy as np
    import pyarrow as pa

    def fn(batches):
        for rb in batches:
            cells = rb.column(rb.schema.get_field_index("cell_id")).to_pylist()
            vs = rb.column(rb.schema.get_field_index("v")).to_pylist()
            acc: dict = {}
            for c, v in zip(cells, vs):
                a = acc.get(c)
                if a is None:
                    acc[c] = [1, np.asarray(v, dtype=np.float64)]
                else:
                    a[0] += 1
                    a[1] += np.asarray(v, dtype=np.float64)
            if acc:
                yield pa.RecordBatch.from_arrays(
                    [arrowcols.int32s(list(acc)),
                     arrowcols.int64s([a[0] for a in acc.values()]),
                     arrowcols.lists([a[1] for a in acc.values()],
                                     pa.float64())],
                    names=["cell_id", "n", "sums"])

    return fn


def _assign_to(emb: DataFrame, centroids: list) -> DataFrame:
    """Argmax-cosine assignment against a driver-side centroid list
    (model-sized: k×dim floats), deterministic (cos DESC, cell ASC)."""
    spark = emb.sparkSession
    cent = F.broadcast(spark.createDataFrame(
        [(int(c), list(map(float, v))) for c, v in centroids],
        "cell_id int, cv array<double>"))
    scored = (emb.crossJoin(cent)
              .selectExpr("vec_id", "v", "cell_id",
                          f"({_cos('v', 'cv')}) AS c"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("c"), F.asc("cell_id"))
    return (scored.withColumn("crank", F.row_number().over(w))
            .filter("crank = 1").select("vec_id", "v", "cell_id", "c"))


def kmeans_cells(emb: DataFrame, *, k: int = 8, iters: int = 2,
                 round_dec: int = 6):
    """Deterministic Lloyd's k-means over cosine similarity: init = the
    ``k`` lowest vec_ids, ``iters`` fixed iterations, centroids rounded to
    ``round_dec`` decimals after every mean.

    The rounding is the cross-engine float contract: partial-sum order is
    nondeterministic in both Spark and DuckDB, but the accumulated error
    (~1e-13 for corpus-sized cells) is far below the 1e-6 rounding grain,
    so both engines converge to bit-identical centroids and therefore
    identical assignments — the oracle recomputes the whole algorithm in
    SQL, nothing is fed across.

    Centroid state lives on the driver between iterations (k×dim floats —
    model-sized); per-iteration cost is one broadcast-assign + one
    mapInArrow partial-sum pass, no explode, no wide shuffle.

    Returns ``(assignment DataFrame, centroids list)``.
    """
    init = (emb.orderBy("vec_id").limit(k)
            .selectExpr("vec_id", "v").collect())
    centroids = [(i, [round(float(x), round_dec) for x in r["v"]])
                 for i, r in enumerate(init)]
    for _ in range(iters):
        assign = _assign_to(emb, centroids)
        partials = (assign.select("cell_id", "v")
                    .mapInArrow(_centroid_partials(),
                                schema="cell_id int, n long, "
                                       "sums array<double>")
                    .collect())
        agg: dict = {}
        for r in partials:
            c = r["cell_id"]
            if c in agg:
                agg[c][0] += r["n"]
                agg[c][1] = [a + b for a, b in zip(agg[c][1], r["sums"])]
            else:
                agg[c] = [r["n"], list(r["sums"])]
        centroids = [(c, [round(s / n, round_dec) for s in sums])
                     for c, (n, sums) in sorted(agg.items())]
    return _assign_to(emb, centroids), centroids


def ann_ivf_trained_stats(emb: DataFrame, *, k: int = 8,
                          iters: int = 2) -> DataFrame:
    """Driver-gate view of the trained index: per cell, member count and
    mean member-to-centroid cosine (rounded) — the quantization-quality
    rollup an IVF build job would emit."""
    assign, _ = kmeans_cells(emb, k=k, iters=iters)
    return (assign.groupBy("cell_id")
            .agg(F.count("*").alias("n_vectors"),
                 F.round(F.avg("c"), 4).alias("avg_cos_r")))


_KM_COS = ("list_dot_product(e.v, c.cv) / "
           "(sqrt(list_dot_product(e.v, e.v)) * "
           "sqrt(list_dot_product(c.cv, c.cv)))")


def _kmeans_cte_parts(*, k, iters: int, round_dec: int,
                      table: str) -> list[str]:
    """The Lloyd iterations unrolled as CTE pairs (assign_i → cent_i);
    shared by the k-means stats oracle and the trained-IVF dedup oracle.
    The final centroid table is ``cent{iters}``. ``k`` may be an int or
    the string ``"scaled"`` (→ ``GREATEST(8, N // 25)`` in SQL — the
    k ∝ N dedup regime, matching a Spark caller that derives
    ``max(8, count // 25)``)."""
    if k == "scaled":
        k = "GREATEST(8, (SELECT COUNT(*) FROM e) // 25)"
    cos = _KM_COS
    parts = [f"""
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}),
    dims AS (SELECT CAST(i AS INTEGER) AS d
             FROM generate_series(1, 4096) AS g(i)
             WHERE i <= (SELECT len(v) FROM e LIMIT 1)),
    cent0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cell_id,
             list_transform(v, x -> ROUND(x, {round_dec})) AS cv
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k}))"""]
    for i in range(iters):
        parts.append(f"""
    assign{i} AS (
      SELECT vec_id, v, cell_id FROM (
        SELECT e.vec_id, e.v, c.cell_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos} DESC, c.cell_id) AS rnk
        FROM e, cent{i} c) WHERE rnk = 1),
    cent{i + 1} AS (
      SELECT cell_id, list(ROUND(m, {round_dec}) ORDER BY d) AS cv
      FROM (
        SELECT a.cell_id, dims.d, AVG(a.v[dims.d]) AS m
        FROM assign{i} a, dims
        GROUP BY a.cell_id, dims.d)
      GROUP BY cell_id)""")
    return parts


def kmeans_oracle_sql(*, k: int = 8, iters: int = 2, round_dec: int = 6,
                      table: str = "embeddings") -> str:
    """DuckDB twin: the same Lloyd iterations unrolled as CTE pairs
    (assign_i → cent_i), means rounded identically, final per-cell stats."""
    cos = _KM_COS
    parts = _kmeans_cte_parts(k=k, iters=iters, round_dec=round_dec,
                              table=table)
    return ("WITH" + ",".join(parts) + f""",
    final AS (
      SELECT vec_id, cell_id, c FROM (
        SELECT e.vec_id, c.cell_id, {cos} AS c,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos} DESC, c.cell_id) AS rnk
        FROM e, cent{iters} c) WHERE rnk = 1)
    SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(AVG(c), 4) AS avg_cos_r
    FROM final GROUP BY cell_id""")


def dedup_trained_oracle_sql(*, threshold: float = 0.4, k: int = 8,
                             iters: int = 2, nprobe: int = 4,
                             round_dec: int = 6,
                             table: str = "embeddings") -> str:
    """DuckDB twin of kmeans_cells → dedup_embedding_bucketed(centroids=…):
    the trained centroid CTE chain from :func:`_kmeans_cte_parts`, then the
    multi-probe assignment / distinct-pairs / unit-dot pipeline of
    :func:`dedup_bucketed_oracle_sql` against ``cent{iters}``."""
    cos = _KM_COS
    parts = _kmeans_cte_parts(k=k, iters=iters, round_dec=round_dec,
                              table=table)
    return ("WITH" + ",".join(parts) + f""",
    scored AS (
      SELECT e.vec_id, c.cell_id,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {cos} DESC, c.cell_id) AS crank
      FROM e, cent{iters} c),
    assign AS (SELECT vec_id, cell_id FROM scored WHERE crank <= {nprobe}),
    pairs AS (
      SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
      FROM assign l JOIN assign r
        ON l.cell_id = r.cell_id AND l.vec_id < r.vec_id),
    unit AS (
      SELECT vec_id,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
      FROM e),
    sims AS (
      SELECT p.a, p.b, list_dot_product(ua.u, ub.u) AS sim
      FROM pairs p JOIN unit ua ON ua.vec_id = p.a
                   JOIN unit ub ON ub.vec_id = p.b)
    SELECT a, b, ROUND(sim, 4) AS sim_r FROM sims
    WHERE sim >= {threshold}""")


def dedup_twolevel_oracle_sql(*, threshold: float = 0.7,
                              k: int | str = 16,
                              iters: int = 2, nprobe: int = 4,
                              coarse_probes: int = 2,
                              round_dec: int = 6,
                              trained_coarse: bool = False,
                              coarse_iters: int = 2,
                              table: str = "embeddings") -> str:
    """DuckDB twin of kmeans_cells → dedup_embedding_twolevel: the
    trained-centroid CTE chain, then the coarse table — strided subset,
    or with ``trained_coarse`` the :func:`train_coarse_quantizer`
    Lloyd's iterations unrolled as CTEs over the fine table — the
    rounded-cosine fine→coarse routing, coarse probing, fine assignment
    restricted to probed coarse cells, and the distinct-pairs/unit-dot
    pipeline — every ranking uses the same ROUND(cos, 6) + id tie-break
    contract as the Spark path. ``k`` may be ``"scaled"`` (k ∝ N, see
    :func:`_kmeans_cte_parts`). The coarse size k' and the strided step
    are computed in SQL from the ACTUAL fine-table row count — the
    exact mirror of the Spark side's ``len(centroids)`` (which can be
    below the requested k when an iteration empties a cell)."""
    step = ("GREATEST(1, CAST(FLOOR(SQRT("
            "(SELECT COUNT(*) FROM fine))) AS INTEGER))")
    kc = step
    cos_vc = ("ROUND(list_dot_product(e.v, f.cv) / "
              "(sqrt(list_dot_product(e.v, e.v)) * "
              "sqrt(list_dot_product(f.cv, f.cv))), 6)")
    cos_vq = ("ROUND(list_dot_product(e.v, q.qv) / "
              "(sqrt(list_dot_product(e.v, e.v)) * "
              "sqrt(list_dot_product(q.qv, q.qv))), 6)")
    cos_cq = ("ROUND(list_dot_product(f.cv, q.qv) / "
              "(sqrt(list_dot_product(f.cv, f.cv)) * "
              "sqrt(list_dot_product(q.qv, q.qv))), 6)")
    parts = _kmeans_cte_parts(k=k, iters=iters, round_dec=round_dec,
                              table=table)
    if trained_coarse:
        # train_coarse_quantizer mirrored in SQL: init = k' lowest fine
        # cell_ids labelled 0..k'-1, round(cos,6)/lowest-id assignment,
        # per-dim AVG rounded to round_dec, empty clusters dropped by
        # GROUP BY (as the Python dict does).
        cos_fq = ("ROUND(list_dot_product(f.cv, q.qv) / "
                  "(sqrt(list_dot_product(f.cv, f.cv)) * "
                  "sqrt(list_dot_product(q.qv, q.qv))), 6)")
        coarse_parts = [f"""
    ccent0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY cell_id) - 1 AS INTEGER)
               AS coarse_id, cv AS qv
      FROM (SELECT cell_id, cv FROM fine ORDER BY cell_id LIMIT {kc}))"""]
        for i in range(coarse_iters):
            coarse_parts.append(f"""
    cassign{i} AS (
      SELECT cell_id, cv, coarse_id FROM (
        SELECT f.cell_id, f.cv, q.coarse_id,
               ROW_NUMBER() OVER (PARTITION BY f.cell_id
                                  ORDER BY {cos_fq} DESC, q.coarse_id)
                 AS rnk
        FROM fine f, ccent{i} q) WHERE rnk = 1),
    ccent{i + 1} AS (
      SELECT coarse_id, list(ROUND(m, {round_dec}) ORDER BY d) AS qv
      FROM (
        SELECT a.coarse_id, dims.d, AVG(a.cv[dims.d]) AS m
        FROM cassign{i} a, dims
        GROUP BY a.coarse_id, dims.d)
      GROUP BY coarse_id)""")
        coarse_sql = (",".join(coarse_parts) + f""",
    coarse AS (SELECT coarse_id, qv FROM ccent{coarse_iters})""")
    else:
        coarse_sql = f"""
    coarse AS (SELECT cell_id AS coarse_id, cv AS qv FROM fine
               WHERE cell_id % {step} = 0)"""
    return ("WITH" + ",".join(parts) + f""",
    fine AS (SELECT cell_id, cv FROM cent{iters}),{coarse_sql},
    routing AS (
      SELECT cell_id, coarse_id FROM (
        SELECT f.cell_id, q.coarse_id,
               ROW_NUMBER() OVER (PARTITION BY f.cell_id
                                  ORDER BY {cos_cq} DESC, q.coarse_id)
                 AS r
        FROM fine f, coarse q) WHERE r = 1),
    probes AS (
      SELECT vec_id, coarse_id FROM (
        SELECT e.vec_id, q.coarse_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_vq} DESC, q.coarse_id)
                 AS r
        FROM e, coarse q) WHERE r <= {coarse_probes}),
    assign AS (
      SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, f.cell_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_vc} DESC, f.cell_id) AS r
        FROM e
        JOIN probes p ON p.vec_id = e.vec_id
        JOIN routing rt ON rt.coarse_id = p.coarse_id
        JOIN fine f ON f.cell_id = rt.cell_id) WHERE r <= {nprobe}),
    pairs AS (
      SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
      FROM assign l JOIN assign r
        ON l.cell_id = r.cell_id AND l.vec_id < r.vec_id),
    unit AS (
      SELECT vec_id,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
      FROM e),
    sims AS (
      SELECT p.a, p.b, list_dot_product(ua.u, ub.u) AS sim
      FROM pairs p JOIN unit ua ON ua.vec_id = p.a
                   JOIN unit ub ON ub.vec_id = p.b)
    SELECT a, b, ROUND(sim, 4) AS sim_r FROM sims
    WHERE sim >= {threshold}""")


def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """Symmetric int8 scalar quantization of the UNIT vector:
    ``q_i = round(127 · v_i / ‖v‖)`` → (vec_id, qv array<int>, with every
    element in [-127, 127]). The 100 TB motivation: 4 bytes/dim float →
    1 byte/dim with ≈1% cosine error (measured in tests/test_ann.py),
    so the candidate-pair dot products in the dedup/ANN paths move 4×
    less data and run on exact integer arithmetic (bit-identical across
    engines — no float-parity seams in the hot compare)."""
    norm = ("sqrt(aggregate(transform(v, x -> x * x), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))")
    return emb.selectExpr(
        "vec_id",
        f"transform(v, x -> CAST(round(127.0 * x / ({norm})) AS INT)) "
        "AS qv")


def ann_quantized_topk(emb: DataFrame, *, k: int = 3,
                       n_queries: int = 10) -> DataFrame:
    """Brute-force top-k over int8-quantized cosine (the quantized
    baseline twin of ``ann_cosine_topk``; the scale path composes the
    same IVF cell machinery with ``quantize_embeddings``). The integer
    dot is exact, so ranking is engine-portable by construction.

    Output ``(query_id, neighbor_id, rank, qsim_r)`` where qsim is the
    integer dot rescaled by 1/127²."""
    q = (quantize_embeddings(emb).filter(f"vec_id < {n_queries}")
         .selectExpr("vec_id AS query_id", "qv AS qa"))
    c = quantize_embeddings(emb).selectExpr("vec_id AS neighbor_id",
                                            "qv AS qb")
    dot = ("aggregate(zip_with(qa, qb, (x, y) -> CAST(x AS BIGINT) * y), "
           "CAST(0 AS BIGINT), (acc, x) -> acc + x)")
    sims = (F.broadcast(q).join(c, F.expr("query_id != neighbor_id"))
            .selectExpr("query_id", "neighbor_id", f"({dot}) AS qdot"))
    w = Window.partitionBy("query_id").orderBy(F.desc("qdot"),
                                               F.asc("neighbor_id"))
    return (sims.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .selectExpr("query_id", "neighbor_id",
                        "CAST(rank AS BIGINT) AS rank",
                        # NB: a bare 127.0 literal is DECIMAL in Spark SQL
                        # (decimal division → decimal round → Decimal rows,
                        # breaking cross-engine float normalization)
                        "round(qdot / CAST(16129 AS DOUBLE), 4) AS qsim_r"))


def ann_quantized_oracle_sql(*, k: int = 3, n_queries: int = 10,
                             table: str = "embeddings") -> str:
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}),
    qn AS (
      SELECT vec_id,
             list_transform(v, x -> CAST(ROUND(
               127.0 * x / sqrt(list_dot_product(v, v))) AS BIGINT)) AS qv
      FROM e),
    s AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_dot_product(q.qv::DOUBLE[], c.qv::DOUBLE[])
                  AS BIGINT) AS qdot
      FROM qn q JOIN qn c ON q.vec_id < {n_queries}
             AND q.vec_id != c.vec_id),
    r AS (SELECT query_id, neighbor_id, qdot,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY qdot DESC, neighbor_id) AS rnk
          FROM s)
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank,
           ROUND(qdot / (127.0 * 127.0), 4) AS qsim_r
    FROM r WHERE rnk <= {k}"""


# --------------------------------------------------------------------------
# Product quantization (integer-exact, round 7)
# --------------------------------------------------------------------------

#: 16 subspaces × 4 dims × 4-bit codes = 8 bytes/vector (32× vs float).
#: Config chosen by a measured sweep on the near-random synthetic
#: embeddings (the HARD case for PQ): M=16/ks=16 reads recall@3 0.40 and
#: true-top3-within-ADC-top10 0.70, vs 0.13/0.30 at M=8 — finer
#: subspaces beat more codes at equal budget here. PQ is a SHORTLIST
#: layer: rank a top-R candidate list by integer ADC, rerank the R
#: survivors exactly (the int8/float paths above) — not a final ranking.
PQ_M = 16         # subspaces (64-dim embeddings → 4 dims each)
PQ_KS = 16        # codes per subspace (4-bit codes)
PQ_ITERS = 2      # Lloyd iterations per subspace


def _pq_shifted_subvectors(emb: DataFrame) -> DataFrame:
    """(vec_id, m, d, x): int8-quantized unit vectors (exact in both
    engines — quantize_embeddings) SHIFTED by +127 into [0, 254] and
    exploded to long format. The shift makes every value non-negative
    so the integer rounding/div below is dialect-safe (CLAUDE.md:
    DIV/`//` agree on non-negatives only); L2 distances are translation
    -invariant, so this IS PQ on the quantized vectors."""
    q = quantize_embeddings(emb)
    return (q.select("vec_id", F.posexplode(
        F.expr("transform(qv, x -> CAST(x + 127 AS BIGINT))"))
        .alias("pos", "x"))
        .selectExpr("vec_id",
                    f"CAST(pos DIV {64 // PQ_M} AS INT) AS m",
                    f"CAST(pos % {64 // PQ_M} AS INT) AS d", "x"))


def _pq_assign(sub: DataFrame, cents: DataFrame) -> DataFrame:
    """argmin-cell assignment per (vec_id, m) by integer squared L2:
    join on (m, d), SUM((x-c)^2) — integer, order-independent, exact —
    tie-break cell_id. ``cents`` is long-format (m, cell_id, d, c)."""
    dist = (sub.join(cents, ["m", "d"])
            .groupBy("vec_id", "m", "cell_id")
            .agg(F.sum(F.expr("(x - c) * (x - c)")).alias("l2sq")))
    w = Window.partitionBy("vec_id", "m").orderBy(F.asc("l2sq"),
                                                  F.asc("cell_id"))
    return (dist.withColumn("rnk", F.row_number().over(w))
            .filter("rnk = 1").select("vec_id", "m", "cell_id", "l2sq"))


def pq_train_codebooks(emb: DataFrame, *, ks: int = PQ_KS,
                       iters: int = PQ_ITERS) -> DataFrame:
    """Train per-subspace PQ codebooks (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011) with
    INTEGER-EXACT Lloyd iterations: init = the first ``ks`` vectors'
    subvectors (by vec_id — deterministic, SQL-mirrorable), assignment
    by integer squared-L2 argmin, centroid update by round-half-up
    integer mean ``(2*S + N) DIV (2*N)`` on the shifted non-negative
    domain — no float appears anywhere, so the DuckDB twin replays
    training bit-for-bit (stronger than the float-kmeans rounding
    contract used by the IVF oracle).

    Scale shape: assignments are a long-format equi-join on (m, d) —
    the codebook side is ks*64 rows (broadcast), the probe side 64
    rows/vector — plus a partial-agg SUM; centroid updates aggregate to
    M*ks*d rows. Nothing driver-side grows with N.

    Returns long-format codebooks ``(m, cell_id, d, c)``."""
    sub = _pq_shifted_subvectors(emb)
    sub = sub.persist()
    first = (emb.orderBy("vec_id").limit(ks)
             .select("vec_id").withColumn(
                 "cell_id", F.expr(
                     "CAST(row_number() OVER (ORDER BY vec_id) - 1 "
                     "AS INT)")))
    cents = (sub.join(first, "vec_id")
             .select("m", "cell_id", "d", F.col("x").alias("c")))
    for _ in range(iters):
        assign = _pq_assign(sub, F.broadcast(cents))
        cents = (sub.join(assign.select("vec_id", "m", "cell_id"),
                          ["vec_id", "m"])
                 .groupBy("m", "cell_id", "d")
                 .agg(F.expr("CAST((2 * sum(x) + count(*)) "
                             "DIV (2 * count(*)) AS BIGINT)").alias("c")))
        cents = cents.localCheckpoint()
    sub.unpersist()
    return cents


def ann_pq_topk(emb: DataFrame, *, k: int = 3, n_queries: int = 10,
                ks: int = PQ_KS, iters: int = PQ_ITERS) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: encode every
    vector as ``PQ_M`` 4-bit codes against the trained codebooks, then
    rank neighbors for the first ``n_queries`` RAW (shifted) query
    vectors by the integer ADC distance Σ_m ‖query_sub −
    codeword(code_m)‖². 64 dims × 4 bytes → 8 half-byte codes is the
    memory story; the integer arithmetic is the exactness story
    (ranking and distances are bit-identical across engines — ties
    break on neighbor_id deterministically, no float round contract
    needed). Output ``(query_id, neighbor_id, rank, adc_l2sq)``."""
    cents = pq_train_codebooks(emb, ks=ks, iters=iters).persist()
    sub = _pq_shifted_subvectors(emb)
    codes = _pq_assign(sub, F.broadcast(cents)) \
        .select("vec_id", "m", "cell_id")
    qsub = (sub.filter(f"vec_id < {n_queries}")
            .selectExpr("vec_id AS query_id", "m", "d", "x"))
    # per-(query, m, cell) partial ADC table: model-sized (n_queries ×
    # M × ks rows), broadcast into the code join
    adc = (qsub.join(F.broadcast(cents), ["m", "d"])
           .groupBy("query_id", "m", "cell_id")
           .agg(F.sum(F.expr("(x - c) * (x - c)")).alias("pd")))
    sims = (codes.join(F.broadcast(adc), ["m", "cell_id"])
            .filter("vec_id != query_id")
            .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
            .agg(F.sum("pd").alias("adc_l2sq")))
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_l2sq"),
                                               F.asc("neighbor_id"))
    out = (sims.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= k)
           .selectExpr("query_id", "neighbor_id",
                       "CAST(rank AS BIGINT) AS rank", "adc_l2sq"))
    out = out.localCheckpoint()
    cents.unpersist()
    return out


def _pq_sub_cte(table: str) -> str:
    w = 64 // PQ_M
    return f"""
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}),
    qn AS (
      SELECT vec_id,
             list_transform(v, x -> CAST(ROUND(
               127.0 * x / sqrt(list_dot_product(v, v))) AS BIGINT) + 127)
               AS qv
      FROM e),
    sub AS (
      SELECT vec_id,
             CAST((i - 1) // {w} AS INTEGER) AS m,
             CAST((i - 1) % {w} AS INTEGER) AS d,
             qv[CAST(i AS INTEGER)] AS x
      FROM qn, generate_series(1, 64) g(i))"""


def _pq_assign_cte(name: str, cents: str) -> str:
    return f"""
    {name} AS (
      SELECT vec_id, m, cell_id, l2sq FROM (
        SELECT s.vec_id, s.m, c.cell_id,
               SUM((s.x - c.c) * (s.x - c.c)) AS l2sq,
               ROW_NUMBER() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY SUM((s.x - c.c) * (s.x - c.c)), c.cell_id)
                 AS rnk
        FROM sub s JOIN {cents} c ON c.m = s.m AND c.d = s.d
        GROUP BY s.vec_id, s.m, c.cell_id)
      WHERE rnk = 1)"""


def ann_pq_oracle_sql(*, k: int = 3, n_queries: int = 10,
                      ks: int = PQ_KS, iters: int = PQ_ITERS,
                      table: str = "embeddings") -> str:
    parts = [_pq_sub_cte(table), f"""
    cent0 AS (
      SELECT s.m, f.cell_id, s.d, s.x AS c
      FROM sub s JOIN (
        SELECT vec_id,
               CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                 AS cell_id
        FROM (SELECT DISTINCT vec_id FROM sub ORDER BY vec_id
              LIMIT {ks})) f
        ON f.vec_id = s.vec_id)"""]
    for i in range(iters):
        parts.append(_pq_assign_cte(f"assign{i}", f"cent{i}"))
        parts.append(f"""
    cent{i + 1} AS (
      SELECT s.m, a.cell_id, s.d,
             (2 * SUM(s.x) + COUNT(*)) // (2 * COUNT(*)) AS c
      FROM sub s JOIN assign{i} a
        ON a.vec_id = s.vec_id AND a.m = s.m
      GROUP BY s.m, a.cell_id, s.d)""")
    parts.append(_pq_assign_cte("codes", f"cent{iters}"))
    parts.append(f"""
    adc AS (
      SELECT s.vec_id AS query_id, s.m, c.cell_id,
             SUM((s.x - c.c) * (s.x - c.c)) AS pd
      FROM sub s JOIN cent{iters} c ON c.m = s.m AND c.d = s.d
      WHERE s.vec_id < {n_queries}
      GROUP BY s.vec_id, s.m, c.cell_id),
    sims AS (
      SELECT a.query_id, cd.vec_id AS neighbor_id,
             CAST(SUM(a.pd) AS BIGINT) AS adc_l2sq
      FROM codes cd JOIN adc a
        ON a.m = cd.m AND a.cell_id = cd.cell_id
      WHERE cd.vec_id != a.query_id
      GROUP BY a.query_id, cd.vec_id),
    ranked AS (
      SELECT query_id, neighbor_id, adc_l2sq,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_l2sq, neighbor_id) AS rnk
      FROM sims)""")
    return ("WITH " + ",".join(parts) + f"""
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank, adc_l2sq
    FROM ranked WHERE rnk <= {k}""")
