"""Distributed connected components (hash-min label propagation) — the
clustering step that turns near-duplicate candidate *pairs* into dedup
*groups* (keep one canonical document per component).

Algorithm: every node starts labeled with its own id; each iteration
propagates the minimum label across edges (both directions) and joins it
back; stop when no label changed. Min-propagation moves one hop per
iteration, so rounds ≈ component diameter — near-dup clusters are shallow
(a dup cluster is near-clique), so convergence is 2-3 rounds in practice;
``max_iters`` bounds the pathological chain case.

Scale notes: each round is one shuffle of (node, label) + one of the edge
join — all narrow-width rows; labels are re-checkpointed per round
(``localCheckpoint``) so the lineage doesn't grow unboundedly across
iterations (the classic iterative-algorithm footgun: O(iters)-deep plans
re-execute everything each action). Deterministic throughout (min), so
retries/backfills converge identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(probe: DataFrame, build: DataFrame, key: str, *,
                salt_factor: int = 8, hot_keys: list | None = None,
                hot_support: float = 0.05,
                how: str = "inner") -> DataFrame:
    """Hot-key-targeted salted equi-join — the one key-salting kernel:
    ``encode_triples``' dictionary joins under dense ids (linking.py;
    hash ids encode by projection, with no join) and the skewed graph
    traversals, like the two-hop ``object = subject`` self-join
    where one hub node holds most of the probe rows (the shape real KGs
    have: a handful of entities referenced by 90% of documents).

    Only heavy-hitter keys salt: ``build`` rows for hot keys replicate
    ``salt_factor`` ways, ``probe`` rows for hot keys take a
    deterministic row-derived salt (xxhash64 over ALL probe columns —
    no rand(), retries idempotent), everything else keeps salt 0. The
    join RESULT is identical to the unsalted join for any hot set; only
    the physical distribution changes — the hub's rows spread over
    ``salt_factor`` reducers instead of one straggler.

    ``hot_keys``: heavy-hitter key values; detected with one
    ``freqItems`` pass over the probe side when ``None`` (cache and
    pass explicitly across repeated joins of a static graph).
    Measured on a 90%-hot-hub two-hop at 8M edges: straggler ratio
    3.5 → ~1.0 (PERF.md §20).

    ``how`` is restricted to {'inner', 'left', 'left_semi'}: with a
    replicated build side, right/full outer joins would emit one
    null-extended (or duplicate) row per UNMATCHED hot-key build
    replica, so the result would NOT equal the unsalted join."""
    allowed_how = {"inner", "left", "left_outer", "left_semi", "leftsemi"}
    if how not in allowed_how:
        raise ValueError(
            f"salted_join supports {sorted(allowed_how)}, not {how!r}: "
            "build-side replication breaks right/full outer semantics")
    if hot_keys is None:
        freq = probe.stat.freqItems([key], support=hot_support).first()
        hot_keys = sorted(set(freq[0]))
    if hot_keys:
        def _is_hot(c):
            return F.col(c).isin(list(hot_keys))
    else:
        def _is_hot(c):
            return F.lit(False)
    b = build.withColumn(
        "_salt", F.explode(F.when(
            _is_hot(key),
            F.array(*[F.lit(i) for i in range(salt_factor)]))
            .otherwise(F.array(F.lit(0)))))
    p = probe.withColumn(
        "_salt",
        F.when(_is_hot(key),
               F.pmod(F.xxhash64(*[F.col(c) for c in probe.columns]),
                      F.lit(salt_factor)).cast("int"))
        .otherwise(F.lit(0)))
    return p.join(b, [key, "_salt"], how).drop("_salt")


def connected_components(edges: DataFrame, *, max_iters: int = 25,
                         checkpoint: bool = True,
                         stats: dict | None = None,
                         hot_keys: list | None = None) -> DataFrame:
    """``edges(a, b)`` (undirected pairs) → ``(node, component)`` where
    ``component`` is the minimum node id in the node's component.
    Only nodes appearing in at least one edge are returned (singletons
    carry no dedup decision).

    ``stats``: optional dict filled with ``rounds`` (propagation rounds
    to convergence, = component diameter bound) — the attribution
    telemetry for scale runs: wall growth is rounds × per-round join
    cost, so recording rounds separates diameter growth from fan-out
    growth (the ``text_dedup`` group of tools/scale_legs.py, round-5
    verdict #2).

    ``hot_keys`` (round 6, VERDICT #5): hub node ids whose symmetrized
    degree dominates — the per-round ``join(labels, on src)`` is the
    skew point of the iterative stage (a 90%-hub's edge rows land on
    ONE reducer every round, so the straggler multiplies by round
    count; the min-label groupBy is already safe via partial
    aggregation). With hot keys the round join goes through
    :func:`salted_join` (value-identical); detect once per graph —
    e.g. ``detect_hot_keys``/freqItems — and reuse across rounds
    (the round-5 amortization lesson). Evidence:
    tools/iterative_skew_proof.py → PERF.md."""
    sym = (edges.selectExpr("a AS src", "b AS dst")
           .unionByName(edges.selectExpr("b AS src", "a AS dst")))
    labels = (sym.select(F.col("src").alias("node")).distinct()
              .withColumn("component", F.col("node")))
    converged = False
    for _it in range(max_iters):
        # candidate labels from neighbors, keep the minimum
        if hot_keys:
            prop = (salted_join(
                sym, labels.withColumnRenamed("node", "src"), "src",
                hot_keys=hot_keys)
                .select(F.col("dst").alias("node"),
                        F.col("component").alias("cand")))
        else:
            prop = (sym.join(labels, sym["src"] == labels["node"])
                    .select(F.col("dst").alias("node"),
                            F.col("component").alias("cand")))
        new_labels = (labels.select("node", F.col("component").alias("cand"))
                      .unionByName(prop)
                      .groupBy("node")
                      .agg(F.min("cand").alias("component")))
        if checkpoint:
            new_labels = new_labels.localCheckpoint(eager=True)
        changed = (new_labels
                   .join(labels.withColumnRenamed("component", "prev"),
                         "node")
                   .filter(F.col("component") != F.col("prev"))
                   .count())
        labels = new_labels
        if changed == 0:
            converged = True
            if stats is not None:
                stats["rounds"] = _it + 1
            break
    if not converged:
        # Silent partial propagation = wrong components; fail loud. A graph
        # needing more rounds has diameter > max_iters — raise, don't guess.
        raise ValueError(
            f"connected_components did not converge in {max_iters} rounds "
            f"(component diameter exceeds max_iters — raise it)")
    return labels


def component_stats(edges: DataFrame, **kw) -> DataFrame:
    """(component, n_members) rollup of :func:`connected_components` —
    the dedup-group inventory (canonical id = min member id)."""
    cc = connected_components(edges, **kw)
    return (cc.groupBy("component")
            .agg(F.count("*").alias("n_members")))


def components_oracle_sql(pairs_sql: str) -> str:
    """DuckDB twin: recursive min-label closure over the same pair set
    (``pairs_sql`` is any SELECT yielding columns a, b)."""
    return f"""
    WITH RECURSIVE pairs AS (SELECT * FROM ({pairs_sql}) t),
    sym AS (SELECT a AS src, b AS dst FROM pairs
            UNION SELECT b, a FROM pairs),
    reach(node, lbl) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.node),
    comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node)
    SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM comp GROUP BY component"""


def pagerank(edges: DataFrame, *, iters: int = 5, damping: float = 0.85,
             round_dec: int = 9, checkpoint: bool = True,
             hot_keys: list | None = None) -> DataFrame:
    """Fixed-iteration PageRank over directed ``edges(src, dst)`` →
    ``(node, rank)``.

    Simplified variant: dangling-node mass is NOT redistributed (ranks
    then don't sum to 1 when sinks exist) — a deliberate, documented
    choice that keeps the semantics exactly SQL-expressible so the
    DuckDB oracle can unroll the same iterations as CTEs. Per-iteration
    rounding to ``round_dec`` decimals is the cross-engine float
    contract (same argument as ``ann.kmeans_cells``: nondeterministic
    partial-sum order contributes ~1e-15, far below the grain, so both
    engines converge to bit-identical ranks).

    Scale shape: per iteration one join of ranks onto the (static,
    persisted) edge+outdegree table and one groupBy(dst) partial+final
    aggregate — narrow (node, double) rows only; ``localCheckpoint``
    per round bounds the lineage (the iterative-algorithm footgun).

    ``hot_keys`` (round 6, VERDICT #5): node ids with dominant
    OUT-degree — the contribution join keys on ``src``, so a 90%-hub
    source's edge rows hit ONE reducer every round (the groupBy(dst)
    side is already safe: sum() partially aggregates map-side even for
    a hot destination). With hot keys the round join goes through
    :func:`salted_join` (value-identical; the deterministic rounding
    contract is unaffected because the same additions happen, only on
    different reducers — verified identical in the proof tool).
    """
    nodes = (edges.selectExpr("src AS node")
             .unionByName(edges.selectExpr("dst AS node")).distinct())
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank needs a non-empty edge set")
    teleport = (1.0 - damping) / n
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # the one-time degree build keys on src too — with a hub it is the
    # SAME row-bound straggler as the per-round join (measured ratio
    # ~130 when only the round joins were salted), so it salts with them
    ed = (salted_join(edges, deg, "src", hot_keys=hot_keys)
          if hot_keys else edges.join(deg, "src")).persist()
    nodes = nodes.persist()
    # init via Spark round (HALF_UP) — Python round() is banker's and
    # could disagree with the oracle's ROUND on exact halves
    ranks = nodes.withColumn(
        "rank", F.expr(f"round(CAST(1.0 AS DOUBLE) / {n}, {round_dec})"))
    for _ in range(iters):
        rsrc = ranks.withColumnRenamed("node", "src")
        joined = (salted_join(ed, rsrc, "src", hot_keys=hot_keys)
                  if hot_keys else ed.join(rsrc, "src"))
        contrib = (joined.groupBy("dst")
                   .agg(F.sum(F.expr("rank / deg")).alias("c")))
        ranks = (nodes.join(contrib.withColumnRenamed("dst", "node"),
                            "node", "left")
                 .selectExpr(
                     "node",
                     f"round({teleport!r} + {damping!r} * "
                     f"coalesce(c, CAST(0.0 AS DOUBLE)), {round_dec}) "
                     "AS rank"))
        if checkpoint:
            ranks = ranks.localCheckpoint(eager=True)
    ed.unpersist()
    nodes.unpersist()
    return ranks


def pagerank_oracle_sql(edges_sql: str, *, iters: int = 5,
                        damping: float = 0.85, round_dec: int = 9) -> str:
    """DuckDB twin of :func:`pagerank`: the same fixed iterations
    unrolled as CTEs over ``edges_sql`` (a query yielding src, dst),
    identical teleport constant and per-iteration rounding."""
    parts = [f"""
    e AS ({edges_sql}),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
    r0 AS (SELECT node, ROUND(1.0 / (SELECT n FROM nn), {round_dec})
             AS rank
           FROM nodes)"""]
    for i in range(iters):
        parts.append(f"""
    r{i + 1} AS (
      SELECT nodes.node,
             ROUND((1.0 - {damping!r}) / (SELECT n FROM nn)
                   + {damping!r} * COALESCE(c.c, 0.0), {round_dec}) AS rank
      FROM nodes
      LEFT JOIN (
        SELECT e.dst, SUM(r{i}.rank / deg.deg) AS c
        FROM e JOIN deg ON deg.src = e.src
               JOIN r{i} ON r{i}.node = e.src
        GROUP BY e.dst) c ON c.dst = nodes.node)""")
    return ("WITH" + ",".join(parts)
            + f"\n    SELECT node, rank FROM r{iters}")


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph
    given as (src, dst) rows — the classic KG/community-structure
    statistic (and the clustering-coefficient numerator).

    Skew engineering IS the algorithm here: the naive wedge join
    explodes on hubs (a degree-d node generates d² wedges — a single
    celebrity entity at 100 TB stalls the stage). Degree-ordered
    ORIENTATION (each undirected edge directed from the (degree, id)-
    smaller endpoint to the larger — the Ortmann/Brandes / "rank-order"
    construction) bounds every node's ORIENTED out-degree by O(√m) on
    any graph, so the wedge join fan-out is bounded regardless of how
    skewed the raw degrees are: hubs become high-rank TARGETS, never
    wedge sources. Each triangle is then counted exactly once (its
    rank-minimal vertex owns it) by joining wedges (a→b, a→c) against
    the oriented closing edge (b→c).

    Plan shape: degree hash-agg (partial agg), two equi-joins on narrow
    (node, node) rows, one explode(3) + final hash-agg. No iteration,
    no windows, no UDFs. Returns ``(node, n_triangles)`` for every node
    appearing in an edge (0 if in no triangle), BIGINT.

    Dedup/cleanup contract: self-loops dropped, parallel edges and both
    orientations of the same undirected edge collapse to one.
    """
    und = (edges.selectExpr("least(src, dst) AS a",
                            "greatest(src, dst) AS b")
           .filter("a <> b").distinct())
    und = und.persist()
    deg = (und.selectExpr("a AS node").unionAll(und.selectExpr("b AS node"))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    nd = und.join(deg.withColumnRenamed("node", "a")
                  .withColumnRenamed("deg", "da"), "a") \
            .join(deg.withColumnRenamed("node", "b")
                  .withColumnRenamed("deg", "db"), "b")
    oriented = nd.selectExpr(
        "CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u",
        "CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v")
    oriented = oriented.persist()
    w1 = oriented.selectExpr("u AS a", "v AS b")
    w2 = oriented.selectExpr("u AS a", "v AS c")
    wedges = w1.join(w2, "a").filter("b < c")
    # a triangle's wedge pair is unordered — the closing edge may be
    # oriented b→c or c→b (orientation is by RANK, the wedge filter is
    # by NAME for determinism), so probe both directions
    closing = oriented.selectExpr("u AS b", "v AS c").unionAll(
        oriented.selectExpr("v AS b", "u AS c"))
    tris = wedges.join(closing, ["b", "c"])
    member = (tris.selectExpr("a AS node")
              .unionAll(tris.selectExpr("b AS node"))
              .unionAll(tris.selectExpr("c AS node"))
              .groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles")))
    out = (deg.select("node").join(member, "node", "left")
           .fillna(0, ["n_triangles"]))
    out = out.localCheckpoint()
    und.unpersist()
    oriented.unpersist()
    return out


def triangles_oracle_sql(edges_sql: str) -> str:
    """DuckDB twin of :func:`triangle_counts` over ``edges_sql``
    (a query producing (src, dst) rows): identical canonicalization,
    (degree, id) orientation, wedge + both-direction closing-edge join,
    membership explode."""
    return f"""
    WITH raw_edges AS ({edges_sql}),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw_edges WHERE src <> dst),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
      FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      GROUP BY node),
    oriented AS (
      SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.a ELSE u.b END AS u,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.b ELSE u.a END AS v
      FROM und u
      JOIN deg da ON da.node = u.a
      JOIN deg db ON db.node = u.b),
    wedges AS (
      SELECT w1.v AS b, w2.v AS c, w1.u AS a
      FROM oriented w1 JOIN oriented w2 ON w1.u = w2.u
      WHERE w1.v < w2.v),
    closing AS (
      SELECT u AS b, v AS c FROM oriented
      UNION ALL SELECT v, u FROM oriented),
    tris AS (
      SELECT w.a, w.b, w.c FROM wedges w JOIN closing USING (b, c)),
    member AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM (SELECT a AS node FROM tris UNION ALL SELECT b FROM tris
            UNION ALL SELECT c FROM tris)
      GROUP BY node)
    SELECT d.node, CAST(COALESCE(m.n_triangles, 0) AS BIGINT)
             AS n_triangles
    FROM deg d LEFT JOIN member m USING (node)"""


def kcore(edges: DataFrame, k: int, *, max_rounds: int = 32) -> DataFrame:
    """The k-core of an undirected graph given as (src, dst) rows: the
    maximal subgraph in which every node has degree >= ``k`` (Seidman,
    Social Networks 1983 — the standard KG/community pruning primitive;
    a dedup/link graph's k-core is its "dense evidence" region).
    Returns ``(node, core_deg)`` — the surviving nodes with their
    degree INSIDE the core (BIGINT); empty when no k-core exists.

    Algorithm: synchronous peeling — each round recomputes degrees
    (partial-agg hash aggregate over narrow node rows) and drops EVERY
    node below ``k`` at once via two left-semi joins, until a round
    removes nothing. Rounds are data-dependent but bounded by the
    peeling depth (the longest support chain), not by graph size — the
    gated corpus converges in 4; ``max_rounds`` is the loud backstop.

    Scale shape: per round, one degree hash-agg + two semi-joins on
    (node, node) rows — no windows, no UDFs, nothing corpus-sized on
    the driver (one COUNT scalar per round for the fixpoint test);
    ``localCheckpoint`` cuts the iterative lineage like the other
    iterative stages (pagerank/components). A full-degree hub is a
    semi-join build row, never a fan-out source.

    Dedup/cleanup contract matches :func:`triangle_counts`: self-loops
    dropped, parallel/bidirectional duplicates collapse.
    """
    assert k >= 1
    cur = (edges.selectExpr("least(src, dst) AS a",
                            "greatest(src, dst) AS b")
           .filter("a <> b").distinct())
    cur = cur.persist()
    prev_n = -1
    converged = False
    for _ in range(max_rounds):
        deg = (cur.selectExpr("a AS node")
               .unionAll(cur.selectExpr("b AS node"))
               .groupBy("node").agg(F.count(F.lit(1)).alias("core_deg")))
        keep = deg.filter(F.col("core_deg") >= k).persist()
        n = keep.count()
        if n == prev_n:
            keep.unpersist()
            converged = True
            break
        prev_n = n
        nxt = (cur.join(keep.selectExpr("node AS a"), "a", "left_semi")
               .join(keep.selectExpr("node AS b"), "b", "left_semi")
               .select("a", "b"))
        nxt = nxt.localCheckpoint(eager=True)
        cur.unpersist()
        keep.unpersist()
        cur = nxt
        if n == 0:
            converged = True
            break
    if not converged:
        # Fail-loud contract (matches connected_components and the
        # oracle's error() guard): exhausting max_rounds without the
        # fixpoint would silently return an under-peeled core.
        cur.unpersist()
        raise ValueError(
            f"kcore: peel did not reach its fixpoint within max_rounds="
            f"{max_rounds} — raise max_rounds")
    out = (cur.selectExpr("a AS node")
           .unionAll(cur.selectExpr("b AS node"))
           .groupBy("node").agg(F.count(F.lit(1)).alias("core_deg")))
    return out


def kcore_oracle_sql(edges_sql: str, k: int, *, n_rounds: int = 6) -> str:
    """DuckDB twin of :func:`kcore` — the synchronous peel replayed as
    ``n_rounds`` chained MATERIALIZED CTE levels (the BPE chained-
    oracle pattern; inlining would recompute level 0 exponentially),
    with a loud ``error()`` guard proving the last two levels are the
    fixpoint — if the graph needs more rounds, the oracle REFUSES
    rather than silently under-peeling."""
    assert n_rounds >= 2
    parts = [f"""raw_edges AS ({edges_sql}),
    e0 AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw_edges WHERE src <> dst)"""]
    for r in range(1, n_rounds + 1):
        parts.append(f"""n{r} AS MATERIALIZED (
      SELECT node FROM (SELECT a AS node FROM e{r - 1}
                        UNION ALL SELECT b FROM e{r - 1})
      GROUP BY node HAVING COUNT(*) >= {k})""")
        parts.append(f"""e{r} AS MATERIALIZED (
      SELECT e.a, e.b FROM e{r - 1} e
      SEMI JOIN n{r} na ON e.a = na.node
      SEMI JOIN n{r} nb ON e.b = nb.node)""")
    parts.append(f"""_fix AS (
      SELECT CASE WHEN (SELECT COUNT(*) FROM n{n_rounds})
                    <> (SELECT COUNT(*) FROM n{n_rounds - 1})
             THEN error('kcore oracle: not converged in {n_rounds} '
                        'rounds — raise n_rounds')
             ELSE 1 END AS ok)""")
    return f"""
    WITH {','.join(parts)}
    SELECT node, CAST(COUNT(*) AS BIGINT) AS core_deg
    FROM (SELECT a AS node FROM e{n_rounds}
          UNION ALL SELECT b FROM e{n_rounds}), _fix
    WHERE _fix.ok = 1
    GROUP BY node"""


def bfs_depths(edges: DataFrame, source: str, *,
               max_depth: int = 64) -> DataFrame:
    """Single-source BFS over an undirected graph given as (src, dst)
    rows: ``(node, depth)`` for every node reachable from ``source``
    (depth BIGINT, source itself at 0) — the traversal primitive
    behind hop-bounded neighborhoods, reachability audits, and
    harmonic-centrality style statistics.

    Frontier expansion: each round joins the CURRENT frontier against
    the (persisted) adjacency, anti-joins away already-visited nodes,
    and stamps the round number — narrow (node) rows only, one COUNT
    scalar per round, ``localCheckpoint`` on the accumulated visited
    set to bound lineage (the iterative-stage rule). Rounds =
    eccentricity of the source + 1, structure-bound like :func:`kcore`'s
    peel depth; ``max_depth`` bounds the reported depths (loudly).

    Dedup/cleanup contract matches the other graph ops: self-loops
    dropped, parallel/bidirectional duplicates collapse.
    """
    adj = (edges.selectExpr("least(src, dst) AS a",
                            "greatest(src, dst) AS b")
           .filter("a <> b").distinct())
    adj = (adj.selectExpr("a AS u", "b AS w")
           .unionAll(adj.selectExpr("b AS u", "a AS w"))).persist()
    spark = edges.sparkSession
    visited = spark.createDataFrame([(source, 0)], "node string, "
                                                   "depth long")
    frontier = visited.select("node")
    completed = False
    # Round max_depth + 1 is the completion proof: it must discover
    # nothing, so max_depth bounds the depths reported.
    for r in range(1, max_depth + 2):
        nxt = (adj.join(frontier.selectExpr("node AS u"), "u",
                        "left_semi")
               .selectExpr("w AS node").distinct()
               .join(visited.select("node"), "node", "left_anti")
               .withColumn("depth", F.lit(r).cast("long")))
        nxt = nxt.localCheckpoint(eager=True)
        if nxt.limit(1).count() == 0:
            completed = True
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
    adj.unpersist()
    if not completed:
        # Fail-loud contract (matches kcore/connected_components and the
        # oracle's empty-final-round error() guard): a frontier still
        # alive after max_depth rounds means depths would be silently
        # truncated for the unreached nodes.
        raise ValueError(
            f"bfs_depths: frontier still alive after max_depth="
            f"{max_depth} rounds — raise max_depth")
    return visited


def bfs_depths_oracle_sql(edges_sql: str, source: str, *,
                          n_rounds: int = 12) -> str:
    """DuckDB twin of :func:`bfs_depths` — the frontier expansion
    replayed as ``n_rounds`` chained MATERIALIZED levels with a loud
    ``error()`` guard proving round ``n_rounds`` discovered nothing
    (i.e. the traversal is complete — under-exploring is impossible,
    the oracle refuses instead)."""
    assert n_rounds >= 2
    parts = [f"""raw_edges AS ({edges_sql}),
    adj AS MATERIALIZED (
      SELECT a AS u, b AS w FROM (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM raw_edges WHERE src <> dst)
      UNION ALL
      SELECT b, a FROM (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM raw_edges WHERE src <> dst)),
    v0 AS MATERIALIZED (SELECT '{source}' AS node,
                               CAST(0 AS BIGINT) AS depth)"""]
    for r in range(1, n_rounds + 1):
        parts.append(f"""v{r} AS MATERIALIZED (
      SELECT * FROM v{r - 1}
      UNION ALL
      SELECT w AS node, CAST({r} AS BIGINT) AS depth FROM (
        SELECT DISTINCT adj.w FROM adj
        SEMI JOIN v{r - 1} f ON adj.u = f.node
                            AND f.depth = {r - 1}
        ANTI JOIN v{r - 1} s ON adj.w = s.node))""")
    parts.append(f"""_done AS (
      SELECT CASE WHEN (SELECT COUNT(*) FROM v{n_rounds})
                    <> (SELECT COUNT(*) FROM v{n_rounds - 1})
             THEN error('bfs oracle: frontier alive after {n_rounds} '
                        'rounds — raise n_rounds')
             ELSE 1 END AS ok)""")
    return f"""
    WITH {','.join(parts)}
    SELECT node, depth FROM v{n_rounds}, _done WHERE _done.ok = 1"""
