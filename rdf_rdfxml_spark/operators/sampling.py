"""Deterministic sampling & split operators for training-data curation.

A training pipeline's LAST mile is composing the corpus mix: per-source
sampling rates ("keep 100% of wiki, 8% of crawl"), held-out splits, and
down-weighting — and at 100 TB these decisions must be DETERMINISTIC
(resume/retry-stable, reproducible across runs and engines), never
``rand()``-based (a retried task would re-toss its coins and break
exactly-once semantics; CLAUDE.md's determinism invariant).

Decision function: ``u(doc) = int(md5(salt || ':' || doc_id)[:8], 16)``
— a uniform 32-bit hash both Spark and DuckDB evaluate bit-identically
(the sketch.py hash-portability pattern), so every sampling decision is
oracle-checkable. Changing ``salt`` draws an independent sample;
keeping it pins the exact row set forever.

Scale shape: both operators are a single narrow projection + filter —
no shuffle, no RNG state, trivially parallel; rates compose with any
upstream dedup/quality stage.

Reference parity note: ruby-rdf/rdf-rdfxml has no sampling surface;
this exists for the brief's training-data pipeline operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

U32 = 1 << 32


def _u32_expr(salt: str, id_col: str) -> str:
    """The portable uniform hash: first 8 md5 hex chars as a 32-bit int
    (Spark ``conv``; DuckDB mirrors with ``::UBIGINT``)."""
    if "'" in salt or "\\" in salt:   # interpolated as a SQL literal
        raise ValueError(f"salt must not contain quotes or backslashes: "
                         f"{salt!r}")
    return (f"CAST(conv(substring(md5(concat('{salt}', ':', "
            f"CAST({id_col} AS STRING))), 1, 8), 16, 10) AS BIGINT)")


def _rate_sql(rate) -> str:
    """``str(rate)`` as the oracle interpolates it; refused in scientific
    notation, which DuckDB reads as a DOUBLE, not a DECIMAL."""
    lit = str(rate)
    if "e" in lit.lower():
        raise ValueError(f"rate {lit} is in scientific notation; the "
                         "DuckDB threshold seam needs a plain decimal")
    return lit


def _duckdb_cut(rate) -> int:
    """The keep threshold ``rate * 2^32`` exactly as the (frozen) DuckDB
    oracle computes it from the interpolated literal: ``str(rate)``
    parses as a DECIMAL, the product is exact decimal arithmetic, and
    ``CAST(DECIMAL AS BIGINT)`` rounds half away from zero. Spark's
    ``CAST(0.8 * 4294967296 AS BIGINT)`` instead TRUNCATES (3435973836
    vs DuckDB's 3435973837) — the CAST-rounding dialect seam CLAUDE.md
    flags — so the threshold is computed HERE, once, and both the Spark
    filter and any future caller share the oracle's exact integer
    (pinned vs live DuckDB by tests/test_sampling_seam.py)."""
    from decimal import ROUND_HALF_UP, Decimal
    return int((Decimal(_rate_sql(rate)) * U32).quantize(
        Decimal(1), rounding=ROUND_HALF_UP))


def _split_cut(heldout_frac: float) -> int:
    """The held-out threshold ``int(frac * 2^32)`` (float product,
    truncated): the one integer :func:`holdout_split` and
    :func:`split_oracle_sql` both interpolate, so they cannot drift."""
    return int(heldout_frac * U32)


def stratified_sample(docs: DataFrame, rates: dict, *,
                      stratum_col: str = "source",
                      id_col: str = "doc_id",
                      default_rate: float = 0.0,
                      salt: str = "sample:v1") -> DataFrame:
    """Deterministic per-stratum Bernoulli sample: keep a row iff
    ``u32(salt, id) < rate[stratum] * 2^32``. Rows whose stratum has no
    configured rate use ``default_rate`` (0.0 = drop — an unlisted
    source never silently leaks into the mix). Output: the input rows
    that survive, unchanged.

    The threshold integer comes from :func:`_duckdb_cut` so Spark and
    the DuckDB oracle agree on EVERY u32 value (a doc whose hash lands
    exactly on a truncated-vs-rounded boundary — near-certain somewhere
    in a 100 TB corpus — would otherwise be kept by one engine only);
    the stratum dispatch is built from Column expressions, never
    interpolated into SQL text, so stratum values containing quotes
    cannot produce malformed SQL."""
    cut = F.lit(_duckdb_cut(default_rate))
    for stratum, rate in sorted(rates.items()):
        assert 0.0 <= rate <= 1.0, (stratum, rate)
        cut = (F.when(F.col(stratum_col) == F.lit(stratum),
                      F.lit(_duckdb_cut(rate)))
               .otherwise(cut))
    return docs.filter(F.expr(_u32_expr(salt, id_col)) < cut)


def holdout_split(docs: DataFrame, heldout_frac: float, *,
                  id_col: str = "doc_id",
                  salt: str = "split:v1") -> DataFrame:
    """Deterministic train/held-out assignment: adds a ``split`` column
    (``'heldout'`` iff ``u32 < frac * 2^32`` else ``'train'``). The
    SAME doc lands in the same split in every run, engine, and retry —
    and because the hash is keyed on the document id, the split is
    stable under corpus growth (new docs never reshuffle old ones)."""
    assert 0.0 <= heldout_frac <= 1.0
    cut = _split_cut(heldout_frac)
    return docs.withColumn(
        "split",
        F.expr(f"CASE WHEN {_u32_expr(salt, id_col)} < {cut} "
               f"THEN 'heldout' ELSE 'train' END"))


_NTOK = ("CAST(size(filter(split({text_col}, ' '), t -> t <> '')) "
         "AS BIGINT)")


def mix_plan(docs: DataFrame, *, stratum_col: str = "source",
             text_col: str = "text", alpha: str = "sqrt",
             token_budget: int = 1_000_000) -> DataFrame:
    """Temperature-based corpus mixture plan: per-stratum token counts
    and the sampling weights a multinomial data mixer would draw with
    (the standard ``p_d ∝ n_d^alpha`` rule — ``alpha='sqrt'`` (0.5)
    up-weights small domains, ``'linear'`` (1.0) is proportional).

    One row per stratum: ``(stratum, n_docs, n_tokens, weight_ppm,
    alloc_tokens)`` — weight in exact parts-per-million and the token
    allocation under ``token_budget``.

    Cross-engine exactness: generic ``pow(x, a)`` is libm-dependent
    (JVM vs DuckDB can differ in the last ulp, which an integer cast
    amplifies), so only exponents with IEEE-exact kernels are offered:
    ``sqrt`` is correctly rounded everywhere, and the weight is
    immediately floored to an integer (``floor(sqrt(n)*1000)``) so ALL
    downstream arithmetic is BIGINT-exact in both engines — the same
    no-libm-seam discipline as tfidf's rational idf. Integer headroom:
    products stay < 2^63 while total weight < ~9.2e12 — sqrt
    compression keeps 100 TB corpora (~1e13 tokens/stratum → w ~ 3e9)
    far inside; 'linear' callers beyond ~9e12 total tokens should
    pre-scale.

    Scale shape: one partial-agg pass over the corpus; the global
    total is a window over the TINY per-stratum aggregate (n_strata
    rows on one task — never the corpus), so the corpus is scanned
    exactly once.
    """
    assert alpha in ("sqrt", "linear"), alpha
    assert token_budget > 0
    ntok = F.expr(_NTOK.format(text_col=text_col))
    s = (docs.groupBy(F.col(stratum_col).alias("stratum"))
         .agg(F.count("*").alias("n_docs"),
              F.sum(ntok).alias("n_tokens")))
    if alpha == "sqrt":
        w = F.expr("CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000.0) "
                   "AS BIGINT)")
    else:
        w = F.col("n_tokens")
    from pyspark.sql import Window
    w_all = (Window.partitionBy(F.lit(1)).orderBy(F.lit(1))
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    return (s.withColumn("_w", w)
            .withColumn("_tot", F.sum("_w").over(w_all))
            .select("stratum", "n_docs", "n_tokens",
                    F.expr("(_w * 1000000) DIV _tot").alias("weight_ppm"),
                    F.expr(f"({token_budget} * _w) DIV _tot")
                    .alias("alloc_tokens")))


def source_quota(docs: DataFrame, quota: int, *,
                 stratum_col: str = "source",
                 id_col: str = "doc_id",
                 salt: str = "quota:v1",
                 n_salts: int = 32) -> DataFrame:
    """Per-stratum document CAP: keep at most ``quota`` documents per
    ``stratum_col`` value — the RefinedWeb-style per-domain quota that
    stops one mega-site from dominating the mix. Output ``(id_col,
    stratum_col, rank)`` with ``rank`` in 1..quota (BIGINT).

    Selection is the ``quota`` smallest ``(u32(salt, id), id)`` pairs
    per stratum — i.e. a deterministic uniform sample of exactly
    ``quota`` docs (CLAUDE.md determinism invariant: retries and
    engines agree bit-for-bit, and the oracle replays it as one
    window).

    Scale shape — two-phase top-k-per-key, all JVM-side. Spark >= 3.5
    already inserts a PARTIAL ``WindowGroupLimit`` before the shuffle
    (visible in the committed plan), so even a naive single window
    ships only ``quota`` rows per hot key per MAP TASK — but its final
    reducer still receives ``quota x n_map_tasks`` rows for the hot
    stratum, a bound that grows with cluster width. Phase 1 here ranks
    over ``(stratum, salt_bucket)`` — the hot key spreads across
    ``n_salts`` tasks — and keeps <= quota rows per bucket; phase 2
    ranks the surviving <= ``n_salts * quota`` rows per stratum (a
    CONSTANT-size reducer regardless of corpus or cluster width, and
    each window benefits from the same partial group-limit). Exact:
    every
    global top-``quota`` element is top-``quota`` within its own
    bucket, so phase 1 never discards a winner, and the phase-2
    ordering key is identical — ranks match the single-window result
    bit-for-bit (pinned by tests/test_lines.py)."""
    assert quota >= 1 and n_salts >= 1
    from pyspark.sql import Window
    pruned = (docs
              .withColumn("_u", F.expr(_u32_expr(salt, id_col)))
              .withColumn("_b", F.expr(
                  f"pmod(xxhash64(CAST({id_col} AS STRING)), {n_salts})"))
              .select(id_col, stratum_col, "_u", "_b"))
    w1 = Window.partitionBy(stratum_col, "_b").orderBy("_u", id_col)
    w2 = Window.partitionBy(stratum_col).orderBy("_u", id_col)
    return (pruned
            .withColumn("_rn1", F.row_number().over(w1))
            .filter(F.col("_rn1") <= quota)
            .withColumn("rank", F.row_number().over(w2).cast("long"))
            .filter(F.col("rank") <= quota)
            .select(id_col, stratum_col, "rank"))


def source_quota_oracle_sql(quota: int, *, stratum_col: str = "source",
                            id_col: str = "doc_id",
                            salt: str = "quota:v1",
                            table: str = "documents") -> str:
    """DuckDB twin of :func:`source_quota` — the salt buckets are a
    physical-plan device only, so the oracle is the single logical
    window."""
    u = (f"CAST(('0x' || substring(md5('{salt}' || ':' || "
         f"CAST({id_col} AS STRING)), 1, 8))::VARCHAR::UBIGINT AS BIGINT)")
    return f"""
    SELECT {id_col}, {stratum_col}, CAST(rn AS BIGINT) AS rank FROM (
      SELECT {id_col}, {stratum_col},
             ROW_NUMBER() OVER (PARTITION BY {stratum_col}
                                ORDER BY {u}, {id_col}) AS rn
      FROM {table})
    WHERE rn <= {quota}"""


def mix_plan_ctes(*, stratum_col: str = "source",
                  text_col: str = "text", alpha: str = "sqrt",
                  token_budget: int = 1_000_000,
                  table: str = "documents",
                  out: str = "mix_plan") -> str:
    """:func:`mix_plan` as a spliceable CTE chain ending in
    ``{out}(stratum, n_docs, n_tokens, weight_ppm, alloc_tokens)`` —
    used by :func:`mix_plan_oracle_sql` and composed into the
    plan-execution oracle. Internal names carry the ``mp_`` prefix."""
    assert alpha in ("sqrt", "linear"), alpha
    ntok = (f"CAST(len(list_filter(string_split({text_col}, ' '), "
            f"t -> t <> '')) AS BIGINT)")
    w = ("CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000.0) AS BIGINT)"
         if alpha == "sqrt" else "n_tokens")
    return f"""mp_s AS (
      SELECT {stratum_col} AS stratum,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM({ntok}) AS BIGINT) AS n_tokens
      FROM {table} GROUP BY 1),
    mp_w AS (SELECT *, {w} AS w FROM mp_s),
    mp_t AS (SELECT CAST(SUM(w) AS BIGINT) AS tot FROM mp_w),
    {out} AS (
      SELECT stratum, n_docs, n_tokens,
             CAST((w * 1000000) // tot AS BIGINT) AS weight_ppm,
             CAST(({token_budget} * w) // tot AS BIGINT) AS alloc_tokens
      FROM mp_w, mp_t)"""


def mix_plan_oracle_sql(*, stratum_col: str = "source",
                        text_col: str = "text", alpha: str = "sqrt",
                        token_budget: int = 1_000_000,
                        table: str = "documents") -> str:
    """DuckDB twin of :func:`mix_plan` — identical IEEE sqrt + floor,
    then pure BIGINT arithmetic (``//`` floors like Spark's ``DIV`` on
    the non-negative weights; SUM widens to HUGEINT, cast back)."""
    return f"""
    WITH {mix_plan_ctes(stratum_col=stratum_col, text_col=text_col,
                        alpha=alpha, token_budget=token_budget,
                        table=table, out="mix_plan")}
    SELECT stratum, n_docs, n_tokens, weight_ppm, alloc_tokens
    FROM mix_plan"""


def mix_execute(docs: DataFrame, *, stratum_col: str = "source",
                text_col: str = "text", id_col: str = "doc_id",
                alpha: str = "sqrt", token_budget: int = 1_000_000,
                salt: str = "mix:v1") -> DataFrame:
    """EXECUTE the temperature mixture plan: a deterministic Bernoulli
    sample per stratum whose expected token mass equals the plan's
    ``alloc_tokens``. Output one row per stratum: ``(stratum,
    alloc_tokens, n_kept, kept_tokens)``, all BIGINT.

    The keep rule is the exact-integer threshold
    ``u32(salt, id) < cut`` with ``cut = alloc_tokens * 2^32 DIV
    n_tokens`` (capped at 2^32 — an up-weighted stratum whose alloc
    exceeds its supply keeps EVERYTHING; the surplus is an epoch
    decision for the dataloader, not a sampling one). Rates never
    exist as floats, so plan → execution is reproducible bit-for-bit
    across engines and retries.

    Scale shape: the plan aggregate is stratum-sized and broadcast
    into the corpus scan; the scan itself is one narrow
    projection+filter followed by a partial-agg rollup — no extra
    corpus shuffle beyond :func:`mix_plan`'s own aggregate."""
    plan = mix_plan(docs, stratum_col=stratum_col, text_col=text_col,
                    alpha=alpha, token_budget=token_budget)
    # n_tokens = 0 (a stratum of empty texts) would be a DIV-by-zero
    # dialect seam (Spark DIV → NULL, DuckDB // → error); such a
    # stratum has nothing to allocate — keep nothing, explicitly.
    cut = (plan.filter(F.col("n_tokens") > 0).select(
        "stratum", "alloc_tokens",
        F.expr(f"least(CAST({U32} AS BIGINT), "
               f"(alloc_tokens * CAST({U32} AS BIGINT)) DIV n_tokens)")
        .alias("cut")))
    ntok = F.expr(_NTOK.format(text_col=text_col))
    kept = (docs
            .select(F.col(stratum_col).alias("stratum"),
                    F.expr(_u32_expr(salt, id_col)).alias("_u"),
                    ntok.alias("_nt"))
            .join(F.broadcast(cut), "stratum")
            .filter(F.col("_u") < F.col("cut")))
    return (kept.groupBy("stratum", "alloc_tokens")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("_nt").alias("kept_tokens"))
            .select("stratum", "alloc_tokens", "n_kept", "kept_tokens"))


def mix_execute_oracle_sql(*, stratum_col: str = "source",
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           alpha: str = "sqrt",
                           token_budget: int = 1_000_000,
                           salt: str = "mix:v1",
                           table: str = "documents") -> str:
    """DuckDB twin of :func:`mix_execute` — splices the plan CTEs and
    replays the integer threshold keep rule."""
    ntok = (f"CAST(len(list_filter(string_split(d.{text_col}, ' '), "
            f"t -> t <> '')) AS BIGINT)")
    u = (f"CAST(('0x' || substring(md5('{salt}' || ':' || "
         f"CAST(d.{id_col} AS STRING)), 1, 8))::VARCHAR::UBIGINT "
         f"AS BIGINT)")
    return f"""
    WITH {mix_plan_ctes(stratum_col=stratum_col, text_col=text_col,
                        alpha=alpha, token_budget=token_budget,
                        table=table, out="mix_plan")},
    mx_cut AS (
      SELECT stratum, alloc_tokens,
             least(CAST({U32} AS BIGINT),
                   (alloc_tokens * CAST({U32} AS BIGINT)) // n_tokens)
               AS cut
      FROM mix_plan WHERE n_tokens > 0)
    SELECT c.stratum, c.alloc_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM({ntok}) AS BIGINT) AS kept_tokens
    FROM {table} d JOIN mx_cut c ON d.{stratum_col} = c.stratum
    WHERE {u} < c.cut
    GROUP BY c.stratum, c.alloc_tokens"""


def sample_oracle_sql(rates: dict, *, stratum_col: str = "source",
                      id_col: str = "doc_id",
                      default_rate: float = 0.0,
                      salt: str = "sample:v1",
                      table: str = "documents") -> str:
    """DuckDB twin of :func:`stratified_sample` (count + id-sum per
    stratum — compact but value-pinning: any single different keep
    decision changes the sum). Interpolated string literals are
    ``''``-escaped (identical output for quote-free values, so the
    gated oracle text is unchanged); the Spark side's driver-computed
    :func:`_duckdb_cut` integer equals this SQL's
    ``CAST(rate * 2^32 AS BIGINT)`` by construction."""
    expr = f"CAST({_rate_sql(default_rate)} * {U32} AS BIGINT)"
    for stratum, rate in sorted(rates.items()):
        sv = str(stratum).replace("'", "''")
        expr = (f"CASE WHEN {stratum_col} = '{sv}' THEN "
                f"CAST({_rate_sql(rate)} * {U32} AS BIGINT) ELSE {expr} END")
    s = salt.replace("'", "''")
    u = (f"CAST(('0x' || substring(md5('{s}' || ':' || "
         f"CAST({id_col} AS STRING)), 1, 8))::VARCHAR::UBIGINT AS BIGINT)")
    return f"""
    SELECT {stratum_col} AS stratum,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM({id_col}) AS BIGINT) AS id_sum
    FROM {table}
    WHERE {u} < ({expr})
    GROUP BY {stratum_col}"""


def split_oracle_sql(heldout_frac: float, *, id_col: str = "doc_id",
                     salt: str = "split:v1",
                     table: str = "documents") -> str:
    """DuckDB twin of :func:`holdout_split` (per-split count + id-sum)."""
    cut = _split_cut(heldout_frac)
    u = (f"CAST(('0x' || substring(md5('{salt}' || ':' || "
         f"CAST({id_col} AS STRING)), 1, 8))::VARCHAR::UBIGINT AS BIGINT)")
    return f"""
    SELECT CASE WHEN {u} < {cut} THEN 'heldout' ELSE 'train' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM({id_col}) AS BIGINT) AS id_sum
    FROM {table}
    GROUP BY 1"""
