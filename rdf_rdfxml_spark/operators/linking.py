"""IRI / entity linking (SURVEY.md §2.4 D2).

Replaces the reference's process-global ``RDF::URI.intern`` cache
(reader.rb:130,692) with an explicit distributed dictionary:

1. **Dictionary build** — distinct terms over all three positions with
   stable 64-bit ids (``xxhash64`` of the canonical term encoding — no
   global sort, no window bottleneck; ids are reproducible across runs and
   cluster sizes, which a ``zipWithIndex``/row_number id would not be).
2. **Encode** — join triples ↔ dictionary per position.

Skew is structural here: at 10¹²-file scale a handful of IRIs
(``rdf:type``, top vocabulary terms) dominate the object/predicate columns.
Mitigations, in order:

* dictionaries are usually small relative to the fact table → **broadcast
  join** below ``broadcast_threshold`` rows (no shuffle of the triple table
  at all);
* above the threshold, **salted repartition join**: the *build* side is
  exploded ``salt_factor`` ways and the probe side picks a deterministic
  salt from a sharded hash, so one hot key spreads over ``salt_factor``
  reducers (SparkER-style key salting);
* AQE skew-join splitting stays on as backstop
  (``spark.sql.adaptive.skewJoin.enabled``).

A dense ``term_id`` (row_number) variant is provided for compact dictionary
encoding where reproducible hashing is not required — it costs a global
sort and is therefore not the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


#: At most one persisted dictionary probe cache is resident at a time;
#: freed on the next encode_triples call (see broadcast probe below).
_DICT_PROBE_CACHE: list = []


def term_key(kind_col, value_col, lang_col=None, dt_col=None):
    """Canonical string encoding of a term, used as the dictionary key."""
    lang = lang_col if lang_col is not None else F.lit(None)
    dt = dt_col if dt_col is not None else F.lit(None)
    return F.concat_ws(
        "\x00", kind_col, value_col,
        F.coalesce(lang, F.lit("")), F.coalesce(dt, F.lit("")))


def build_term_dictionary(triples: DataFrame, dense_ids: bool = False) -> DataFrame:
    """Distinct terms across s/p/o with a stable ``term_id``.

    Output: ``term_id, kind, value, lang, dt``.
    """
    # One scan, three rows per triple via a generator — the previous
    # 3-way self-union planned three parallel scans of the (usually
    # cached) triple table, tripling the stage's task count for the
    # same rows (round 8: 51 → 17 tasks on the bench corpus; same
    # distinct-term set by construction).
    terms = triples.selectExpr(
        "inline(array("
        "named_struct('kind', s_kind, 'value', s, "
        "'lang', CAST(NULL AS STRING), 'dt', CAST(NULL AS STRING)), "
        "named_struct('kind', 'iri', 'value', p, "
        "'lang', CAST(NULL AS STRING), 'dt', CAST(NULL AS STRING)), "
        "named_struct('kind', o_kind, 'value', o, "
        "'lang', o_lang, 'dt', o_dt)))"
    ).dropDuplicates(["kind", "value", "lang", "dt"])
    if dense_ids:
        # Compact 0..N-1 ids; global sort — test/compaction use only.
        w = Window.orderBy("kind", "value", "lang", "dt")
        return terms.withColumn("term_id",
                                F.row_number().over(w).cast("long") - 1)
    return terms.withColumn(
        "term_id",
        F.xxhash64(term_key(F.col("kind"), F.col("value"),
                            F.col("lang"), F.col("dt"))))


def detect_hot_keys(triples: DataFrame, *,
                    hot_support: float = 0.05) -> list[str]:
    """Heavy-hitter term keys of a triple table's three join positions —
    one ``freqItems`` pass (lossy counting, map-side, no shuffle).

    Exposed so callers can detect ONCE and pass the result to
    :func:`encode_triples` across repeated encodes of a static corpus:
    the hot set only shapes the physical salt distribution — the join
    RESULT is identical for any hot set — so a cached (even stale) set
    is always value-safe, and per-call re-detection is pure waste
    (round-4 bench: the per-call scan was the one committed regression,
    1.56 → 2.06 s)."""
    fact = triples.select(
        term_key(F.col("s_kind"), F.col("s")).alias("_sk"),
        term_key(F.lit("iri"), F.col("p")).alias("_pk"),
        term_key(F.col("o_kind"), F.col("o"), F.col("o_lang"),
                 F.col("o_dt")).alias("_ok"))
    freq = fact.stat.freqItems(["_sk", "_pk", "_ok"],
                               support=hot_support).first()
    return sorted(set(freq[0]) | set(freq[1]) | set(freq[2]))


def encode_triples(
    triples: DataFrame,
    dictionary: DataFrame,
    *,
    broadcast_threshold: int | None = 10_000_000,
    salt_factor: int = 0,
    dict_count: int | None = None,
    hot_keys: list[str] | None = None,
    hot_support: float = 0.05,
) -> DataFrame:
    """Encode (s, p, o) to (s_id, p_id, o_id) via the term dictionary.

    ``broadcast_threshold``: when set, the dictionary is broadcast (three
    map-side joins, zero shuffle of the fact table) **only if it actually
    fits**: the build side is counted — ``limit(threshold+1).count()``, so
    the probe never scans past the threshold — and an over-sized dictionary
    falls through to the salted path instead of OOMing the driver. Pass
    ``dict_count`` when the caller already knows the cardinality (skips the
    probe job), or ``None`` threshold to force the shuffle path.

    ``salt_factor > 0``: HOT-KEY-TARGETED salted join for the skewed
    non-broadcast case. Only heavy-hitter keys are salted: the probe side
    gives hot rows a row-derived salt in ``[0, salt_factor)`` and the
    build side replicates ONLY the hot keys' dictionary rows
    ``salt_factor`` ways (everything else keeps salt 0) — so one hot key
    (``rdf:type``-grade skew) spreads over ``salt_factor`` reducers while
    the dictionary shuffle stays ≈1×. Salting the WHOLE build side — the
    naive variant — was measured 3.5× slower than the unsalted join on a
    90%-hot 2M-row corpus, because it ships ``salt_factor`` copies of a
    multi-million-term dictionary through all three joins (PERF.md §18).

    ``hot_keys``: explicit heavy-hitter term keys; when ``None`` they are
    detected with one ``freqItems`` pass (lossy counting, no shuffle)
    at ``hot_support`` frequency. The detected set only shapes the
    physical distribution — the join RESULT is identical for any hot
    set, so approximate detection is safe. Used automatically (factor 8)
    on broadcast fall-through.
    """
    dict_slim = dictionary.select(
        "term_id", term_key(F.col("kind"), F.col("value"),
                            F.col("lang"), F.col("dt")).alias("tk"))

    if broadcast_threshold is not None:
        probe_n = dict_count
        if probe_n is None:
            # Persist so the probe count and the three subsequent broadcast
            # joins share ONE computation of the distinct-terms aggregate
            # (measured: without it each BroadcastExchange recomputes the
            # whole dictionary — ReuseExchange does not fire across the
            # three builds). Cache lifetime is BOUNDED, not session-long:
            # each call frees the previous call's cache (at most one
            # dictionary stays resident past its use — round-2 ADVICE).
            # Callers that already know the cardinality pass ``dict_count``
            # and no cache is created. A stopped session's probe is just
            # dropped: its storage is gone and unpersist() would raise.
            while _DICT_PROBE_CACHE:
                stale = _DICT_PROBE_CACHE.pop()
                if stale.sparkSession.sparkContext._jsc is not None:
                    stale.unpersist()
            dict_slim = dict_slim.persist()
            _DICT_PROBE_CACHE.append(dict_slim)
            probe_n = dict_slim.limit(broadcast_threshold + 1).count()
        if probe_n > broadcast_threshold:
            # documented fall-through: too big to broadcast → salted join
            broadcast_threshold = None
            if salt_factor <= 0:
                salt_factor = 8

    s_key = term_key(F.col("s_kind"), F.col("s"))
    p_key = term_key(F.lit("iri"), F.col("p"))
    o_key = term_key(F.col("o_kind"), F.col("o"), F.col("o_lang"),
                     F.col("o_dt"))

    fact = (triples
            .withColumn("_sk", s_key)
            .withColumn("_pk", p_key)
            .withColumn("_ok", o_key))

    if broadcast_threshold is not None:
        # The three joins reference the SAME broadcast subtree (alias only,
        # renames applied above the join) so canonicalized plans match and
        # Spark reuses ONE BroadcastExchange — the dictionary aggregate is
        # computed and shipped once, not three times (a rename below the
        # exchange defeats ReuseExchange; and no persist is needed, so
        # nothing leaks into executor storage).
        d = F.broadcast(dict_slim)
        out = fact
        for pos, key_col in (("s_id", "_sk"), ("p_id", "_pk"),
                             ("o_id", "_ok")):
            alias = f"dict_{pos}"
            dd = d.alias(alias)
            out = (out.join(dd, F.col(key_col) == F.col(f"{alias}.tk"),
                            "left")
                   .withColumn(pos, F.col(f"{alias}.term_id"))
                   .drop(F.col(f"{alias}.term_id"))
                   .drop(F.col(f"{alias}.tk")))
        return out.drop("_sk", "_pk", "_ok")

    if salt_factor > 0:
        if hot_keys is None:
            hot_keys = detect_hot_keys(triples, hot_support=hot_support)
        if hot_keys:
            # isin compiles to InSet (hash lookup) above ~10 literals; an
            # array_contains literal array is a per-row LINEAR string scan
            # and measurably slowed every probe task (PERF.md §18)
            _keys = list(hot_keys)

            def _is_hot(col):
                return F.col(col).isin(_keys)
        else:
            def _is_hot(col):
                return F.lit(False)
        # build side: replicate ONLY hot terms salt_factor ways
        d_salted = dict_slim.withColumn(
            "salt", F.explode(F.when(
                _is_hot("tk"),
                F.array(*[F.lit(i) for i in range(salt_factor)]))
                .otherwise(F.array(F.lit(0)))))
        out = fact
        for pos, key_col in (("s_id", "_sk"), ("p_id", "_pk"), ("o_id", "_ok")):
            # The salt must vary WITHIN a hot key or it spreads nothing:
            # derive it from the whole row's term keys (deterministic per
            # row — no rand(), so task retries stay idempotent), not from
            # the join key alone. (A key-derived salt maps every row of
            # the hot key to one shard — the exact skew it exists to fix;
            # caught by test_salted_join_spreads_hot_key.) Non-hot rows
            # keep salt 0 and meet the single un-replicated build copy.
            probe = out.withColumn(
                "salt",
                F.when(_is_hot(key_col),
                       F.pmod(F.xxhash64(F.col("_sk"), F.col("_pk"),
                                         F.col("_ok"), F.lit(pos)),
                              F.lit(salt_factor)).cast("int"))
                .otherwise(F.lit(0)))
            out = (probe.join(
                d_salted.withColumnRenamed("term_id", pos),
                (probe[key_col] == d_salted["tk"])
                & (probe["salt"] == d_salted["salt"]), "left")
                .drop("tk").drop(d_salted["salt"]).drop("salt"))
        return out.drop("_sk", "_pk", "_ok")

    out = fact
    for pos, key_col in (("s_id", "_sk"), ("p_id", "_pk"), ("o_id", "_ok")):
        out = (out.join(dict_slim.withColumnRenamed("term_id", pos),
                        out[key_col] == dict_slim["tk"], "left").drop("tk"))
    return out.drop("_sk", "_pk", "_ok")
