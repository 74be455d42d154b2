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

* dictionaries are usually small relative to the fact table → the three
  joins are plain left equi-joins in the caller's plan, so Spark's byte
  threshold broadcasts the dictionary (``autoBroadcastJoinThreshold`` at
  planning, AQE's runtime threshold on the materialized dictionary
  stage) — no shuffle of the triple table, and no size probe of our own:
  one plan lets exchange reuse share the parse and any shuffle between
  the fact side and the dictionary side;
* caller-supplied ``hot_keys`` route each join through
  :func:`graph.salted_join` — the one hot-key salting kernel
  (SparkER-style): hot keys' dictionary rows replicate and hot probe
  rows pick a deterministic row-derived salt, so one hot key spreads
  over 8 reducers (its default salt factor);
* AQE skew-join splitting stays on as backstop
  (``spark.sql.adaptive.skewJoin.enabled``).

A dense ``term_id`` (row_number) variant is provided for compact dictionary
encoding where reproducible hashing is not required — it costs a global
sort and is therefore not the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .graph import salted_join


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
    # distinct-term set by construction). ``term_key`` reads a NULL
    # lang/dt as '', so '' is folded to NULL before the dedup: one
    # dictionary row per join key.
    terms = triples.selectExpr(
        "inline(array("
        "named_struct('kind', s_kind, 'value', s, "
        "'lang', CAST(NULL AS STRING), 'dt', CAST(NULL AS STRING)), "
        "named_struct('kind', 'iri', 'value', p, "
        "'lang', CAST(NULL AS STRING), 'dt', CAST(NULL AS STRING)), "
        "named_struct('kind', o_kind, 'value', o, "
        "'lang', NULLIF(o_lang, ''), 'dt', NULLIF(o_dt, ''))))"
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
    hot_keys: list[str] | None = None,
) -> DataFrame:
    """Encode (s, p, o) to (s_id, p_id, o_id) via the term dictionary.

    The three position joins are left equi-joins on the canonical term
    key, planned inside the caller's job: nothing runs until the caller's
    action, and in that one plan Spark reuses the exchanges the fact side
    and the dictionary share (the parse runs once), and one broadcast of
    the dictionary serves all three positions when it is under Spark's
    byte threshold. Reuse does not reach through an in-memory ``cache()``
    of ``triples`` (AQE plans each cached scan as its own stage, so the
    dictionary aggregate then runs once per position); a stored or
    checkpointed triple table shares it.

    ``hot_keys``: heavy-hitter term keys (see :func:`detect_hot_keys`).
    When non-empty each position goes through :func:`graph.salted_join`:
    only those keys salt, so one ``rdf:type``-grade key spreads over 8
    reducers while the dictionary shuffle stays ≈1× (salting the WHOLE
    build side was measured 3.5× slower, PERF.md §18). The set only
    shapes the physical distribution — the join RESULT is identical for
    any hot set.
    """
    dict_slim = dictionary.select(
        "term_id", term_key(F.col("kind"), F.col("value"),
                            F.col("lang"), F.col("dt")).alias("tk"))
    out = (triples
           .withColumn("_sk", term_key(F.col("s_kind"), F.col("s")))
           .withColumn("_pk", term_key(F.lit("iri"), F.col("p")))
           .withColumn("_ok", term_key(F.col("o_kind"), F.col("o"),
                                       F.col("o_lang"), F.col("o_dt"))))
    for pos, key in (("s_id", "_sk"), ("p_id", "_pk"), ("o_id", "_ok")):
        d = dict_slim.selectExpr(f"term_id AS {pos}", f"tk AS {key}")
        out = (salted_join(out, d, key, hot_keys=hot_keys, how="left")
               if hot_keys else out.join(d, key, "left"))
    return out.drop("_sk", "_pk", "_ok")
