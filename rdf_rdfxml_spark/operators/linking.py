"""IRI / entity linking (SURVEY.md §2.4 D2).

Replaces the reference's process-global ``RDF::URI.intern`` cache
(reader.rb:130,692) with an explicit distributed dictionary of the
distinct terms over all three positions. The id scheme decides how
triples encode:

* **hash ids** (the default, the scale path): ``term_id =
  xxhash64(term_key(…))`` — reproducible across runs and cluster sizes,
  no global sort. An id is a function of the term, so
  :func:`encode_triples` is a projection: no join, no broadcast and no
  dictionary stage. The dictionary is a separate product (decoding,
  incremental linking), and it is where two terms colliding on one id
  are caught: its build fails the job (:func:`one_term_per_id`).
* **dense ids** (``dense_ids=True``): compact ``0..N-1`` ids from a
  global sort, so encoding must look them up — three left equi-joins in
  the caller's plan. Spark's byte threshold broadcasts the dictionary
  (one broadcast serves all three positions), and caller ``hot_keys``
  route each join through :func:`graph.salted_join`, the one hot-key
  salting kernel for ``rdf:type``-grade skew. AQE skew-join splitting
  stays on as backstop.

The dictionary tags its scheme on the ``term_id`` column's metadata;
:func:`encode_triples` reads the tag.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .graph import salted_join

#: ``term_id`` metadata of a hash dictionary.
HASH_IDS = {"id_scheme": "xxhash64"}


def term_key(kind_col, value_col, lang_col=None, dt_col=None):
    """Canonical string encoding of a term, used as the dictionary key."""
    lang = lang_col if lang_col is not None else F.lit(None)
    dt = dt_col if dt_col is not None else F.lit(None)
    return F.concat_ws(
        "\x00", kind_col, value_col,
        F.coalesce(lang, F.lit("")), F.coalesce(dt, F.lit("")))


def _position_keys() -> dict:
    """Each position's term key over a triple table's columns."""
    return {"s_id": term_key(F.col("s_kind"), F.col("s")),
            "p_id": term_key(F.lit("iri"), F.col("p")),
            "o_id": term_key(F.col("o_kind"), F.col("o"), F.col("o_lang"),
                             F.col("o_dt"))}


def one_term_per_id(rows: DataFrame) -> DataFrame:
    """``(term_id, term)`` rows → one row per ``term_id``, grouped in one
    shuffle (map-side partial min/max per id). The job fails through
    ``raise_error``, naming the id and two of its terms, when one id
    holds two distinct terms — an xxhash64 collision, about n²/2⁶⁵ of
    them for n terms."""
    g = rows.groupBy("term_id").agg(F.min("term").alias("term"),
                                    F.max("term").alias("_hi"))
    clash = F.raise_error(F.concat(
        F.lit("term_id "), F.col("term_id").cast("string"),
        F.lit(" holds two terms: "), F.col("term").cast("string"),
        F.lit(" and "), F.col("_hi").cast("string")))
    return (g.filter(F.when(F.col("term") != F.col("_hi"), clash)
                     .otherwise(F.lit(True)))
            .select("term_id", "term"))


def build_term_dictionary(triples: DataFrame, dense_ids: bool = False) -> DataFrame:
    """Distinct terms across s/p/o with a stable ``term_id``.

    Output: ``kind, value, lang, dt, term_id``. Hash ids carry
    :data:`HASH_IDS` on ``term_id``, and evaluating the dictionary fails
    on an id collision (:func:`one_term_per_id`).
    """
    # One scan, three rows per triple via a generator (a 3-way
    # self-union planned three scans: 51 → 17 tasks on the bench
    # corpus). ``term_key`` reads a NULL lang/dt as '', so '' is folded
    # to NULL before the dedup: one dictionary row per key.
    terms = triples.selectExpr(
        "inline(array("
        "named_struct('kind', s_kind, 'value', s, "
        "'lang', CAST(NULL AS STRING), 'dt', CAST(NULL AS STRING)), "
        "named_struct('kind', 'iri', 'value', p, "
        "'lang', CAST(NULL AS STRING), 'dt', CAST(NULL AS STRING)), "
        "named_struct('kind', o_kind, 'value', o, "
        "'lang', NULLIF(o_lang, ''), 'dt', NULLIF(o_dt, ''))))")
    if dense_ids:
        # Compact 0..N-1 ids; global sort — test/compaction use only.
        w = Window.orderBy("kind", "value", "lang", "dt")
        return (terms.dropDuplicates(["kind", "value", "lang", "dt"])
                .withColumn("term_id",
                            F.row_number().over(w).cast("long") - 1))
    keyed = terms.select(
        F.xxhash64(term_key(F.col("kind"), F.col("value"), F.col("lang"),
                            F.col("dt"))).alias("term_id"),
        F.struct("kind", "value", "lang", "dt").alias("term"))
    return one_term_per_id(keyed).select(
        "term.*", F.col("term_id").alias("term_id", metadata=HASH_IDS))


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
    keys = _position_keys()
    fact = triples.select(keys["s_id"].alias("_sk"),
                          keys["p_id"].alias("_pk"),
                          keys["o_id"].alias("_ok"))
    freq = fact.stat.freqItems(["_sk", "_pk", "_ok"],
                               support=hot_support).first()
    return sorted(set(freq[0]) | set(freq[1]) | set(freq[2]))


def encode_triples(
    triples: DataFrame,
    dictionary: DataFrame,
    *,
    hot_keys: list[str] | None = None,
) -> DataFrame:
    """Append ``s_id, p_id, o_id`` to ``triples`` by the dictionary's id
    scheme.

    **Hash dictionary** (:data:`HASH_IDS`): a projection of
    ``xxhash64(term_key(…))`` per position — the dictionary's ids bit for
    bit, with no join and no dictionary stage. A term missing from the
    dictionary gets its hash id, not NULL. Encoding runs no collision
    check (evaluating the dictionary does), so colliding terms share one
    id here, as they did through the old join. ``hot_keys`` raises
    ``ValueError``: there is no join to salt.

    **Dense dictionary**: three left equi-joins on the term key in the
    caller's plan, so exchange reuse shares the parse between the fact
    and dictionary sides and one broadcast serves all three positions
    under Spark's byte threshold. Reuse does not reach through a
    ``cache()`` of ``triples`` (AQE plans each cached scan as its own
    stage); a stored or checkpointed table shares it. Non-empty
    ``hot_keys`` (:func:`detect_hot_keys`) route each position through
    :func:`graph.salted_join`: only those keys salt, so an
    ``rdf:type``-grade key spreads over 8 reducers (salting the whole
    build side was 3.5× slower, PERF.md §18). The hot set shapes only the
    physical distribution, never the result.
    """
    keys = _position_keys()
    if dictionary.schema["term_id"].metadata == HASH_IDS:
        if hot_keys is not None:
            raise ValueError("hot_keys needs a dense dictionary: hash ids "
                             "encode by projection, with no join to salt")
        return triples.select(
            "*", *(F.xxhash64(k).alias(pos) for pos, k in keys.items()))
    dict_slim = dictionary.select(
        "term_id", term_key(F.col("kind"), F.col("value"),
                            F.col("lang"), F.col("dt")).alias("tk"))
    out = triples.select("*", *(k.alias(f"_{pos}") for pos, k in keys.items()))
    for pos in keys:
        d = dict_slim.selectExpr(f"term_id AS {pos}", f"tk AS _{pos}")
        out = (salted_join(out, d, f"_{pos}", hot_keys=hot_keys, how="left")
               if hot_keys else out.join(d, f"_{pos}", "left"))
    return out.drop(*(f"_{pos}" for pos in keys))
