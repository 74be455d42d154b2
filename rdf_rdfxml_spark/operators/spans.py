"""Cross-document duplicated-SPAN detection and removal.

The whole-document dedup family (operators/sketch.py: minhash, simhash,
winnowing containment) answers "which *documents* are near-copies"; a
large-scale training-data pipeline also needs the finer question from
Lee et al., "Deduplicating Training Data Makes Language Models Better"
(arXiv:2107.06499): which *character ranges inside each document* are
verbatim-duplicated somewhere else in the corpus — boilerplate headers,
license blocks, syndicated paragraphs — so they can be counted, flagged,
and physically removed while keeping the unique remainder.

Their suffix-array formulation is inherently single-machine; the
Spark-first re-expression here uses winnowing fingerprint SELECTION
(Schleimer et al., SIGMOD'03 — the robust "rightmost minimum per
window" scheme, not just per-window minima):

1.  One document-local ``mapInArrow`` pass hashes every ``k``-char gram
    (60-bit md5 prefix, engine-portable) and keeps only the *selected*
    positions — the rightmost argmin of each ``window`` of consecutive
    gram hashes.  Density is ~2/(window+1) rows per character, each a
    fixed-width (doc_id, pos, fp) triple; nothing document-sized is
    ever shuffled.  Winnowing guarantee: any substring of length
    ``>= k + window - 1`` shared by two documents contains at least one
    gram-window fully inside it in both, whose identical hash run
    selects the *same gram content* in both — so every such shared
    substring is anchored by at least one shared selected fingerprint.
2.  Duplicated fingerprints = fp values selected in >= ``min_docs``
    distinct documents (hash-aggregate with map-side partial
    aggregation; the hot-key worst case is a corpus-wide boilerplate
    fp, which partial-agg collapses to one row per map task).
3.  A left-semi join marks the selected positions whose fp is
    duplicated (each position matches the dup-fp *set* at most once —
    linear, no pair explosion anywhere in this operator, unlike the
    candidate-pair sketches), and a per-document gaps-and-islands merge
    turns them into maximal character spans ``[span_start, span_end]``.
    Within a shared region consecutive selected positions are at most
    ``window`` grams apart (every window selects something), and
    ``window <= k`` makes their k-char extents overlap — one island per
    shared region, possibly trimmed by < k + window chars at each edge
    (fingerprint granularity; documented, test-pinned bound).
4.  ``dup_span_removal`` rebuilds the cleaned text relationally: kept
    pieces via LAG over span ends, ``substring`` + ordered concat —
    all JVM-side column ops, no second UDF pass.

All arithmetic is BIGINT end-to-end so the DuckDB oracles replay it
exactly (CLAUDE.md integer-exactness rule); the oracles recompute the
rightmost-argmin selection relationally via a bounded windowed
self-join and reuse sketch.length_guard_cte's loud bound guard.

Scale shape at 100 TB: stage-1 output is ~2/(window+1) fixed-width rows
per character — the same order as the gated ``doc_winnowing`` surface —
and every later stage is a hash-agg, a semi-join, or a per-document
window function (PARTITION BY doc_id, never SinglePartition). Raising
``window`` trades span granularity for shuffle volume linearly.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import arrowcols
from .sketch import (ORACLE_SHINGLE_BOUND, _cache_reset_and_persist,
                     length_guard_cte)

#: Defaults: guarantee floor k + window - 1 = 23 duplicated chars;
#: window <= k keeps merged islands contiguous (module docstring §3).
SPAN_K = 16
SPAN_WINDOW = 8


def _selected_fn(k: int, window: int):
    md5 = hashlib.md5

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            doc_ids = rb.column(rb.schema.get_field_index("doc_id")).to_pylist()
            texts = rb.column(rb.schema.get_field_index("text")).to_pylist()
            out_doc, out_pos, out_fp = [], [], []
            for d, t in zip(doc_ids, texts):
                if t is None:
                    continue
                m = len(t) - k + 1
                if m < window:
                    continue
                hs = np.fromiter(
                    (int(md5(t[i:i + k].encode("utf-8")).hexdigest()[:15], 16)
                     for i in range(m)),
                    dtype=np.int64, count=m)
                win = np.lib.stride_tricks.sliding_window_view(hs, window)
                mins = win.min(axis=1)
                # rightmost argmin per window: argmax of the reversed
                # equality mask finds the LAST position equal to the min
                idx = (window - 1
                       - np.argmax(win[:, ::-1] == mins[:, None], axis=1))
                sel = np.unique(np.arange(m - window + 1, dtype=np.int64)
                                + idx)
                out_doc.extend([d] * len(sel))
                out_pos.extend(int(p) for p in sel)
                out_fp.extend(int(hs[p]) for p in sel)
            yield pa.RecordBatch.from_arrays(
                [arrowcols.int64s(out_doc), arrowcols.int64s(out_pos),
                 arrowcols.int64s(out_fp)],
                names=["doc_id", "pos", "fp"])

    return fn


def selected_fingerprints(docs: DataFrame, *, k: int = SPAN_K,
                          window: int = SPAN_WINDOW) -> DataFrame:
    """(doc_id, text) → (doc_id, pos, fp): robust-winnowing selected
    gram positions (0-based char index of the gram start) with their
    60-bit gram hashes. Document-local, one mapInArrow stage."""
    if window > k:
        # not an assert: under python -O a violated contract would
        # silently fragment shared regions into multiple spans
        raise ValueError(
            f"window ({window}) must be <= k ({k}): consecutive selected "
            f"grams can sit up to `window` apart, and only window <= k "
            f"makes their k-char extents overlap into one island per "
            f"shared region")
    pruned = docs.select("doc_id", "text")
    return pruned.mapInArrow(_selected_fn(k, window),
                             schema="doc_id long, pos long, fp long")


def dup_spans(docs: DataFrame, *, k: int = SPAN_K,
              window: int = SPAN_WINDOW, min_docs: int = 2) -> DataFrame:
    """Maximal duplicated character spans per document:
    ``(doc_id, span_start, span_end)`` (inclusive, 0-based) covering
    every selected gram whose fingerprint appears in >= ``min_docs``
    distinct documents, merged where extents overlap or touch."""
    sel = _cache_reset_and_persist(
        selected_fingerprints(docs, k=k, window=window))
    dup = (sel.groupBy("fp")
           .agg(F.countDistinct("doc_id").alias("nd"))
           .filter(F.col("nd") >= min_docs)
           .select("fp"))
    hits = sel.join(dup, "fp", "left_semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    isl = (hits
           .withColumn("newisl",
                       F.when(prev_end >= F.col("pos") - 1, F.lit(0))
                       .otherwise(F.lit(1)))
           .withColumn("island", F.sum("newisl").over(
               w.rowsBetween(Window.unboundedPreceding, 0))))
    return (isl.groupBy("doc_id", "island")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + (k - 1)).alias("span_end"))
            .select("doc_id", "span_start", "span_end"))


def self_dup_spans(docs: DataFrame, *, k: int = SPAN_K,
                   window: int = SPAN_WINDOW) -> DataFrame:
    """INTRA-document repeated spans with keep-first semantics:
    ``(doc_id, span_start, span_end)`` covering selected grams whose
    fingerprint already occurred at an EARLIER position in the SAME
    document — the second and later occurrences of any substring
    repeated within one doc (>= k + window - 1 chars, same winnowing
    guarantee applied doc-locally: both occurrences contain the same
    full gram-window contents, so both select the same gram). The
    surgical cousin of the Gopher-style ``repetition_stats`` filter
    (curation.py): that one drops whole documents by repetition ratio;
    this one locates the repeated bytes so they can be cut while
    keeping the first copy. Entirely per-doc after the anchor stage —
    windows PARTITION BY doc_id, no corpus-wide state at all."""
    sel = selected_fingerprints(docs, k=k, window=window)
    occ = Window.partitionBy("doc_id", "fp").orderBy("pos")
    hits = (sel
            .withColumn("rn", F.row_number().over(occ))
            .filter(F.col("rn") >= 2)
            .select("doc_id", "pos"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    isl = (hits
           .withColumn("newisl",
                       F.when(prev_end >= F.col("pos") - 1, F.lit(0))
                       .otherwise(F.lit(1)))
           .withColumn("island", F.sum("newisl").over(
               w.rowsBetween(Window.unboundedPreceding, 0))))
    return (isl.groupBy("doc_id", "island")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + (k - 1)).alias("span_end"))
            .select("doc_id", "span_start", "span_end"))


def self_dup_span_stats(docs: DataFrame, *, k: int = SPAN_K,
                        window: int = SPAN_WINDOW) -> DataFrame:
    """Per-document self-repetition accounting over
    :func:`self_dup_spans`: ``(doc_id, n_chars, n_spans, rep_chars)``
    for EVERY document, all BIGINT."""
    spans = self_dup_spans(docs, k=k, window=window)
    per = (spans.groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_spans"),
                F.sum(F.col("span_end") - F.col("span_start") + 1)
                .alias("rep_chars")))
    base = docs.select("doc_id",
                       F.length("text").cast("long").alias("n_chars"))
    return (base.join(per, "doc_id", "left")
            .fillna(0, ["n_spans", "rep_chars"]))


def dup_span_stats(docs: DataFrame, *, k: int = SPAN_K,
                   window: int = SPAN_WINDOW,
                   min_docs: int = 2) -> DataFrame:
    """Per-document duplication accounting over :func:`dup_spans`:
    ``(doc_id, n_chars, n_spans, dup_chars)`` for EVERY document
    (0 rows of duplication → 0s), all BIGINT."""
    spans = dup_spans(docs, k=k, window=window, min_docs=min_docs)
    per = (spans.groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_spans"),
                F.sum(F.col("span_end") - F.col("span_start") + 1)
                .alias("dup_chars")))
    base = docs.select("doc_id",
                       F.length("text").cast("long").alias("n_chars"))
    return (base.join(per, "doc_id", "left")
            .fillna(0, ["n_spans", "dup_chars"]))


def dup_span_removal(docs: DataFrame, *, k: int = SPAN_K,
                     window: int = SPAN_WINDOW,
                     min_docs: int = 2) -> DataFrame:
    """Physically remove every duplicated span: ``(doc_id, clean_chars,
    clean_text)`` for EVERY document. Kept pieces are the complement
    intervals of :func:`dup_spans`, rebuilt with pure column ops:
    LAG over span ends → (piece_start, piece_end) → substring → ordered
    concat. A document with no duplication keeps its text verbatim; a
    fully-covered document cleans to the empty string."""
    spans = dup_spans(docs, k=k, window=window, min_docs=min_docs)
    spans = _cache_reset_and_persist(spans)
    wd = Window.partitionBy("doc_id").orderBy("span_start")
    mid = (spans
           .withColumn("ps", F.coalesce(F.lag("span_end").over(wd) + 1,
                                        F.lit(0)))
           .withColumn("pe", F.col("span_start") - 1)
           .select("doc_id", "ps", "pe"))
    tail = (spans.groupBy("doc_id")
            .agg((F.max("span_end") + 1).alias("ps"))
            .join(docs.select("doc_id",
                              (F.length("text").cast("long") - 1)
                              .alias("pe")), "doc_id"))
    pieces = (mid.unionByName(tail.select("doc_id", "ps", "pe"))
              .filter(F.col("pe") >= F.col("ps"))
              .join(docs.select("doc_id", "text"), "doc_id")
              .withColumn("piece", F.expr(
                  "substring(text, cast(ps + 1 as int), "
                  "cast(pe - ps + 1 as int))")))
    joined = (pieces.groupBy("doc_id")
              .agg(F.array_join(
                  F.transform(
                      F.array_sort(F.collect_list(F.struct("ps", "piece"))),
                      lambda x: x["piece"]), "").alias("pieced")))
    flagged = spans.select("doc_id").distinct() \
                   .withColumn("has_dup", F.lit(True))
    out = (docs.select("doc_id", "text")
           .join(joined, "doc_id", "left")
           .join(flagged, "doc_id", "left")
           .withColumn("clean_text",
                       F.when(F.col("pieced").isNotNull(), F.col("pieced"))
                       .when(F.col("has_dup"), F.lit(""))
                       .otherwise(F.col("text"))))
    return out.select("doc_id",
                      F.length("clean_text").cast("long")
                      .alias("clean_chars"),
                      "clean_text")


# --------------------------------------------------------------------------
# DuckDB oracle twins
# --------------------------------------------------------------------------

def _selected_cte(*, k: int, window: int, table: str) -> str:
    """CTE chain ending in ``sel(doc_id, pos, fp)`` — the relational
    replay of :func:`_selected_fn`: gram hashes, windowed min, rightmost
    argmin via a bounded self-join (w rows per window), DISTINCT."""
    return f"""{length_guard_cte(table)},
    g AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             CAST(('0x' || substring(
                 md5(substring(text, CAST(i AS INTEGER), {k})), 1, 15))
                 ::VARCHAR::UBIGINT AS BIGINT) AS h
      FROM {table}, _lenguard,
           generate_series(1, {ORACLE_SHINGLE_BOUND}) AS s(i)
      WHERE _lenguard.ok = 1 AND i <= len(text) - {k - 1}),
    wm AS (
      SELECT doc_id, pos AS q,
             MIN(h) OVER win AS mn,
             COUNT(*) OVER win AS cnt
      FROM g WINDOW win AS (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN {window - 1} PRECEDING
                            AND CURRENT ROW)),
    sel AS (
      SELECT DISTINCT w.doc_id, MAX(g.pos) AS pos, MIN(w.mn) AS fp
      FROM wm w JOIN g
        ON g.doc_id = w.doc_id
       AND g.pos BETWEEN w.q - {window - 1} AND w.q
       AND g.h = w.mn
      WHERE w.cnt = {window}
      GROUP BY w.doc_id, w.q)"""


def _islands_cte(*, k: int) -> str:
    """hits(doc_id, pos) → spans(doc_id, island, span_start, span_end)
    — the shared gaps-and-islands merge."""
    return f"""isl AS (
      SELECT doc_id, pos,
             CASE WHEN MAX(pos + {k - 1}) OVER
                    (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  >= pos - 1 THEN 0 ELSE 1 END AS newisl
      FROM hits),
    isl2 AS (
      SELECT doc_id, pos,
             SUM(newisl) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS island
      FROM isl),
    spans AS (
      SELECT doc_id, island,
             MIN(pos) AS span_start,
             MAX(pos) + {k - 1} AS span_end
      FROM isl2 GROUP BY doc_id, island)"""


def _spans_cte(*, k: int, window: int, min_docs: int, table: str) -> str:
    return f"""{_selected_cte(k=k, window=window, table=table)},
    dup AS (
      SELECT fp FROM sel GROUP BY fp
      HAVING COUNT(DISTINCT doc_id) >= {min_docs}),
    hits AS (
      SELECT DISTINCT s.doc_id, s.pos FROM sel s JOIN dup USING (fp)),
    {_islands_cte(k=k)}"""


def dup_span_stats_oracle_sql(*, k: int = SPAN_K,
                              window: int = SPAN_WINDOW, min_docs: int = 2,
                              table: str = "documents") -> str:
    return f"""WITH {_spans_cte(k=k, window=window, min_docs=min_docs,
                                table=table)},
    per AS (
      SELECT doc_id, COUNT(*) AS n_spans,
             SUM(span_end - span_start + 1) AS dup_chars
      FROM spans GROUP BY doc_id)
    SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS n_chars,
           CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(p.dup_chars, 0) AS BIGINT) AS dup_chars
    FROM {table} d LEFT JOIN per p USING (doc_id)"""


def self_dup_span_stats_oracle_sql(*, k: int = SPAN_K,
                                   window: int = SPAN_WINDOW,
                                   table: str = "documents") -> str:
    return f"""WITH {_selected_cte(k=k, window=window, table=table)},
    hits AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY doc_id, fp
                                  ORDER BY pos) AS rn
        FROM sel)
      WHERE rn >= 2),
    {_islands_cte(k=k)},
    per AS (
      SELECT doc_id, COUNT(*) AS n_spans,
             SUM(span_end - span_start + 1) AS rep_chars
      FROM spans GROUP BY doc_id)
    SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS n_chars,
           CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(p.rep_chars, 0) AS BIGINT) AS rep_chars
    FROM {table} d LEFT JOIN per p USING (doc_id)"""


def dup_span_removal_ctes(*, k: int = SPAN_K, window: int = SPAN_WINDOW,
                          min_docs: int = 2, table: str = "documents",
                          out: str = "cleaned") -> str:
    """The full removal pipeline as a spliceable CTE chain ending in
    ``{out}(doc_id, text)`` — used standalone by
    :func:`dup_span_removal_oracle_sql` and composed into larger
    pipeline oracles (the assembly-chain pattern)."""
    return f"""{_spans_cte(k=k, window=window, min_docs=min_docs,
                           table=table)},
    mid AS (
      SELECT doc_id,
             COALESCE(LAG(span_end) OVER
                 (PARTITION BY doc_id ORDER BY span_start), -1) + 1 AS ps,
             span_start - 1 AS pe
      FROM spans),
    tail AS (
      SELECT sp.doc_id, MAX(sp.span_end) + 1 AS ps,
             CAST(len(d.text) AS BIGINT) - 1 AS pe
      FROM spans sp JOIN {table} d USING (doc_id)
      GROUP BY sp.doc_id, len(d.text)),
    pieces AS (
      SELECT p.doc_id,
             string_agg(substring(d.text, CAST(p.ps + 1 AS INTEGER),
                                  CAST(p.pe - p.ps + 1 AS INTEGER)),
                        '' ORDER BY p.ps) AS pieced
      FROM (SELECT * FROM mid UNION ALL SELECT * FROM tail) p
      JOIN {table} d USING (doc_id)
      WHERE p.pe >= p.ps
      GROUP BY p.doc_id),
    flagged AS (SELECT DISTINCT doc_id FROM spans),
    {out} AS (
      SELECT d.doc_id,
             CASE WHEN pc.pieced IS NOT NULL THEN pc.pieced
                  WHEN f.doc_id IS NOT NULL THEN ''
                  ELSE d.text END AS text
      FROM {table} d
      LEFT JOIN pieces pc USING (doc_id)
      LEFT JOIN flagged f USING (doc_id))"""


def dup_span_removal_oracle_sql(*, k: int = SPAN_K,
                                window: int = SPAN_WINDOW,
                                min_docs: int = 2,
                                table: str = "documents") -> str:
    return f"""WITH {dup_span_removal_ctes(k=k, window=window,
                                           min_docs=min_docs, table=table)}
    SELECT doc_id, CAST(len(text) AS BIGINT) AS clean_chars,
           text AS clean_text
    FROM cleaned"""
