"""Character-trigram language identification (training-data pipeline op).

Upgrades the round-1 two-stopword placeholder to the standard n-gram
profile method (Cavnar & Trenkle '94 family): a document's score for a
language is the number of its **distinct** lowercase character trigrams
that appear in that language's profile; prediction is the arg-max with a
deterministic ``(score DESC, lang ASC)`` tie-break.

Profiles are small literal lists of the highest-frequency trigrams of each
language (public linguistic knowledge — e.g. English "the"/"ing"/"and",
German "der"/"sch"/"ich", French "ent"/"les", Spanish "ción"/"que" cores),
embedded verbatim in both the Spark operator and the generated DuckDB
oracle so the two engines are definitionally identical. On the synthetic
corpus the *mechanism* (distinct-trigram extraction, profile join,
deterministic arg-max) is what's under test; real deployments swap in
fuller profiles without touching the plan.

Scale shape: scores are document-local → one ``mapInArrow`` stage, zero
shuffle (the profile is a compile-time constant, not even a broadcast).
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame

from ..functions import arrowcols
from .sketch import ORACLE_SHINGLE_BOUND, length_guard_cte

# top-frequency character trigrams per language (space-padded tokens)
PROFILES: dict[str, list[str]] = {
    "en": ["the", " th", "he ", "ing", "ng ", "and", " an", "nd ", "ion",
           "ed ", " of", "of ", "to ", " to", "er ", "at ", " in", "ent"],
    "de": ["der", " de", "ie ", "ein", " ei", "sch", " sc", "ich", "ch ",
           "nde", "die", " di", "und", " un", "en ", "cht", "ung", "ter"],
    "fr": ["le ", " le", "es ", " de", "de ", "ent", "nt ", "et ", " et",
           "la ", " la", "les", "ion", "que", " qu", "ue ", "ait", "our"],
    "es": [" de", "de ", "la ", " la", "os ", "el ", " el", "ión", "ón ",
           "ent", "ue ", "que", " qu", "ado", " co", "est", " es", "los"],
}

LANGS = sorted(PROFILES)


def _trigrams(text: str) -> set:
    t = text.lower()
    return {t[i:i + 3] for i in range(len(t) - 2)}


def _langid_fn():
    profiles = {lang: set(tgs) for lang, tgs in PROFILES.items()}

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            doc_ids = rb.column(rb.schema.get_field_index("doc_id")).to_pylist()
            texts = rb.column(rb.schema.get_field_index("text")).to_pylist()
            cols: dict[str, list] = {"doc_id": [], "predicted": []}
            for lang in LANGS:
                cols[f"{lang}_score"] = []
            for d, t in zip(doc_ids, texts):
                tgs = _trigrams(t or "")
                scores = {lang: len(tgs & profiles[lang]) for lang in LANGS}
                # deterministic arg-max: score DESC, lang ASC
                predicted = min(LANGS, key=lambda l: (-scores[l], l))
                cols["doc_id"].append(d)
                cols["predicted"].append(predicted)
                for lang in LANGS:
                    cols[f"{lang}_score"].append(scores[lang])
            yield pa.RecordBatch.from_arrays(
                [arrowcols.int64s(cols["doc_id"]),
                 arrowcols.strings(cols["predicted"])]
                + [arrowcols.int64s(cols[f"{lang}_score"])
                   for lang in LANGS],
                names=["doc_id", "predicted"]
                + [f"{lang}_score" for lang in LANGS])

    return fn


def langid_trigram(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, predicted, <lang>_score…)."""
    pruned = docs.select("doc_id", "text")
    schema = ("doc_id long, predicted string, "
              + ", ".join(f"{lang}_score long" for lang in LANGS))
    return pruned.mapInArrow(_langid_fn(), schema=schema)


def langid_oracle_sql(table: str = "documents") -> str:
    """DuckDB twin: distinct lowercase trigrams × literal profile table,
    per-language distinct-match counts, ROW_NUMBER arg-max."""
    profile_rows = ",\n      ".join(
        f"('{lang}', '{tg}')"
        for lang in LANGS for tg in sorted(set(PROFILES[lang])))
    score_cols = ",\n           ".join(
        f"COALESCE(MAX(CASE WHEN lang = '{lang}' THEN s END), 0)"
        f" AS {lang}_score" for lang in LANGS)
    return f"""
    WITH {length_guard_cte(table)},
    tg AS (
      SELECT DISTINCT doc_id,
             substring(lower(text), CAST(i AS INTEGER), 3) AS tg
      FROM {table}, _lenguard,
           generate_series(1, {ORACLE_SHINGLE_BOUND}) AS g(i)
      WHERE _lenguard.ok = 1 AND i <= len(text) - 2),
    prof(lang, tg) AS (VALUES
      {profile_rows}),
    hits AS (
      SELECT d.doc_id, p.lang, CAST(COUNT(DISTINCT d.tg) AS BIGINT) AS s
      FROM tg d JOIN prof p ON p.tg = d.tg
      GROUP BY d.doc_id, p.lang),
    full_scores AS (
      SELECT doc_id, {score_cols}
      FROM hits GROUP BY doc_id),
    all_docs AS (
      SELECT doc_id FROM {table}),
    scored AS (
      SELECT a.doc_id,
             {', '.join(f'COALESCE(f.{lang}_score, 0) AS {lang}_score'
                        for lang in LANGS)}
      FROM all_docs a LEFT JOIN full_scores f ON f.doc_id = a.doc_id),
    unpvt AS (
      {' UNION ALL '.join(
          f"SELECT doc_id, '{lang}' AS lang, {lang}_score AS s FROM scored"
          for lang in LANGS)}),
    best AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY s DESC, lang) AS rnk
      FROM unpvt)
    SELECT s.doc_id, b.lang AS predicted,
           {', '.join(f's.{lang}_score' for lang in LANGS)}
    FROM scored s JOIN best b ON b.doc_id = s.doc_id AND b.rnk = 1"""
