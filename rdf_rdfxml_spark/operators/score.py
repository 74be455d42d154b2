"""Precision/recall scoring of produced vs golden triple sets (the north
rule's correctness metric; SURVEY.md §2.5 set ops).

Blank-node isomorphism is handled by canonical relabeling on *both* sides
(the reference compares via graph isomorphism, spec/suite_spec.rb:44-47;
our D1 ids are deterministic, golden sets use ``_:bN`` labels). At test
scale the relabeling runs per-document inside an ``applyInArrow`` grouped-map
stage — per-document graphs are small, so the canonical form is cheap and
the scoring join is a plain set intersect on canonical triple strings.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import arrowcols
from ..functions.nt import canonicalize_bnodes


_TERM_COLS = ("s", "s_kind", "p", "o", "o_kind", "o_lang", "o_dt")


def _rows_to_terms(table: pa.Table):
    return [((s_kind, s), p,
             ("literal", o, o_lang, o_dt) if o_kind == "literal"
             else (o_kind, o))
            for s, s_kind, p, o, o_kind, o_lang, o_dt in zip(
                *(table.column(c).to_pylist() for c in _TERM_COLS))]


def canonical_lines(triples_df: DataFrame,
                    group_col: str = "doc_sha") -> DataFrame:
    """(group, canonical NT line) — one row per triple after per-group
    canonical bnode relabeling."""

    def canon(key: tuple, table: pa.Table) -> pa.Table:
        lines = list(canonicalize_bnodes(_rows_to_terms(table)))
        return pa.Table.from_arrays(
            [arrowcols.strings([key[0].as_py()] * len(lines)),
             arrowcols.strings(lines)], names=[group_col, "line"])

    return (triples_df
            .select(group_col, *_TERM_COLS)
            .groupBy(group_col)
            .applyInArrow(canon, schema=f"{group_col} string, line string"))


def pr_score(produced: DataFrame, golden: DataFrame,
             group_col: str = "doc_sha") -> DataFrame:
    """One-row DataFrame: n_produced, n_golden, n_matched, precision,
    recall — intersection on canonical per-group triple lines."""
    p = canonical_lines(produced, group_col).withColumn("src", F.lit(1))
    g = canonical_lines(golden, group_col)
    matched = p.join(g, [group_col, "line"], "inner").count()
    n_p = p.count()
    n_g = g.count()
    spark = produced.sparkSession
    precision = matched / n_p if n_p else 0.0
    recall = matched / n_g if n_g else 0.0
    return spark.createDataFrame(
        [(n_p, n_g, matched, precision, recall)],
        "n_produced long, n_golden long, n_matched long, "
        "precision double, recall double")
