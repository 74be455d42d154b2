"""End-to-end KG-construction plan (SURVEY.md §3 translated to Spark).

scan(documents) → [repartition for balance] → extract (Arrow UDF, per-
document set semantics) → {triples, errors, metrics} — with optional global
graph view, dictionary encoding, and partitioned materialization. The CLI,
the resumable run and the streaming ingest all extract through
``construct_graph``, so a document gives the same triples on every path.

The relational stages stay fully declarative so Catalyst/AQE keep column
pruning, partial aggregation, and adaptive shuffle coalescing; the only
opaque stage is the grammar UDF.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import errors_channel, extract, triples_channel


@dataclass
class GraphResult:
    extracted: DataFrame
    triples: DataFrame
    errors: DataFrame


def construct_graph(
    documents: DataFrame,
    *,
    strict: bool = True,
    repartition: int | None = None,
    canonicalize: bool = False,
) -> GraphResult:
    """The flagship plan: documents → triples + errors.

    ``repartition``: documents vary wildly in size; hashing on content
    lineage evens task runtimes (scaling-efficiency prerequisite). Pass the
    target partition count (≈ 2-3 × total cores), or None to keep the scan's
    native partitioning (right when the source is already well-bucketed).
    """
    if repartition:
        documents = documents.repartition(
            repartition, F.xxhash64(F.col("content")))
    # Per-document set semantics happen *inside* the parse UDF (a
    # document's triples are partition-local by construction), so the
    # flagship plan has no post-parse shuffle at all; use
    # operators.dedup.dedup_document explicitly if the input table may
    # contain duplicate rows of the same document.
    extracted = extract(documents, strict=strict, canonicalize=canonicalize)
    triples = triples_channel(extracted)
    return GraphResult(extracted=extracted, triples=triples,
                       errors=errors_channel(extracted))


def default_session(app: str = "rdf-rdfxml-spark", master: str | None = None,
                    shuffle_partitions: int = 32) -> SparkSession:
    b = (SparkSession.builder.appName(app)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         # documents are fat rows — keep Arrow batches bounded
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048"))
    if master:
        b = b.master(master)
    return b.getOrCreate()
