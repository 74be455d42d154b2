"""Format registration & detection (SURVEY.md §2.1 S1; reference
``lib/rdf/rdfxml/format.rb``).

The reference registers ``application/rdf+xml``, extensions ``.rdf``/
``.owl``, and sniffs content with ``/<(\\w+:)?(RDF)/`` (format.rb:23-51).
Here the same predicates are Catalyst expressions, so routing runs JVM-side
and pushes down to the scan where possible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CONTENT_TYPES = ("application/rdf+xml",)
FILE_EXTENSIONS = (".rdf", ".owl")
SYMBOLS = ("rdfxml", "rdf", "owl")

#: format.rb:40-42 content sniff
_SNIFF = r"<(\w+:)?RDF"


def content_is_rdfxml(content: Column) -> Column:
    return content.rlike(_SNIFF)


def path_is_rdfxml(path: Column) -> Column:
    col = F.lower(path)
    pred = col.endswith(FILE_EXTENSIONS[0])
    for ext in FILE_EXTENSIONS[1:]:
        pred = pred | col.endswith(ext)
    return pred


def lang_is_rdfxml(lang: Column) -> Column:
    return F.lower(lang).isin(*SYMBOLS)


def detect(documents: DataFrame, *, content_col: str = "content",
           path_col: str = "path", lang_col: str = "lang") -> DataFrame:
    """Adds a ``format`` column: 'rdfxml' when any registered signal
    matches (symbol, extension, or content sniff), else 'unknown' —
    the RDF::Format.for discovery chain (format.rb:22-51)."""
    cols = set(documents.columns)
    signals = []
    if lang_col in cols:
        signals.append(lang_is_rdfxml(F.col(lang_col)))
    if path_col in cols:
        signals.append(path_is_rdfxml(F.col(path_col)))
    if content_col in cols:
        signals.append(content_is_rdfxml(F.col(content_col)))
    pred = signals[0]
    for s in signals[1:]:
        pred = pred | s
    return documents.withColumn(
        "format", F.when(pred, F.lit("rdfxml")).otherwise(F.lit("unknown")))

