"""Triple extraction: the one vectorized UDF stage (SURVEY.md §2.2).

``documents(repo, path, commit, lang, content[, base_uri])`` →
``mapInArrow(parse_batch)`` → unified (triple | error) rows, each
document's triples a set (the reference's ``RDF::Repository`` insert).

Design notes for 100 TB scale:

* The grammar is per-document and embarrassingly parallel — exactly Spark's
  data-parallel grain. It runs in expat's callbacks inside Arrow-batched
  Python workers, with no per-document tree and no recursion; the only
  process boundary is JVM ↔ Python Arrow IPC.
  No per-row Python UDF dispatch happens at the Spark level (input_hint
  mandate): one Python call handles a whole Arrow batch via ``mapInArrow``,
  and output columns are built as Python lists and assembled into Arrow
  arrays from buffers by ``functions/arrowcols.py`` (``pa.array`` would
  import pandas into every worker; PERF.md §31) — the list-to-Arrow
  shape measured 3.7× faster end-to-end than the ``mapInPandas`` +
  row-tuple path (53.8k vs 14.6k docs/s on local[32]; pandas
  round-tripping was pure overhead for string columns).
* Column pruning: only ``content`` + key columns are read by this stage —
  keep the select-list minimal upstream so Parquet/Iceberg scans prune.
* Output is chunked every ``_FLUSH_ROWS`` rows so a batch of fat documents
  can't balloon one Arrow record batch (Python-worker memory stays
  O(largest doc + flush buffer)). A flush happens only between documents,
  so one document's rows can pass a string column's 32-bit offsets; that
  flush is split into several batches rather than failing the task.
* Failures are per-document: malformed XML, grammar violations, hostile
  nesting all become ``rec='error'`` rows (W3C negative-syntax semantics,
  reader.rb:225-227); a poison document can never fail a task, so task
  retries and checkpoint-resume stay deterministic.
* Blank-node ids are ``b:<sha256(content)>:<n>`` — stable across retries
  and cluster sizes (SURVEY.md §2.4 D1), so re-running any partition
  yields byte-identical output (idempotent writes).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame

from ..functions import arrowcols
from ..parser.grammar import parse_rdfxml
from ..schema import EXTRACT_SCHEMA

_FLUSH_ROWS = 50_000
_COLUMNS = [f.name for f in EXTRACT_SCHEMA.fields]


class _ColumnBuffer:
    """Columnar accumulator for extraction output rows."""

    __slots__ = ("cols", "n")

    def __init__(self):
        self.cols = [[] for _ in _COLUMNS]
        self.n = 0

    def add_triple(self, s, p, o, doc_sha, repo, path, commit):
        c = self.cols
        c[0].append("triple")
        c[1].append(s[1])
        c[2].append(s[0])
        c[3].append(p)
        if o[0] == "literal":
            c[4].append(o[1])
            c[5].append("literal")
            c[6].append(o[2])
            c[7].append(o[3])
        else:
            c[4].append(o[1])
            c[5].append(o[0])
            c[6].append(None)
            c[7].append(None)
        c[8].append(doc_sha)
        c[9].append(repo)
        c[10].append(path)
        c[11].append(commit)
        self.n += 1

    def add_error(self, message, doc_sha, repo, path, commit):
        c = self.cols
        c[0].append("error")
        for i in (1, 2, 3):
            c[i].append(None)
        c[4].append(message)
        for i in (5, 6, 7):
            c[i].append(None)
        c[8].append(doc_sha)
        c[9].append(repo)
        c[10].append(path)
        c[11].append(commit)
        self.n += 1

    def flush(self) -> Iterator[pa.RecordBatch]:
        """The buffered rows as one batch, or as several when a column's
        bytes pass the 32-bit offset limit (one document's triples can:
        a long ``xml:base`` resolved into thousands of subjects)."""
        cols = self.cols
        self.cols = [[] for _ in _COLUMNS]
        self.n = 0
        return arrowcols.string_batches(cols, _COLUMNS)


def _col_or_none(rb: pa.RecordBatch, name: str, want: bool):
    if not want:
        return None
    return rb.column(rb.schema.get_field_index(name)).to_pylist()


def _make_parse_batch(has_base: bool, has_prov: bool, strict: bool,
                      max_content_bytes: int, canonicalize: bool = False):
    def parse_batch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sha256 = hashlib.sha256
        buf = _ColumnBuffer()
        for rb in batches:
            contents = rb.column(
                rb.schema.get_field_index("content")).to_pylist()
            bases = _col_or_none(rb, "base_uri", has_base)
            repos = _col_or_none(rb, "repo", has_prov)
            paths = _col_or_none(rb, "path", has_prov)
            commits = _col_or_none(rb, "commit", has_prov)
            for i, content in enumerate(contents):
                data = (content.encode("utf-8")
                        if isinstance(content, str) else content)
                doc_sha = sha256(data).hexdigest()
                if len(data) > max_content_bytes:
                    # fail-soft oversized-document guard (SURVEY.md §4):
                    # task memory stays O(max doc), the row keeps lineage
                    triples, errors = [], [
                        f"document too large: {len(data)} bytes "
                        f"(cap {max_content_bytes})"]
                else:
                    triples, errors = parse_rdfxml(
                        data,
                        base_uri=bases[i] if bases is not None else "",
                        doc_key=doc_sha, strict=strict,
                        canonicalize=canonicalize)
                repo = repos[i] if repos is not None else None
                path = paths[i] if paths is not None else None
                commit = commits[i] if commits is not None else None
                # Per-document set semantics applied at the source: a
                # document's triples all live in the row that produced
                # them, so the RDF::Repository set-insert is document-
                # local — doing it here removes the dropDuplicates
                # shuffle from the flagship plan entirely (measured:
                # dedup cost 20% of pipeline wall and the worst-scaling
                # stage; order-preserving dict dedup is O(triples)).
                for s, p, o in dict.fromkeys(triples):
                    buf.add_triple(s, p, o, doc_sha, repo, path, commit)
                for message in errors:
                    buf.add_error(message, doc_sha, repo, path, commit)
                if buf.n >= _FLUSH_ROWS:
                    yield from buf.flush()
        if buf.n:
            yield from buf.flush()

    return parse_batch


def extract(documents: DataFrame, *, strict: bool = True,
            max_content_bytes: int = 256 * 1024 * 1024,
            canonicalize: bool = False) -> DataFrame:
    """Run the RDF/XML grammar over a documents DataFrame.

    Input columns: ``content`` (required); ``base_uri`` (optional — default
    empty, mirroring the reference's ``base_uri:`` reader option);
    ``repo``/``path``/``commit`` provenance (optional, passed through).

    Each document's triples are a set, collapsed inside the UDF
    (shuffle-free; equivalent to ``dedup_document`` except when the *same
    document row* appears more than once in the input — there the shuffle
    operator also collapses across copies).

    Returns the unified extraction DataFrame (EXTRACT_SCHEMA): filter
    ``rec='triple'`` / ``rec='error'`` for the two channels, or use
    :func:`rdf_rdfxml_spark.plans.pipeline.construct_graph`.
    """
    cols = set(documents.columns)
    has_base = "base_uri" in cols
    has_prov = {"repo", "path", "commit"} <= cols
    keep = ["content"]
    if has_base:
        keep.append("base_uri")
    if has_prov:
        keep += ["repo", "path", "commit"]
    # Explicit projection so Catalyst prunes every other column at the scan.
    pruned = documents.select(*keep)
    return pruned.mapInArrow(
        _make_parse_batch(has_base, has_prov, strict, max_content_bytes,
                          canonicalize),
        schema=EXTRACT_SCHEMA)


def triples_channel(extracted: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F
    return extracted.filter(F.col("rec") == "triple").drop("rec")


def errors_channel(extracted: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F
    return (extracted.filter(F.col("rec") == "error")
            .select("doc_sha", "repo", "path", "commit",
                    F.col("o").alias("error")))


def namespace_declarations(content) -> dict:
    """prefix (None: the default namespace) → namespace URI over every
    declaration in one document, later declarations (document order)
    winning; read from expat's namespace-declaration events alone — no
    grammar pass and no tree, so nesting depth is never an error. A
    malformed document declares nothing."""
    from ..functions.xmldom import XMLParseError, expat_parse
    px: dict = {}

    def declare(prefix, uri):
        px[prefix] = uri or ""

    try:
        expat_parse(content, ns_start=declare)
    except XMLParseError:
        return {}
    return px


def document_prefixes(documents: DataFrame) -> DataFrame:
    """Distributed form of the reference's ``prefix()`` bookkeeping
    (reader.rb:199,217): one row per (document, prefix, namespace)
    declaration (later declarations of a prefix win). Feeds vocabulary/
    namespace stats for KG pipelines (which vocabularies dominate a
    crawl, writer prefix tables, dialect drift detection), via
    :func:`namespace_declarations`. Same mapInArrow grain as extract."""
    return documents.select("content").mapInArrow(
        _prefix_batches, schema="doc_sha string, prefix string, ns string")


def _prefix_batches(batches: Iterator[pa.RecordBatch]
                    ) -> Iterator[pa.RecordBatch]:
    """:func:`document_prefixes`' Arrow UDF: one output batch per input
    batch."""
    sha256 = hashlib.sha256
    for rb in batches:
        contents = rb.column(rb.schema.get_field_index("content")).to_pylist()
        shas, prefs, nss = [], [], []
        for content in contents:
            data = (content.encode("utf-8")
                    if isinstance(content, str) else content)
            doc_sha = sha256(data).hexdigest()
            for prefix, ns in namespace_declarations(data).items():
                shas.append(doc_sha)
                prefs.append(prefix if prefix is not None else "")
                nss.append(ns)
        yield pa.RecordBatch.from_arrays(
            [arrowcols.strings(shas), arrowcols.strings(prefs),
             arrowcols.strings(nss)],
            names=["doc_sha", "prefix", "ns"])
