"""Output checks, run outside the timed region.

* Committed triple counts come from parquet footers (pyarrow), so checking
  adds no Spark job.
* Graphs are compared up to blank-node relabeling: blank nodes are
  colored by iterated neighbourhood hashing (Weisfeiler-Lehman), then the
  two graphs must be equal as multisets of colored triples. Isomorphic
  graphs always compare equal; a changed, missing or extra triple changes
  the multiset.
"""

from __future__ import annotations

import hashlib
import os
import re
from collections import Counter, defaultdict

import pyarrow.parquet as pq

#: Row order used by the generator and the checks.
ROW_COLUMNS = ["s_kind", "s", "p", "o_kind", "o", "o_lang", "o_dt"]


def _h(*parts) -> str:
    return hashlib.blake2b(repr(parts).encode(), digest_size=12).hexdigest()


def canonical(rows) -> Counter:
    """Multiset of triples with blank nodes replaced by structural colors.

    ``rows``: iterable of ``(s_kind, s, p, o_kind, o, o_lang, o_dt)``.
    Triples are deduplicated first (a graph is a set).
    """
    rows = list(dict.fromkeys(tuple(r) for r in rows))
    color = {}
    for sk, s, _, ok, o, _, _ in rows:
        if sk == "bnode":
            color[s] = ""
        if ok == "bnode":
            color[o] = ""

    def term(kind, value):
        return ("B", color[value]) if kind == "bnode" else (kind, value)

    n_classes = 1 if color else 0
    for _ in range(len(color)):
        sig = defaultdict(list)
        for sk, s, p, ok, o, lang, dt in rows:
            if sk == "bnode":
                sig[s].append(("out", p, term(ok, o), lang, dt))
            if ok == "bnode":
                sig[o].append(("in", p, term(sk, s)))
        color = {b: _h(color[b], sorted(sig[b])) for b in color}
        n = len(set(color.values()))
        if n == n_classes:
            break
        n_classes = n
    return Counter((term(sk, s), p, term(ok, o), lang, dt)
                   for sk, s, p, ok, o, lang, dt in rows)


def same_graph(a, b) -> bool:
    return canonical(a) == canonical(b)


def parquet_files(path: str) -> list[str]:
    out = []
    for root, _, files in os.walk(path):
        out += [os.path.join(root, f) for f in files
                if f.endswith(".parquet") and not f.startswith(".")]
    return sorted(out)


def footer_rows(path: str) -> int:
    """Committed rows of a parquet dataset, from the file footers."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in parquet_files(path))


def dataset_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in parquet_files(path))


def read_columns(path: str, columns: list[str], filters=None):
    """Read columns of a dataset; partition directories are ignored."""
    import pyarrow as pa
    tables = [pq.read_table(f, columns=columns, filters=filters)
              for f in parquet_files(path)]
    return pa.concat_tables(tables) if tables else None


_DOC_IRI = re.compile(r"/r/(\d+)/|/doc/rel/(\d+)/|/doc/(\d+)#")
_BNODE = re.compile(r"b:([0-9a-f]{64}):")


def doc_of(s_kind: str, s: str, doc_by_sha: dict[str, int]) -> int | None:
    """The generated document a triple came from, read off its subject
    (generated subjects name their document; blank-node ids carry the
    document's sha256)."""
    m = (_BNODE if s_kind == "bnode" else _DOC_IRI).search(s)
    if m is None:
        return None
    if s_kind == "bnode":
        return doc_by_sha.get(m.group(1))
    return int(next(g for g in m.groups() if g is not None))


def check_documents(triples_path: str, errors_path: str | None,
                    doc_shas: dict[int, str], expected: dict[int, list],
                    malformed: set[int], sample: list[int]) -> list[str]:
    """Problems found in a documents → triples run (empty when correct).

    * the committed triple count equals the expected count;
    * error rows name exactly the malformed documents;
    * each sampled document's triples equal its expected triples up to
      blank-node relabeling. Rows are matched to documents by ``doc_sha``
      when the output keeps it. Otherwise the output is one corpus graph
      and rows are matched by their subject (``doc_of``); statements about
      shared vocabulary then belong to no document and are only counted.
    """
    problems = []
    has_doc = "doc_sha" in pq.ParquetFile(
        parquet_files(triples_path)[0]).schema.names
    if has_doc:  # per-document graphs
        want = sum(len(set(r)) for r in expected.values())
    else:  # one corpus graph; blank nodes are scoped to their document
        want = len({(i, r) if "bnode" in (r[0], r[3]) else r
                    for i, rows in expected.items() for r in rows})
    got = footer_rows(triples_path)
    if got != want:
        problems.append(f"committed {got} triples, expected {want}")
    if errors_path is not None:
        err = read_columns(errors_path, ["doc_sha"])
        err_docs = set(err.column(0).to_pylist()) if err is not None else set()
        bad = {doc_shas[i] for i in malformed}
        if err_docs != bad:
            problems.append(
                f"error rows on {len(err_docs)} documents, "
                f"{len(err_docs - bad)} not malformed, "
                f"{len(bad - err_docs)} malformed without one")
    want_sha = {doc_shas[i]: i for i in sample}
    got_rows = defaultdict(list)
    if has_doc:
        t = read_columns(triples_path, ["doc_sha"] + ROW_COLUMNS,
                         filters=[("doc_sha", "in", list(want_sha))])
        cols = [t.column(c).to_pylist() for c in ["doc_sha"] + ROW_COLUMNS]
        for r in zip(*cols):
            got_rows[r[0]].append(r[1:])
    else:
        doc_by_sha = {sha: i for i, sha in doc_shas.items()}
        sample = set(sample)
        t = read_columns(triples_path, ROW_COLUMNS)
        for r in zip(*(t.column(c).to_pylist() for c in ROW_COLUMNS)):
            i = doc_of(r[0], r[1], doc_by_sha)
            if i in sample:
                got_rows[doc_shas[i]].append(r)
    for sha, i in want_sha.items():
        want_rows = expected[i] if has_doc else [
            r for r in expected[i]
            if r[0] == "bnode" or doc_of(r[0], r[1], {}) == i]
        if not same_graph(got_rows.get(sha, []), want_rows):
            problems.append(f"document {i}: triples differ from expected")
    return problems


def check_export(xml_path: str, groups: dict[str, list],
                 sample: list[str]) -> list[str]:
    """Problems found in a write_rdfxml run: one document per group, and
    each sampled document re-parses to a graph isomorphic to its group."""
    from rdf_rdfxml_spark import parse_rdfxml
    problems = []
    got = footer_rows(xml_path)
    if got != len(groups):
        problems.append(f"committed {got} documents, expected {len(groups)}")
    t = read_columns(xml_path, ["doc_sha", "xml"],
                     filters=[("doc_sha", "in", list(sample))])
    docs = dict(zip(t.column(0).to_pylist(), t.column(1).to_pylist())) \
        if t is not None else {}
    for key in sample:
        if key not in docs:
            problems.append(f"group {key[:12]}: no document")
            continue
        triples, errors = parse_rdfxml(docs[key], doc_key=key)
        if errors:
            problems.append(f"group {key[:12]}: re-parse errors {errors[:1]}")
            continue
        rows = [(s[0], s[1], p, o[0], o[1],
                 o[2] if o[0] == "literal" else None,
                 o[3] if o[0] == "literal" else None)
                for s, p, o in triples]
        if not same_graph(rows, groups[key]):
            problems.append(f"group {key[:12]}: re-parsed graph differs")
    return problems
