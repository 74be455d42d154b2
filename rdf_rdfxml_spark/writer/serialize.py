"""RDF/XML writer: triples → document (SURVEY.md §2.3, W1-W10).

Reimplements the reference writer's pipeline
(``/root/reference/lib/rdf/rdfxml/writer.rb``) Spark-first:

* the graph-global passes (reference ``preprocess``/``order_subjects``,
  writer.rb:409-482) become plain aggregations over the per-group triple
  set inside an ``applyInPandas`` grouped-map stage — serialization is
  per-output-document and therefore data-parallel, the Spark-native grain;
* QName minting follows ``get_qname``/``ensure_qname`` (writer.rb:546-612):
  split each IRI at the last non-NCName boundary, mint ``ns0, ns1, …`` for
  unknown namespaces;
* subject ordering is the reference's ``(is_bnode, ref_count, subject)``
  sort (writer.rb:452-482);
* referenced-once blank nodes nest anonymously up to ``max_depth``
  (default 10, writer.rb:153); multiply-referenced bnodes get
  ``rdf:nodeID`` (writer.rb:274);
* well-formed ``rdf:first/rest/nil`` chains re-sugar to
  ``parseType="Collection"`` (writer.rb:307-368);
* XMLLiteral values embed verbatim under ``parseType="Literal"``
  (writer.rb:347 + extensions.rb whitespace rules).

Round-trip parity (write → re-parse → isomorphic graph) is the correctness
contract, mirroring spec/writer_spec.rb:685-706.
"""

from __future__ import annotations

import re

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF_NS + "type"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"
RDF_XMLLITERAL = RDF_NS + "XMLLiteral"

_NC_END = re.compile(r"[A-Za-z_][A-Za-z0-9_.\-]*$")


def _escape_text(v: str) -> str:
    return v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _escape_attr(v: str) -> str:
    # numeric refs for whitespace so attribute-value normalization cannot
    # alter round-tripped literal values
    return (v.replace("&", "&amp;").replace("<", "&lt;")
            .replace('"', "&quot;").replace("\t", "&#x9;")
            .replace("\n", "&#xA;").replace("\r", "&#xD;"))


#: IRI → (ns, local) memo — predicates/types repeat across every
#: document a task renders; bounded (cleared past 64k entries), pure.
_SPLIT_IRI_MEMO: dict = {}


def _split_iri(iri: str):
    """Namespace/local split at the last non-NCName boundary
    (ensure_qname, writer.rb:591-612). Returns (ns, local) or None."""
    hit = _SPLIT_IRI_MEMO.get(iri, False)
    if hit is not False:
        return hit
    m = _NC_END.search(iri)
    if not m or m.start() == 0:
        out = None
    else:
        # keep '#' or '/' boundary on the namespace side
        out = iri[: m.start()], m.group(0)
    if len(_SPLIT_IRI_MEMO) > 65536:
        _SPLIT_IRI_MEMO.clear()
    _SPLIT_IRI_MEMO[iri] = out
    return out


# Known-vocabulary prefixes, preferred over minted ns0… names — the
# reference's get_qname consults the registered vocabulary list before
# generating a namespace (writer.rb:546-590). Static table of the
# ubiquitous vocabularies; anything else still mints ns<N>. Only *used*
# namespaces are declared on the root element.
KNOWN_PREFIXES = {
    "http://www.w3.org/2000/01/rdf-schema#": "rdfs",
    "http://www.w3.org/2002/07/owl#": "owl",
    "http://www.w3.org/2001/XMLSchema#": "xsd",
    "http://purl.org/dc/elements/1.1/": "dc",
    "http://purl.org/dc/terms/": "dcterms",
    "http://xmlns.com/foaf/0.1/": "foaf",
    "http://www.w3.org/2004/02/skos/core#": "skos",
    "http://usefulinc.com/ns/doap#": "doap",
}


class _QNames:
    def __init__(self):
        self.ns_to_prefix = {RDF_NS: "rdf"}
        self._n = 0

    def qname(self, iri: str):
        parts = _split_iri(iri)
        if not parts:
            return None
        ns, local = parts
        prefix = self.ns_to_prefix.get(ns)
        if prefix is None:
            prefix = KNOWN_PREFIXES.get(ns)
            if prefix is None:
                prefix = f"ns{self._n}"
                self._n += 1
            self.ns_to_prefix[ns] = prefix
        return f"{prefix}:{local}"


def _term(row):
    """Row dict -> term tuple."""
    if row["o_kind"] == "literal":
        return ("literal", row["o"], row.get("o_lang"), row.get("o_dt"))
    return (row["o_kind"], row["o"])


RDFS_CLASS = "http://www.w3.org/2000/01/rdf-schema#Class"


def serialize_graph(rows, base_uri: str | None = None,
                    max_depth: int = 10, lang: str | None = None,
                    attributes: str = "none",
                    stylesheet: str | None = None,
                    top_classes: list[str] | None = None) -> str:
    """Serialize triple rows (dicts with s, s_kind, p, o, o_kind, o_lang,
    o_dt) to one RDF/XML document string.

    ``attributes``: 'none' (default) renders every property as an element;
    'untyped' folds single-valued plain no-lang literals into XML property
    attributes; 'typed' additionally folds typed literals (lossy on the
    datatype — the reference's semantics, writer.rb:500-525).

    ``top_classes``: rdf:types whose instances are emitted right after the
    base subject, before everything else (reference ``order_subjects``,
    writer.rb:452-472; option default ``[RDF::RDFS.Class]``,
    writer.rb:124-133). Instances of each class are sorted by term.
    """
    subjects: dict[tuple, list] = {}
    ref_count: dict[tuple, int] = {}
    for r in rows:
        skey = (r["s_kind"], r["s"])
        subjects.setdefault(skey, []).append(r)
        o = _term(r)
        if o[0] in ("iri", "bnode"):
            okey = (o[0], o[1])
            ref_count[okey] = ref_count.get(okey, 0) + 1

    def relativize(iri: str) -> str:
        """Base-relative IRI output (reference get_qname's base-relative
        branch, writer.rb:546-558) — only forms whose RFC 3986 resolution
        provably restores the absolute IRI: '' for the base itself,
        '#frag'/'?query' suffixes against any base, and a bare trailing
        segment only against a '/'-terminated base (and only when the
        segment can't be misread as a scheme or dot-segment)."""
        if not base_uri:
            return iri
        if iri == base_uri:
            return ""
        if iri.startswith(base_uri):
            rest = iri[len(base_uri):]
            if rest.startswith(("#", "?")):
                return rest
            if (base_uri.endswith("/") and rest
                    and not rest.startswith(("/", "."))
                    and ":" not in rest.split("/", 1)[0]):
                return rest
        return iri

    qn = _QNames()
    # Pre-mint QNames for all predicates and type objects (preprocess,
    # writer.rb:431-444) so the xmlns block is complete before rendering.
    for rs in subjects.values():
        for r in rs:
            qn.qname(r["p"])
            if r["p"] == RDF_TYPE and r["o_kind"] == "iri":
                qn.qname(r["o"])

    # Collection detection: bnode cells with exactly first+rest.
    def list_chain(head):
        chain = []
        cur = head
        seen = set()
        while True:
            if cur == ("iri", RDF_NIL):
                return chain
            if cur[0] != "bnode" or cur in seen:
                return None
            seen.add(cur)
            cell = subjects.get(cur)
            if not cell or len(cell) != 2:
                return None
            first = [r for r in cell if r["p"] == RDF_FIRST]
            rest = [r for r in cell if r["p"] == RDF_REST]
            if len(first) != 1 or len(rest) != 1:
                return None
            if ref_count.get(cur, 0) > 1:
                return None
            chain.append((cur, _term(first[0])))
            cur = _term(rest[0])

    serialized: set = set()

    def render_object_nested(o, depth):
        """Can/should this object be rendered as a nested node element?"""
        return (o in subjects and o not in serialized
                and ref_count.get(o, 0) <= 1 and depth < max_depth)

    def render_subject(skey, depth, indent):
        serialized.add(skey)
        rs = subjects[skey]
        types = [r for r in rs if r["p"] == RDF_TYPE
                 and r["o_kind"] == "iri" and qn.qname(r["o"])]
        others = [r for r in rs if r not in types[:1]]
        elt = qn.qname(types[0]["o"]) if types else "rdf:Description"

        attrs = []
        if skey[0] == "iri":
            attrs.append(f' rdf:about="{_escape_attr(relativize(skey[1]))}"')
        elif ref_count.get(skey, 0) >= 1 and depth == 0:
            # referenced bnode at top level needs a stable label
            attrs.append(f' rdf:nodeID="{_bnode_label(skey[1])}"')

        # prop_partition (writer.rb:500-525): fold eligible single-valued
        # literals into XML property attributes
        if attributes in ("untyped", "typed"):
            by_pred: dict[str, list] = {}
            for r in others:
                by_pred.setdefault(r["p"], []).append(r)
            folded = []
            for pred, rs_p in by_pred.items():
                if len(rs_p) != 1:
                    continue
                r = rs_p[0]
                o = _term(r)
                if o[0] != "literal" or o[2]:
                    continue
                if o[3] and (attributes != "typed" or o[3] == RDF_XMLLITERAL):
                    continue
                pq = qn.qname(pred)
                if pq:
                    attrs.append(f' {pq}="{_escape_attr(o[1])}"')
                    folded.append(r)
            others = [r for r in others if r not in folded]

        pad = "  " * (indent + 1)
        out = [f'{"  " * indent}<{elt}{"".join(attrs)}>']
        for r in others:
            pq = qn.qname(r["p"]) or "rdf:Description"
            o = _term(r)
            if o[0] == "literal":
                _v, value, olang, odt = o
                if olang and lang and olang == lang.lower():
                    # literal language == document language → elide, the
                    # root xml:lang re-establishes it (get_lang,
                    # writer.rb:526-531)
                    olang = None
                if odt == RDF_XMLLITERAL:
                    out.append(f'{pad}<{pq} rdf:parseType="Literal">'
                               f'{value}</{pq}>')
                elif odt:
                    out.append(f'{pad}<{pq} rdf:datatype="{_escape_attr(odt)}"'
                               f'>{_escape_text(value)}</{pq}>')
                elif olang:
                    out.append(f'{pad}<{pq} xml:lang="{olang}">'
                               f'{_escape_text(value)}</{pq}>')
                else:
                    out.append(f'{pad}<{pq}>{_escape_text(value)}</{pq}>')
                continue
            okey = (o[0], o[1])
            chain = list_chain(okey) if okey[0] == "bnode" else None
            if chain is not None and chain:
                items = []
                for cell, member in chain:
                    serialized.add(cell)
                    if member[0] == "iri":
                        items.append(f'{pad}  <rdf:Description rdf:about='
                                     f'"{_escape_attr(member[1])}"/>')
                    elif member[0] == "bnode" and (member[0], member[1]) in subjects:
                        items.append(render_subject(
                            (member[0], member[1]), depth + 1, indent + 2))
                    else:
                        items.append(f'{pad}  <rdf:Description rdf:nodeID='
                                     f'"{_bnode_label(member[1])}"/>')
                out.append(f'{pad}<{pq} rdf:parseType="Collection">')
                out.extend(items)
                out.append(f'{pad}</{pq}>')
            elif okey == ("iri", RDF_NIL) and chain == []:
                out.append(f'{pad}<{pq} rdf:parseType="Collection"></{pq}>')
            elif okey[0] == "bnode":
                if render_object_nested(okey, depth):
                    out.append(f"{pad}<{pq}>")
                    out.append(render_subject(okey, depth + 1, indent + 2))
                    out.append(f"{pad}</{pq}>")
                else:
                    out.append(f'{pad}<{pq} rdf:nodeID='
                               f'"{_bnode_label(okey[1])}"/>')
            else:
                out.append(f'{pad}<{pq} rdf:resource='
                           f'"{_escape_attr(relativize(okey[1]))}"/>')
        out.append(f'{"  " * indent}</{elt}>')
        return "\n".join(out)

    # order_subjects (writer.rb:452-482): base first, then instances of
    # each top_classes entry (sorted by term, per class, in option order),
    # then the rest by (is_bnode, ref_count, subject).
    tcs = [RDFS_CLASS] if top_classes is None else list(top_classes)
    seen: set = set()
    ordered: list = []
    base_key = ("iri", base_uri) if base_uri else None
    if base_key and base_key in subjects:
        ordered.append(base_key)
        seen.add(base_key)
    for cls in tcs:
        typed = sorted(
            (sk for sk, rs in subjects.items()
             if sk not in seen
             and any(r["p"] == RDF_TYPE and r["o_kind"] == "iri"
                     and r["o"] == cls for r in rs)),
            key=lambda sk: (1 if sk[0] == "bnode" else 0, sk[1]))
        ordered.extend(typed)
        seen.update(typed)
    ordered.extend(sorted(
        (sk for sk in subjects if sk not in seen),
        key=lambda sk: (1 if sk[0] == "bnode" else 0,
                        ref_count.get(sk, 0), sk[1])))

    body = []
    for skey in ordered:
        if skey in serialized:
            continue
        # top-level: skip bnodes that will be nested under their referrer
        if skey[0] == "bnode" and ref_count.get(skey, 0) == 1:
            continue
        body.append(render_subject(skey, 0, 1))
    # second pass: anything left (cycles among referenced-once bnodes)
    for skey in ordered:
        if skey not in serialized:
            body.append(render_subject(skey, 0, 1))

    ns_attrs = "".join(
        f'\n   xmlns:{p}="{_escape_attr(ns)}"'
        for ns, p in sorted(qn.ns_to_prefix.items(), key=lambda kv: kv[1]))
    base_attr = f'\n   xml:base="{_escape_attr(base_uri)}"' if base_uri else ""
    lang_attr = f'\n   xml:lang="{lang}"' if lang else ""
    # optional xml-stylesheet PI (writer.rb:215-228 haml :doc prologue)
    pi = (f'<?xml-stylesheet type="text/xsl" '
          f'href="{_escape_attr(stylesheet)}"?>\n' if stylesheet else "")
    return ('<?xml version="1.0" encoding="UTF-8"?>\n' + pi
            + f"<rdf:RDF{ns_attrs}{base_attr}{lang_attr}>\n"
            + "\n".join(body) + "\n</rdf:RDF>\n")


def _bnode_label(bid: str) -> str:
    """Deterministic NCName label from a pipeline bnode id
    (``b:<sha>:<n>`` → ``b<sha8><n>``)."""
    parts = bid.split(":")
    if len(parts) == 3 and parts[0] == "b":
        return f"b{parts[1][:12]}x{parts[2]}"
    return "b" + re.sub(r"[^A-Za-z0-9_]", "x", bid)


def write_rdfxml(triples, group_cols=("doc_sha",), attributes: str = "none",
                 *, base_uri: str | None = None, max_depth: int = 10,
                 lang: str | None = None, stylesheet: str | None = None,
                 grouped: bool = False):
    """Spark stage: grouped serialization — one RDF/XML document per
    group (per-document data-parallel, SURVEY.md §2.3). Keyword options
    mirror the reference writer's surface (writer.rb: max_depth :153,
    base/lang :152-179, stylesheet :215-228).

    Plan shape (PERF.md §16): ``repartition(group) →
    sortWithinPartitions(group) → mapInArrow`` with a streaming groupby
    over the sorted Arrow batches — semantically identical to
    ``groupBy().applyInPandas`` (same single exchange + sort) but without
    the per-GROUP pandas DataFrame construction, which dominated wall
    time at ~5-triple documents (thousands of tiny groups per task; the
    same reason extraction uses mapInArrow). Groups spanning batch
    boundaries are carried over; a group never spans partitions because
    the repartition hashes on exactly the group columns.

    ``grouped=True``: the caller guarantees each group's rows are
    already CONTIGUOUS within one partition — true for the parse →
    re-serialize pipeline, because extraction emits each document's
    triples consecutively and every op between (select/filter) is
    narrow. The group exchange + sort are then skipped entirely and the
    render fuses into the upstream stage: the whole corpus-rewrite plan
    becomes scan → parse → render with ZERO shuffles (PERF.md §19 —
    measured 2.0× end-to-end at sf0.1, 0.89 s vs 1.78 s including the
    parse, and at 100 TB it removes the only wide dependency from the
    rewrite job). Caveat: rows of the same key in
    *different* partitions produce one output document each (the
    shuffling path would merge them) — correct for re-serialization
    where each input document is distinct.
    """
    group_cols = list(group_cols)
    # project to the render's inputs BEFORE the group exchange: lineage
    # passthrough columns (repo/path/commit) would otherwise ride the
    # shuffle unused — measurable width at 100 TB (PERF.md §16)
    needed = group_cols + [c for c in
                           ("s", "s_kind", "p", "o", "o_kind",
                            "o_lang", "o_dt")
                           if c not in group_cols and c in triples.columns]
    triples = triples.select(*needed)
    schema = ", ".join(f"{c} string" for c in group_cols) + ", xml string"
    render_stream = _render_stream(
        group_cols, dict(attributes=attributes, base_uri=base_uri,
                         max_depth=max_depth, lang=lang,
                         stylesheet=stylesheet))

    if grouped:
        return triples.mapInArrow(render_stream, schema=schema)
    # explicit partition count: the group shuffle is small in BYTES but
    # the render is compute-bound — AQE would coalesce it to one task
    # (the §7 bytes-vs-compute trap; observed exactly that: 1-task render)
    spread = 2 * triples.sparkSession.sparkContext.defaultParallelism
    return (triples.repartition(spread, *group_cols)
            .sortWithinPartitions(*group_cols)
            .mapInArrow(render_stream, schema=schema))


def _render_stream(group_cols: list, opts: dict):
    """:func:`write_rdfxml`'s Arrow UDF: a streaming groupby over batches
    whose rows arrive grouped, rendering each group with
    :func:`serialize_graph` (``opts``) into one ``(group_cols…, xml)``
    row. A group is emitted when the next one starts, so rows are yielded
    after each input batch that completed a group, and the last group
    after the input ends."""
    out_cols = group_cols + ["xml"]

    def render_stream(batches):
        import pyarrow as pa
        from ..functions.arrowcols import strings
        cur_key, cur_rows = None, []
        out = [[] for _ in out_cols]

        def flush():
            if cur_key is None:
                return
            for col, k in zip(out, cur_key):
                col.append(k)
            out[-1].append(serialize_graph(cur_rows, **opts))

        def batch():
            return pa.RecordBatch.from_arrays([strings(c) for c in out],
                                              names=out_cols)

        for rb in batches:
            for r in rb.to_pylist():
                k = tuple(r[c] for c in group_cols)
                if k != cur_key:
                    flush()
                    cur_key, cur_rows = k, []
                cur_rows.append(r)
            if out[-1]:
                yield batch()
                out = [[] for _ in out_cols]
        flush()
        if out[-1]:
            yield batch()

    return render_stream
