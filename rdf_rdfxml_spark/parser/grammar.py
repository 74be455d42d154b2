"""RDF/XML grammar: (document, base_uri) -> triples + errors.

A from-scratch Python implementation of the W3C RDF/XML Syntax grammar with
the same observable semantics as the reference reader
(``/root/reference/lib/rdf/rdfxml/reader.rb``). Every production is a pure
function over the mini-DOM in :mod:`rdf_rdfxml_spark.functions.xmldom`; the
whole module runs *inside* Arrow-batched Spark UDF workers — it never touches
the JVM and is embarrassingly parallel at the document grain.

Term encoding (see SURVEY.md §1.2):

* subjects: ``("iri", value)`` or ``("bnode", id)``
* objects:  additionally ``("literal", value, lang, datatype)``

Blank-node ids are deterministic and globally unique:
``b:<doc_key>:<counter>`` where ``doc_key`` is the caller-provided document
key (sha256 of content in the pipeline) and ``counter`` increments in
document order — this replaces the reference's per-process
``RDF::Node.new`` / ``@bnode_cache`` (reader.rb:252-255) with an encoding
that is stable across task retries and cluster sizes (SURVEY.md §2.4 D1).

Deliberately replicated reference quirks (each cited):

* absolute IRIs pass through ``uri()`` unchanged — no dot-segment
  normalization (reader.rb:683-684).
* ``rdf:datatype`` values are **not** resolved against the in-scope base
  (reader.rb:430 calls ``uri(datatype)`` with no base).
* a bare ``emptyPropertyElt`` takes its language from the *parent* node
  element's context (reader.rb:530 uses ``ec``, not ``child_ec``).
* ``rdf:type`` as a property attribute on an ``emptyPropertyElt`` object is
  emitted as a *plain literal* (reader.rb:549 passes the raw string to
  ``RDF::Statement``, which coerces to ``RDF::Literal``) — unlike on node
  elements where it is resolved to an IRI (reader.rb:320-321).
* a property element with text content *and* property attributes matches no
  production and is silently dropped (reader.rb:413-564 if/elsif chain).
* an invalid ``rdf:nodeID`` on a node element maps to the single shared
  per-document bnode cached under the empty label (reader.rb:639-646 returns
  nil → ``bnode(nil)`` → cache key ``""``).
* reification context: ``literalPropertyElt`` resolves ``rdf:ID`` against
  the parent context's base (reader.rb:436 passes ``ec``); all other
  productions use the property element's own context (reader.rb:450,482,
  534,562).
"""

from __future__ import annotations

from ..functions import iri as iri_mod
from ..functions.c14n import c14nxl
from ..functions.iri import (
    is_ncname,
    ntriples_unescape,
    resolve,
    resolve_base,
    strip_fragment,
)
from ..functions.xmldom import (
    RDF_NS,
    XML_NS,
    Element,
    XMLParseError,
    find_rdf_islands,
    parse_document,
)

RDF_TYPE = RDF_NS + "type"
RDF_DESCRIPTION = RDF_NS + "Description"
RDF_LI = RDF_NS + "li"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"
RDF_STATEMENT = RDF_NS + "Statement"
RDF_SUBJECT = RDF_NS + "subject"
RDF_PREDICATE = RDF_NS + "predicate"
RDF_OBJECT = RDF_NS + "object"
RDF_XMLLITERAL = RDF_NS + "XMLLiteral"

# reader.rb:21-22
CORE_SYNTAX_TERMS = frozenset(
    RDF_NS + n for n in ("RDF", "ID", "about", "parseType", "resource",
                         "nodeID", "datatype")
)
OLD_TERMS = frozenset(
    RDF_NS + n for n in ("aboutEach", "aboutEachPrefix", "bagID")
)

_ILLEGAL_PROP_ATTRS = frozenset({RDF_DESCRIPTION, RDF_LI}) | OLD_TERMS
_ILLEGAL_NODE_NAMES = CORE_SYNTAX_TERMS | {RDF_LI} | OLD_TERMS
_ILLEGAL_PROP_NAMES = CORE_SYNTAX_TERMS | {RDF_DESCRIPTION} | OLD_TERMS


def _attr_uri(a_ns: str | None, a_local: str) -> str:
    """Attribute expanded name, XML-namespace default for unqualified attrs
    (NodeProxy#uri, nokogiri.rb:169-173)."""
    return (a_ns if a_ns is not None else XML_NS) + a_local


class EvaluationContext:
    """The recursive baggage (reader.rb:26-107)."""

    __slots__ = ("base", "subject", "uri_mappings", "language", "li_counter",
                 "_owns_map")

    def __init__(self, base: str):
        self.base = strip_fragment(base or "")
        self.subject = None
        self.uri_mappings: dict = {}
        self.language: str | None = None
        self.li_counter = 0
        self._owns_map = True

    def clone(self, element: Element | None) -> "EvaluationContext":
        ec = EvaluationContext.__new__(EvaluationContext)
        ec.base = self.base
        ec.subject = None
        # Copy-on-write: most elements declare no namespaces, so the
        # mapping dict is shared until :meth:`extract_from_element`
        # actually needs to write (round 8 — one dict copy per clone was
        # measurable on the extraction hot path). No owner ever mutates
        # a shared dict: every write path copies first unless this
        # context already owns its private copy.
        ec.uri_mappings = self.uri_mappings
        ec._owns_map = False
        ec.language = self.language
        ec.li_counter = 0
        if element is not None:
            ec.extract_from_element(element)
        return ec

    def extract_from_element(self, el: Element) -> None:
        # reader.rb:69-76: language, base (joined + fragment stripped),
        # xmlns mappings (namespace URIs joined against base).
        # one attrs scan for both xml:* context attributes (first match
        # wins, same as Element.attr)
        lang = base = None
        for a_ns, a_local, _p, value in el.attrs:
            if a_ns == XML_NS:
                if a_local == "lang":
                    if lang is None:
                        lang = value
                elif a_local == "base" and base is None:
                    base = value
        if lang is not None:
            self.language = lang
        if base is not None:
            self.base = resolve_base(self.base, base)
        if el.ns_decls:
            if not self._owns_map:
                self.uri_mappings = dict(self.uri_mappings)
                self._owns_map = True
            for prefix, uri in el.ns_decls:
                self.uri_mappings[prefix] = \
                    iri_mod.rfc3986_join(self.base, uri) \
                    if uri and not iri_mod.has_scheme(uri) else uri

    def extract_from_ancestors(self, el: Element) -> None:
        for a in el.ancestors():
            self.extract_from_element(a)
        self.extract_from_element(el)

    def li_next(self) -> str:
        self.li_counter += 1
        return f"{RDF_NS}_{self.li_counter}"


class DocumentParser:
    """One document's parse state: bnode allocation, rdf:ID registry,
    triple + error accumulators."""

    def __init__(self, doc_key: str, base_uri: str = ""):
        self.doc_key = doc_key
        self.base_uri = base_uri or ""
        self.triples: list[tuple] = []
        self.errors: list[str] = []
        self._bnode_cache: dict[str, str] = {}
        self._bnode_counter = 0
        self._id_registry: dict[str, str] = {}

    # -- term allocation -------------------------------------------------------
    def fresh_bnode(self) -> str:
        bid = f"b:{self.doc_key}:{self._bnode_counter}"
        self._bnode_counter += 1
        return bid

    def bnode(self, label: str | None = None) -> str:
        # reader.rb:252-255 — per-document labeled cache; nil label caches
        # under "" (shared).
        key = label or ""
        cached = self._bnode_cache.get(key)
        if cached is None:
            cached = self.fresh_bnode()
            self._bnode_cache[key] = cached
        return cached

    # -- diagnostics -----------------------------------------------------------
    def error(self, message: str) -> None:
        self.errors.append(message)

    def add_triple(self, subject, predicate: str, obj) -> None:
        self.triples.append((subject, predicate, obj))

    # -- entry (reader.rb:185-230) ----------------------------------------------
    def parse(self, content):
        """Parse one document into ``self.triples`` / ``self.errors``."""
        try:
            root = parse_document(content)
        except XMLParseError as e:
            self.error(f"XML parse error: {e}")
            return
        islands = find_rdf_islands(root)
        if not islands:
            # Root element processed as a node element (reader.rb:196-204).
            ec = EvaluationContext(self.base_uri)
            ec.extract_from_element(root)
            self.node_element(root, ec)
            return
        for island in islands:
            ec = EvaluationContext(self.base_uri)
            ec.extract_from_ancestors(island)
            for child in island.element_children():
                self.node_element(child, ec.clone(child))

    # -- productions -------------------------------------------------------------
    def node_element(self, el: Element, ec: EvaluationContext):
        """reader.rb:300-569. Returns the subject term."""
        subject = ec.subject if ec.subject is not None \
            else self.parse_subject(el, ec)

        if el.uri != RDF_DESCRIPTION:
            self.add_triple(subject, RDF_TYPE, ("iri", el.uri))

        # Property attributes (reader.rb:313-328).
        for a_ns, a_local, _a_prefix, value in el.attrs:
            uri = _attr_uri(a_ns, a_local)
            if uri == RDF_TYPE:
                self.add_triple(subject, RDF_TYPE,
                                ("iri", resolve(ec.base, value)))
            elif self._is_property_attr(a_ns, uri, a_local):
                self.add_triple(subject, uri,
                                self._literal(value, ec.language))

        # Property element list, document order (reader.rb:331-565).
        for child in el.element_children():
            self.property_element(child, subject, ec)
        return subject

    def property_element(self, child: Element, subject, ec: EvaluationContext):
        child_ec = ec.clone(child)
        predicate = child.uri
        if predicate in _ILLEGAL_PROP_NAMES:
            self.error(f"Invalid use of rdf:{child.local} as property element")

        # one pass over children instead of two filtering properties
        text_nodes = []
        element_nodes = []
        for c in child.children:
            if c.is_element:
                element_nodes.append(c)
            elif c.value.strip():
                text_nodes.append(c)

        # li expansion (reader.rb:362) — counter lives on the *node
        # element's* context.
        if predicate == RDF_LI:
            predicate = ec.li_next()

        # Attribute classification (reader.rb:372-404).
        attrs: list[tuple] = []          # [(uri, local, value, ns)]
        id_ = datatype = parse_type = resource_attr = node_id = None
        for a_ns, a_local, _a_prefix, value in child.attrs:
            if a_ns is None:
                continue                 # unqualified: ignored (reader.rb:376-382)
            if a_ns == XML_NS:
                continue                 # xml:* handled via context
            if a_ns == RDF_NS:
                if a_local == "ID":
                    id_ = value
                elif a_local == "datatype":
                    datatype = value
                elif a_local == "parseType":
                    parse_type = value
                elif a_local == "resource":
                    resource_attr = value
                elif a_local == "nodeID":
                    node_id = value
                else:
                    attrs.append((RDF_NS + a_local, a_local, value, a_ns))
            else:
                attrs.append((a_ns + a_local, a_local, value, a_ns))

        if node_id and resource_attr:
            self.error("Cannot have rdf:nodeID and rdf:resource.")

        if id_ is not None:
            id_ = self.id_check(ntriples_unescape(id_), None)
        if resource_attr is not None:
            resource_attr = ntriples_unescape(resource_attr)
        if node_id is not None:
            node_id = self.node_id_check(ntriples_unescape(node_id))

        if not attrs and datatype is None and parse_type is None \
                and len(element_nodes) == 1:
            # resourcePropertyElt (reader.rb:413-423)
            new_subject = self.node_element(element_nodes[0],
                                            child_ec.clone(None))
            self.add_triple(subject, predicate, new_subject)
        elif not attrs and parse_type is None and not element_nodes \
                and text_nodes:
            # literalPropertyElt (reader.rb:424-436)
            if datatype is not None:
                # quirk: datatype NOT base-resolved (reader.rb:430)
                literal = ("literal", child.inner_text(), None, datatype)
            else:
                literal = self._literal(child.inner_text(), child_ec.language)
            self.add_triple(subject, predicate, literal)
            if id_:
                self.reify(id_, subject, predicate, literal, ec)
        elif parse_type == "Resource":
            # parseTypeResourcePropertyElt (reader.rb:437-468)
            if attrs:
                self.error("Resource Property with extra attributes")
            n = ("bnode", self.fresh_bnode())
            self.add_triple(subject, predicate, n)
            if id_:
                self.reify(id_, subject, predicate, n, child_ec)
            # Synthetic rdf:Description with subject := n over child content.
            inner_ec = child_ec.clone(None)
            inner_ec.subject = n
            for grandchild in child.element_children():
                self.property_element(grandchild, n, inner_ec)
        elif parse_type == "Collection":
            # parseTypeCollectionPropertyElt (reader.rb:469-496)
            if attrs:
                self.error("Resource Property with extra attributes")
            cells = [("bnode", self.fresh_bnode()) for _ in element_nodes]
            head = cells[0] if cells else ("iri", RDF_NIL)
            self.add_triple(subject, predicate, head)
            if id_:
                self.reify(id_, subject, predicate, head, child_ec)
            for i, f in enumerate(element_nodes):
                obj = self.node_element(f, child_ec.clone(None))
                self.add_triple(cells[i], RDF_FIRST, obj)
                nxt = cells[i + 1] if i + 1 < len(cells) else ("iri", RDF_NIL)
                self.add_triple(cells[i], RDF_REST, nxt)
        elif parse_type is not None:
            # parseTypeLiteralPropertyElt / Other (reader.rb:497-523)
            if attrs:
                self.error("Resource Property with extra attributes")
            if resource_attr:
                self.error("illegal rdf:resource")
            value = c14nxl(child.children, language=ec.language,
                           namespaces=child_ec.uri_mappings)
            literal = ("literal", value, None, RDF_XMLLITERAL)
            self.add_triple(subject, predicate, literal)
        elif not text_nodes and not element_nodes:
            # emptyPropertyElt (reader.rb:524-564)
            if not attrs and resource_attr is None and node_id is None:
                # quirk: language from *parent* ec (reader.rb:530)
                literal = self._literal("", ec.language)
                self.add_triple(subject, predicate, literal)
                if id_:
                    self.reify(id_, subject, predicate, literal, child_ec)
            else:
                if resource_attr is not None:
                    resource = ("iri", resolve(ec.base, resource_attr))
                elif node_id:
                    resource = ("bnode", self.bnode(node_id))
                else:
                    resource = ("bnode", self.fresh_bnode())
                for uri, local, value, a_ns in attrs:
                    if uri == RDF_TYPE:
                        # quirk: raw string → plain literal (reader.rb:549)
                        self.add_triple(resource, RDF_TYPE,
                                        ("literal", value, None, None))
                    elif self._is_property_attr(a_ns, uri, local):
                        self.add_triple(resource, uri,
                                        self._literal(value,
                                                      child_ec.language))
                self.add_triple(subject, predicate, resource)
                if id_:
                    self.reify(id_, subject, predicate, resource, child_ec)
        # else: no production matches (e.g. text content + property attrs,
        # or >1 element child) — reference emits nothing (reader.rb:413-564).

    # -- helpers ---------------------------------------------------------------
    def reify(self, id_: str, subject, predicate: str, obj, ec) -> None:
        # reader.rb:573-580
        rsubject = ("iri", iri_mod.rfc3986_join(ec.base, "#" + id_))
        self.add_triple(rsubject, RDF_SUBJECT, subject)
        self.add_triple(rsubject, RDF_PREDICATE, ("iri", predicate))
        self.add_triple(rsubject, RDF_OBJECT, obj)
        self.add_triple(rsubject, RDF_TYPE, ("iri", RDF_STATEMENT))

    def parse_subject(self, el: Element, ec: EvaluationContext):
        # reader.rb:583-619
        self.old_property_check(el)
        if el.uri in _ILLEGAL_NODE_NAMES:
            self.error(f"Invalid use of rdf:{el.local} as node element")

        about = el.attr(RDF_NS, "about")
        id_ = el.attr(RDF_NS, "ID")
        node_id = el.attr(RDF_NS, "nodeID")
        resource = el.attr(RDF_NS, "resource")

        if node_id is not None and about is not None:
            self.error("Cannot have rdf:nodeID and rdf:about.")
        elif node_id is not None and id_ is not None:
            self.error("Cannot have rdf:nodeID and rdf:ID.")

        if id_ is not None:
            return self.id_check(ntriples_unescape(id_), ec.base)
        if node_id is not None:
            checked = self.node_id_check(ntriples_unescape(node_id))
            return ("bnode", self.bnode(checked))
        if about is not None:
            return ("iri", resolve(ec.base, ntriples_unescape(about)))
        if resource is not None:
            # Non-standard extension (reader.rb:14).
            return ("iri", resolve(ec.base, ntriples_unescape(resource)))
        return ("bnode", self.fresh_bnode())

    def id_check(self, id_: str, base: str | None):
        # reader.rb:622-635
        if not is_ncname(id_):
            self.error(f"ID attribute '{id_}' must be a NCName")
        if base is not None:
            uri = iri_mod.rfc3986_join(base, "#" + id_)
            if self._id_registry.get(id_) == uri:
                self.error(f"ID attribute '{id_}' may only be defined once "
                           "for the same URI")
            self._id_registry[id_] = uri
            return ("iri", uri)
        return id_

    def node_id_check(self, node_id: str):
        # reader.rb:639-646 — invalid → error + nil
        if is_ncname(node_id):
            return node_id
        self.error(f"nodeID attribute '{node_id}' must be an XML Name")
        return None

    def old_property_check(self, el: Element) -> None:
        # reader.rb:672-678
        for a_ns, a_local, _p, _v in el.attrs:
            if _attr_uri(a_ns, a_local) in OLD_TERMS:
                self.error(f"Obsolete attribute '{a_ns}{a_local}'")

    def _is_property_attr(self, a_ns, uri: str, local: str) -> bool:
        # reader.rb:649-655
        if uri in _ILLEGAL_PROP_ATTRS:
            self.error(f"Invalid use of rdf:{local}")
            return False
        return uri not in CORE_SYNTAX_TERMS and a_ns is not None \
            and a_ns != XML_NS

    @staticmethod
    def _literal(value: str, language: str | None):
        # RDF::Literal downcases language tags; empty tag → plain literal.
        lang = language.lower() if language else None
        return ("literal", value, lang, None)


def parse_rdfxml(content, base_uri: str = "", doc_key: str = "doc",
                 strict: bool = True, canonicalize: bool = False):
    """Parse one RDF/XML document.

    Returns ``(triples, errors)`` where triples is a list of
    ``(subject_term, predicate_iri, object_term)`` tuples. Under ``strict``
    (the reference's ``validate:`` mode, reader.rb:225-227) a document with
    any error yields **no** triples — W3C negative-syntax semantics.

    ``canonicalize``: off-by-default literal canonicalization (reference
    reader option, reader.rb:128-129) — valid lexical forms of the core
    XSD numeric/boolean datatypes are rewritten to canonical form.
    """
    parser = DocumentParser(doc_key, base_uri)
    try:
        parser.parse(content)
    except RecursionError:
        # A poison-pill document (hostile nesting) must land in the error
        # channel, not kill the Spark task — a retry would just die again.
        parser.error("recursion depth exceeded (document nesting too deep)")
        return [], parser.errors
    except Exception as e:  # defensive: per-document failure isolation
        parser.error(f"internal parse failure: {type(e).__name__}: {e}")
        return [], parser.errors
    if strict and parser.errors:
        return [], parser.errors
    triples = parser.triples
    if canonicalize:
        from ..functions.xsd import canonicalize_literal
        triples = [
            (s, p, ("literal", canonicalize_literal(o[1], o[3]), o[2], o[3])
             if o[0] == "literal" and o[3] else o)
            for s, p, o in triples]
    return triples, parser.errors
