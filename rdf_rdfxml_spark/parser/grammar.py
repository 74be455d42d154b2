"""RDF/XML grammar: (document, base_uri) -> triples + errors.

A from-scratch Python implementation of the W3C RDF/XML Syntax grammar with
the same observable semantics as the reference reader
(``/root/reference/lib/rdf/rdfxml/reader.rb``). The reference descends
recursively over a DOM; here the productions run in expat's start, end and
character callbacks, and an explicit stack of frames holds what the DOM's
parent links provide there: base, language, subject and the ``rdf:li``
counter. No tree is built, and nothing recurses with document depth. The
whole module runs *inside* Arrow-batched Spark UDF workers — it never
touches the JVM and is embarrassingly parallel at the document grain.

A node element's subject, ``rdf:type`` triple and property attributes are
known at its start tag; ``parseType="Resource"`` and ``"Literal"`` are
decided there too. Any other property element's production is decided at
its end tag. The output — triples in order, blank-node labels and errors —
is the one a recursive descent over the tree gives. Three places look
ahead to get it:

* **resourcePropertyElt** (a property element whose only element child is
  a node element): the first element child is parsed right away behind a
  mark (triple and error counts, the blank-node counter, an undo log of the
  blank-node and ``rdf:ID`` tables). A second element child means no
  production (reader.rb:413-564): everything since the mark is dropped and
  the rest of the element is skipped.
* **parseType="Collection"**: every list cell takes its blank-node id
  before any member is parsed (reader.rb:469-496), so the element's events
  are buffered to its end tag, the cells allocated, and the events replayed
  through the same handlers.
* **a root other than rdf:RDF, or a nested rdf:RDF**: whether the root is a
  node element depends on whether any ``//rdf:RDF`` follows, and nested
  islands are parsed again (reader.rb:195-207). Such a document is read
  whole into a buffer of events first, then replayed in the reference's
  order. A production that raises mid-stream takes the same path, so the
  error list is the one the reference's order gives.

Buffered events carry each start tag's count of element children, so a
replay decides both lookaheads at the start tag and never buffers again.

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
* a nested node element (the object of a property element, or a collection
  member) is parsed in its property element's context: its own
  ``xml:base`` and ``xml:lang`` do not apply to it, only to its property
  elements (reader.rb:413-423, 469-496).
"""

from __future__ import annotations

from itertools import islice

from ..functions import iri as iri_mod
from ..functions.c14n import LiteralWriter
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
    XMLParseError,
    expat_parse,
    split_name,
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
_RDF_RDF = RDF_NS + "RDF"
_NIL = ("iri", RDF_NIL)

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

# What the handlers do with events inside the top frame's element: drop
# them, or hand them to its LiteralWriter or _Recorder.
_SKIP, _LITERAL, _RECORD = 1, 2, 3
_MISSING = object()


class _Restart(Exception):
    """The streamed pass cannot give the reference's order for this
    document; it is read whole and replayed."""


def _literal(value: str, language: str | None):
    # RDF::Literal downcases language tags; empty tag → plain literal.
    return ("literal", value, language.lower() if language else None, None)


def _xml_context(base: str, lang, attrs):
    """(base, language) inside an element, from its ``xml:base`` and
    ``xml:lang`` (reader.rb:69-76: base joined, fragment stripped)."""
    for i in range(0, len(attrs), 2):
        a_ns, a_local = split_name(attrs[i])[:2]
        if a_ns == XML_NS:
            if a_local == "lang":
                lang = attrs[i + 1]
            elif a_local == "base":
                base = resolve_base(base, attrs[i + 1])
    return base, lang


class _Island:
    """An rdf:RDF element: its element children are node elements."""
    __slots__ = ("base", "lang")

    def __init__(self, base, lang):
        self.base, self.lang = base, lang


class _Node:
    """A node element, or a parseType="Resource" property element: its
    element children are property elements of ``subject``."""
    __slots__ = ("subject", "base", "lang", "li")

    def __init__(self, subject, base, lang):
        self.subject, self.base, self.lang = subject, base, lang
        self.li = 0


class _Prop:
    """A property element whose production its end tag decides, or a
    parseType="Literal" one (``lit``)."""
    __slots__ = ("node", "predicate", "id_", "datatype", "resource",
                 "node_id", "attrs", "base", "lang", "text", "n", "obj",
                 "mark", "dead", "lit", "known")

    def __init__(self, node, predicate, id_, datatype, resource, node_id,
                 attrs, base, lang, known):
        self.node, self.predicate, self.id_ = node, predicate, id_
        self.datatype, self.resource, self.node_id = datatype, resource, node_id
        self.attrs, self.base, self.lang = attrs, base, lang
        self.known = known          # element children counted in advance
        self.text = ""
        self.n = 0                  # element children seen
        self.obj = self.mark = self.lit = None
        self.dead = False


class _Collection:
    """A parseType="Collection" property element: its element children are
    the list members."""
    __slots__ = ("subject", "predicate", "id_", "base", "lang", "cells",
                 "i", "rec")

    def __init__(self, subject, predicate, id_, base, lang):
        self.subject, self.predicate, self.id_ = subject, predicate, id_
        self.base, self.lang = base, lang
        self.cells = self.rec = None
        self.i = 0


class _Recorder:
    """Buffered events for a replay: a start tag is a ``[name, attrs,
    element children]`` list, an end tag ``None``, character data a str.
    ``top`` counts the element children of the buffered content."""
    __slots__ = ("events", "open", "top")

    def __init__(self):
        self.events: list = []
        self.open: list = []
        self.top = 0

    def start(self, name, attrs):
        ev = [name, attrs, 0]
        if self.open:
            self.open[-1][2] += 1
        else:
            self.top += 1
        self.open.append(ev)
        self.events.append(ev)

    def end(self, name=None):
        self.open.pop()
        self.events.append(None)

    def text(self, data):
        self.events.append(data)


class _Reader:
    """One document's parse state: the frame stack, blank-node allocation,
    the rdf:ID registry, and the triple and error accumulators."""

    def __init__(self, doc_key: str, base_uri: str):
        self.doc_key = doc_key
        self.base = strip_fragment(base_uri or "")
        self.triples: list[tuple] = []
        self.errors: list[str] = []
        self._bnode_cache: dict[str, str] = {}
        self._counter = 0
        self._id_registry: dict[str, str] = {}
        self._frames: list = []
        self._mode = 0              # 0, _SKIP, _LITERAL or _RECORD
        self._depth = 0             # elements open inside the top frame's
        self._sink = None           # the mode's LiteralWriter / _Recorder
        self._stream = True         # events come straight from expat
        self._root_node = False     # the replayed root is a node element
        self._island_ctx = (self.base, None)
        self._marks = 0             # open resourcePropertyElt marks
        self._undo: list = []

    # -- events (reader.rb:185-230) ---------------------------------------------
    def start(self, name, attrs, known=None):
        t = split_name(name)
        if t[3] == _RDF_RDF and self._stream and self._frames:
            raise _Restart          # a nested island (reader.rb:207)
        if self._mode:
            self._depth += 1
            if self._sink is not None:
                self._sink.start(name, attrs)
            return
        frames = self._frames
        if not frames:
            self._root(t, attrs)
            return
        top = frames[-1]
        cls = top.__class__
        if cls is _Node:
            self._property(t, attrs, known, top)
        elif cls is _Prop:
            self._prop_child(t, attrs, top)
        else:
            # Top-level node elements take their own xml:base / xml:lang.
            self._node(t, attrs, top.base, top.lang, cls is _Island)

    def end(self, name=None):
        if self._mode:
            if self._depth:
                self._depth -= 1
                if self._sink is not None:
                    self._sink.end()
                return
            self._mode = 0
            self._sink = None
        frames = self._frames
        frame = frames[-1]
        cls = frame.__class__
        if cls is _Prop:
            frames.pop()
            self._prop_end(frame)
            return
        if cls is _Collection and frame.rec is not None:
            rec, frame.rec = frame.rec, None
            self._cells(frame, rec.top)
            self._replay(rec.events)
        frames.pop()
        if cls is _Node and frames:
            parent = frames[-1]
            if parent.__class__ is _Prop:
                parent.obj = frame.subject
            elif parent.__class__ is _Collection:
                self._member(parent, frame.subject)

    def text(self, data):
        if self._mode:
            if self._sink is not None:
                self._sink.text(data)
            return
        top = self._frames[-1]
        if top.__class__ is _Prop and not top.n:
            top.text += data

    def _replay(self, events, i: int = 0) -> None:
        """Replay buffered events from ``events[i]``, up to the end tag
        that closes the last open frame."""
        start, end, text, frames = self.start, self.end, self.text, \
            self._frames
        for ev in islice(events, i, None):
            if ev is None:
                end()
                if not frames:
                    return
            elif ev.__class__ is str:
                text(ev)
            else:
                start(ev[0], ev[1], ev[2])

    def replay_document(self, content) -> None:
        """Read the whole document, then run the productions in the
        reference's order (reader.rb:195-207): every rdf:RDF element in
        document order, nested ones included, or else the root as a node
        element."""
        self._stream = False
        rec = _Recorder()
        islands = []

        def start(name, attrs):
            if split_name(name)[3] == _RDF_RDF:
                base, lang = self.base, None
                for ev in rec.open:
                    base, lang = _xml_context(base, lang, ev[1])
                islands.append((len(rec.events), base, lang))
            rec.start(name, attrs)

        expat_parse(content, start, rec.end, rec.text)
        if not islands:
            self._root_node = True
            self._replay(rec.events)
        for i, base, lang in islands:
            self._island_ctx = (base, lang)
            self._replay(rec.events, i)

    def _root(self, t, attrs) -> None:
        if self._root_node:
            # Root processed as a node element (reader.rb:196-204).
            self._node(t, attrs, self.base, None, True)
        elif t[3] != _RDF_RDF:
            raise _Restart
        else:
            self._frames.append(_Island(*_xml_context(*self._island_ctx,
                                                      attrs)))

    # -- productions -------------------------------------------------------------
    def _node(self, t, attrs, base: str, lang, own_context=False) -> None:
        """nodeElement (reader.rb:300-328) up to its property elements;
        ``own_context``: its xml:base / xml:lang apply to it."""
        error = self.errors.append
        pairs = []
        about = id_ = node_id = resource = xml_base = None
        for i in range(0, len(attrs), 2):
            a = split_name(attrs[i])
            value = attrs[i + 1]
            pairs.append((a, value))
            if a[3] in OLD_TERMS:  # reader.rb:672-678
                error(f"Obsolete attribute '{a[0]}{a[1]}'")
            if a[0] == RDF_NS:
                if a[1] == "about":
                    about = value
                elif a[1] == "ID":
                    id_ = value
                elif a[1] == "nodeID":
                    node_id = value
                elif a[1] == "resource":
                    resource = value
            elif a[0] == XML_NS and own_context:
                if a[1] == "lang":
                    lang = value
                elif a[1] == "base":
                    xml_base = value
        if xml_base is not None:
            base = resolve_base(base, xml_base)
        uri = t[3]
        # Subject (reader.rb:583-619).
        if uri in _ILLEGAL_NODE_NAMES:
            error(f"Invalid use of rdf:{t[1]} as node element")
        if node_id is not None and about is not None:
            error("Cannot have rdf:nodeID and rdf:about.")
        elif node_id is not None and id_ is not None:
            error("Cannot have rdf:nodeID and rdf:ID.")
        if id_ is not None:
            subject = self._id_check(ntriples_unescape(id_), base)
        elif node_id is not None:
            checked = self._node_id_check(ntriples_unescape(node_id))
            subject = ("bnode", self._bnode(checked))
        elif about is not None:
            subject = ("iri", resolve(base, ntriples_unescape(about)))
        elif resource is not None:
            # Non-standard extension (reader.rb:14).
            subject = ("iri", resolve(base, ntriples_unescape(resource)))
        else:
            subject = ("bnode", self._fresh())

        add = self.triples.append
        if uri != RDF_DESCRIPTION:
            add((subject, RDF_TYPE, ("iri", uri)))
        # Property attributes (reader.rb:313-328).
        for a, value in pairs:
            a_uri = a[3]
            if a_uri == RDF_TYPE:
                add((subject, RDF_TYPE, ("iri", resolve(base, value))))
            elif self._is_property_attr(a[0], a_uri, a[1]):
                add((subject, a_uri, _literal(value, lang)))
        self._frames.append(_Node(subject, base, lang))

    def _property(self, t, attrs, known, node: _Node) -> None:
        """propertyElt (reader.rb:331-404) up to the production; the
        productions its start tag decides run here."""
        error = self.errors.append
        # Attribute classification (reader.rb:372-404); xml:* give the
        # property element's own context.
        base, lang = node.base, node.lang
        prop_attrs = ()             # ((uri, local, value, ns), ...)
        id_ = datatype = parse_type = resource = node_id = None
        for i in range(0, len(attrs), 2):
            a_ns, a_local, _p, a_uri = split_name(attrs[i])
            value = attrs[i + 1]
            if a_ns is None:
                continue            # unqualified: ignored (reader.rb:376-382)
            if a_ns == XML_NS:
                if a_local == "lang":
                    lang = value
                elif a_local == "base":
                    base = resolve_base(base, value)
            elif a_ns == RDF_NS and a_local in (
                    "ID", "datatype", "parseType", "resource", "nodeID"):
                if a_local == "ID":
                    id_ = value
                elif a_local == "datatype":
                    datatype = value
                elif a_local == "parseType":
                    parse_type = value
                elif a_local == "resource":
                    resource = value
                else:
                    node_id = value
            else:
                prop_attrs += ((a_uri, a_local, value, a_ns),)

        predicate = t[3]
        if predicate in _ILLEGAL_PROP_NAMES:
            error(f"Invalid use of rdf:{t[1]} as property element")
        if predicate == RDF_LI:
            # li expansion (reader.rb:362): the counter lives on the node
            # element's context.
            node.li += 1
            predicate = f"{RDF_NS}_{node.li}"
        if node_id and resource:
            error("Cannot have rdf:nodeID and rdf:resource.")
        if id_ is not None:
            id_ = self._id_check(ntriples_unescape(id_), None)
        if resource is not None:
            resource = ntriples_unescape(resource)
        if node_id is not None:
            node_id = self._node_id_check(ntriples_unescape(node_id))

        subject = node.subject
        if parse_type is None:
            prop = _Prop(node, predicate, id_, datatype, resource, node_id,
                         prop_attrs, base, lang, known is not None)
            self._frames.append(prop)
            if known is not None and (
                    known > 1 or known and (prop_attrs or datatype is not None)):
                prop.dead = True    # no production: skip the content
                self._mode = _SKIP
        elif parse_type == "Resource":
            # parseTypeResourcePropertyElt (reader.rb:437-468)
            if prop_attrs:
                error("Resource Property with extra attributes")
            n = ("bnode", self._fresh())
            self.triples.append((subject, predicate, n))
            if id_:
                self._reify(id_, subject, predicate, n, base)
            self._frames.append(_Node(n, base, lang))
        elif parse_type == "Collection":
            # parseTypeCollectionPropertyElt (reader.rb:469-496)
            if prop_attrs:
                error("Resource Property with extra attributes")
            coll = _Collection(subject, predicate, id_, base, lang)
            self._frames.append(coll)
            if known is None:
                coll.rec = self._sink = _Recorder()
                self._mode = _RECORD
            else:
                self._cells(coll, known)
        else:
            # parseTypeLiteralPropertyElt / Other (reader.rb:497-523): the
            # literal takes the parent context's language (reader.rb:512).
            if prop_attrs:
                error("Resource Property with extra attributes")
            if resource:
                error("illegal rdf:resource")
            prop = _Prop(node, predicate, id_, datatype, resource, node_id,
                         prop_attrs, base, lang, known is not None)
            prop.lit = self._sink = LiteralWriter(node.lang)
            self._frames.append(prop)
            self._mode = _LITERAL

    def _prop_child(self, t, attrs, prop: _Prop) -> None:
        """An element child of a property element whose production is
        still open: the object of a resourcePropertyElt (reader.rb:413-423),
        parsed in the property element's context, or the end of every
        production."""
        prop.n += 1
        if prop.n == 1 and not prop.attrs and prop.datatype is None:
            if not prop.known:
                prop.mark = self._mark()
            self._node(t, attrs, prop.base, prop.lang)
            return
        if prop.mark is not None:
            self._rollback(prop.mark)
            prop.mark = None
        prop.dead = True
        self._mode = _SKIP
        self._depth = 1

    def _prop_end(self, prop: _Prop) -> None:
        if prop.dead:
            return
        add = self.triples.append
        node = prop.node
        subject, predicate, id_ = node.subject, prop.predicate, prop.id_
        if prop.lit is not None:
            add((subject, predicate,
                 ("literal", prop.lit.value(), None, RDF_XMLLITERAL)))
            return
        if prop.n:
            # resourcePropertyElt (reader.rb:413-423)
            if prop.mark is not None:
                self._commit()
            add((subject, predicate, prop.obj))
            return
        text = prop.text
        if text.strip():
            if prop.attrs:
                return              # text + property attributes: no production
            # literalPropertyElt (reader.rb:424-436)
            # quirk: datatype NOT base-resolved (reader.rb:430)
            literal = ("literal", text, None, prop.datatype) \
                if prop.datatype is not None else _literal(text, prop.lang)
            add((subject, predicate, literal))
            if id_:
                self._reify(id_, subject, predicate, literal, node.base)
            return
        # emptyPropertyElt (reader.rb:524-564)
        if not prop.attrs and prop.resource is None and prop.node_id is None:
            # quirk: language from *parent* ec (reader.rb:530)
            obj = _literal("", node.lang)
        else:
            if prop.resource is not None:
                obj = ("iri", resolve(node.base, prop.resource))
            elif prop.node_id:
                obj = ("bnode", self._bnode(prop.node_id))
            else:
                obj = ("bnode", self._fresh())
            for uri, local, value, a_ns in prop.attrs:
                if uri == RDF_TYPE:
                    # quirk: raw string → plain literal (reader.rb:549)
                    add((obj, RDF_TYPE, ("literal", value, None, None)))
                elif self._is_property_attr(a_ns, uri, local):
                    add((obj, uri, _literal(value, prop.lang)))
        add((subject, predicate, obj))
        if id_:
            self._reify(id_, subject, predicate, obj, prop.base)

    def _cells(self, coll: _Collection, k: int) -> None:
        """Allocate a collection's k list cells before its members."""
        coll.cells = cells = [("bnode", self._fresh()) for _ in range(k)]
        head = cells[0] if cells else _NIL
        self.triples.append((coll.subject, coll.predicate, head))
        if coll.id_:
            self._reify(coll.id_, coll.subject, coll.predicate, head,
                        coll.base)

    def _member(self, coll: _Collection, obj) -> None:
        cells, i = coll.cells, coll.i
        add = self.triples.append
        add((cells[i], RDF_FIRST, obj))
        add((cells[i], RDF_REST, cells[i + 1] if i + 1 < len(cells) else _NIL))
        coll.i = i + 1

    # -- marks: speculative resourcePropertyElt objects ---------------------------
    def _mark(self):
        self._marks += 1
        return (len(self.triples), len(self.errors), self._counter,
                len(self._undo))

    def _commit(self) -> None:
        self._marks -= 1
        if not self._marks:
            self._undo.clear()

    def _rollback(self, mark) -> None:
        n_triples, n_errors, self._counter, n_undo = mark
        del self.triples[n_triples:]
        del self.errors[n_errors:]
        undo = self._undo
        while len(undo) > n_undo:
            table, key, old = undo.pop()
            if old is _MISSING:
                del table[key]
            else:
                table[key] = old
        self._commit()

    # -- helpers ---------------------------------------------------------------
    def _fresh(self) -> str:
        bid = f"b:{self.doc_key}:{self._counter}"
        self._counter += 1
        return bid

    def _bnode(self, label: str | None) -> str:
        # reader.rb:252-255 — per-document labeled cache; nil label caches
        # under "" (shared).
        key = label or ""
        cached = self._bnode_cache.get(key)
        if cached is None:
            cached = self._fresh()
            if self._marks:
                self._undo.append((self._bnode_cache, key, _MISSING))
            self._bnode_cache[key] = cached
        return cached

    def _reify(self, id_: str, subject, predicate: str, obj, base) -> None:
        # reader.rb:573-580
        rsubject = ("iri", iri_mod.rfc3986_join(base, "#" + id_))
        add = self.triples.append
        add((rsubject, RDF_SUBJECT, subject))
        add((rsubject, RDF_PREDICATE, ("iri", predicate)))
        add((rsubject, RDF_OBJECT, obj))
        add((rsubject, RDF_TYPE, ("iri", RDF_STATEMENT)))

    def _id_check(self, id_: str, base: str | None):
        # reader.rb:622-635
        if not is_ncname(id_):
            self.errors.append(f"ID attribute '{id_}' must be a NCName")
        if base is None:
            return id_
        uri = iri_mod.rfc3986_join(base, "#" + id_)
        registry = self._id_registry
        old = registry.get(id_, _MISSING)
        if old == uri:
            self.errors.append(f"ID attribute '{id_}' may only be defined "
                               "once for the same URI")
        if self._marks:
            self._undo.append((registry, id_, old))
        registry[id_] = uri
        return ("iri", uri)

    def _node_id_check(self, node_id: str):
        # reader.rb:639-646 — invalid → error + nil
        if is_ncname(node_id):
            return node_id
        self.errors.append(f"nodeID attribute '{node_id}' must be an XML Name")
        return None

    def _is_property_attr(self, a_ns, uri: str, local: str) -> bool:
        # reader.rb:649-655
        if uri in _ILLEGAL_PROP_ATTRS:
            self.errors.append(f"Invalid use of rdf:{local}")
            return False
        return uri not in CORE_SYNTAX_TERMS and a_ns is not None \
            and a_ns != XML_NS


def parse_rdfxml(content, base_uri: str = "", doc_key: str = "doc",
                 strict: bool = True, canonicalize: bool = False):
    """Parse one RDF/XML document.

    Returns ``(triples, errors)`` where triples is a list of
    ``(subject_term, predicate_iri, object_term)`` tuples. Under ``strict``
    (the reference's ``validate:`` mode, reader.rb:225-227) a document with
    any error yields **no** triples — W3C negative-syntax semantics.
    Malformed XML yields only its ``XML parse error`` message.

    ``canonicalize``: off-by-default literal canonicalization (reference
    reader option, reader.rb:128-129) — valid lexical forms of the core
    XSD numeric/boolean datatypes are rewritten to canonical form.
    """
    reader = _Reader(doc_key, base_uri)
    try:
        try:
            expat_parse(content, reader.start, reader.end, reader.text)
        except XMLParseError:
            raise
        except Exception:
            # A root other than rdf:RDF, a nested rdf:RDF, or a production
            # that raised before expat saw the whole document.
            reader = _Reader(doc_key, base_uri)
            reader.replay_document(content)
    except XMLParseError as e:
        return [], [f"XML parse error: {e}"]
    except Exception as e:  # defensive: per-document failure isolation
        reader.errors.append(
            f"internal parse failure: {type(e).__name__}: {e}")
        return [], reader.errors
    if strict and reader.errors:
        return [], reader.errors
    triples = reader.triples
    if canonicalize:
        from ..functions.xsd import canonicalize_literal
        triples = [
            (s, p, ("literal", canonicalize_literal(o[1], o[3]), o[2], o[3])
             if o[0] == "literal" and o[3] else o)
            for s, p, o in triples]
    return triples, reader.errors
