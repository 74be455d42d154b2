"""expat configuration, charset handling and a minimal namespace-aware DOM.

The grammar (:mod:`rdf_rdfxml_spark.parser.grammar`) runs its productions
in expat's callbacks through :func:`expat_parse`; nothing on the parse path
builds a tree. :func:`parse_document` builds the mini-DOM that fills the
role of the reference's NodeProxy adapters
(``/root/reference/lib/rdf/rdfxml/reader/nokogiri.rb`` /
``reader/rexml.rb``); it is kept for the benchmark's traced ladder and the
tests, which read a document's XML structure on its own. An
:class:`Element` exposes

* ``ns`` / ``local`` / ``prefix`` / ``uri`` — the expanded element name,
* ``ns_decls`` — the namespace declarations made **on this element**
  (NodeProxy#namespaces, nokogiri.rb:104-106),
* ``attrs`` — document-order attributes as ``(ns, local, prefix, value)``
  (xmlns declarations are *not* attributes, matching nokogiri),
* ``children`` — element + text children in document order (comments and
  processing instructions are dropped; CDATA merges into text, matching
  NodeProxy#text? at nokogiri.rb:88-90),
* ``parent``.

expat is C-backed (same libexpat family nokogiri leans on via libxml2) and
ships with CPython — no extra dependency inside Arrow UDF workers. Internal
DTD entities are expanded by expat natively (the reference enables
``config.noent``, nokogiri.rb:243-245).
"""

from __future__ import annotations

import re

from xml.parsers import expat

XML_NS = "http://www.w3.org/XML/1998/namespace"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

_SEP = "\x01"
#: pyexpat stops the parse with this code when a handler raises.
_ABORTED = expat.errors.codes[expat.errors.XML_ERROR_ABORTED]


class XMLParseError(Exception):
    """Malformed XML — the document goes to the error channel."""


class Text:
    __slots__ = ("value",)

    def __init__(self, value: str):
        self.value = value

    is_element = False
    is_text = True


class Element:
    __slots__ = (
        "ns", "local", "prefix", "attrs", "ns_decls", "children", "parent",
        "uri",
    )

    is_element = True
    is_text = False

    def __init__(self, ns, local, prefix, parent):
        self.ns = ns                # namespace URI or None
        self.local = local
        self.prefix = prefix        # declared prefix or None
        self.attrs = []             # [(ns, local, prefix, value)] doc order
        self.ns_decls = ()          # [(prefix|None, uri)] declared here
        self.children = []          # [Element|Text]
        self.parent = parent
        # Expanded name as the reference computes it (NodeProxy#uri,
        # nokogiri.rb:169-173).
        self.uri = (ns if ns is not None else XML_NS) + local


#: expat triplet name → (ns, local, prefix, expanded name). Names repeat
#: massively within and across documents, so each distinct name is split
#: once per worker. Bounded: cleared past 64k entries so a hostile corpus
#: of unbounded distinct names can't grow worker memory.
_NAMES: dict = {}


def split_name(name: str):
    """expat triplet name 'uri\\x01local\\x01prefix' | 'uri\\x01local' |
    'local' → ``(ns, local, prefix, uri)``. ``uri`` is the expanded name
    as the reference computes it: namespace + local name, the XML
    namespace when unqualified (NodeProxy#uri, nokogiri.rb:169-173)."""
    t = _NAMES.get(name)
    if t is None:
        parts = name.split(_SEP)
        if len(parts) == 1:
            t = None, name, None, XML_NS + name
        else:
            t = (parts[0], parts[1], parts[2] if len(parts) == 3 else None,
                 parts[0] + parts[1])
        if len(_NAMES) > 65536:
            _NAMES.clear()
        _NAMES[name] = t
    return t


_DECL_ENC_B = re.compile(rb'^<\?xml[^>]*?encoding=["\']([A-Za-z0-9._\-]+)["\']')
_DECL_ENC_S = re.compile(r'^(<\?xml[^>]*?)encoding=["\']([A-Za-z0-9._\-]+)["\']')


def _normalize_charset(content):
    """Charset handling (G16; reference: reader/nokogiri.rb:236-241 honours
    the document's declared encoding).

    * **bytes**: passed through — expat honours the BOM and the XML decl
      natively (UTF-8/UTF-16/ISO-8859-1/ASCII built in; other *single-byte*
      charsets via pyexpat's Python-codec unknown-encoding handler). The
      caller retries through here only when expat reports an encoding it
      cannot handle (multi-byte codecs like shift_jis): the bytes are
      decoded with Python's codec for the declared encoding and re-parsed
      as text.
    * **str**: already decoded — but a stale ``encoding="..."`` decl would
      make expat re-interpret our UTF-8 re-encoding as that charset
      (mojibake), so the decl's encoding is rewritten to UTF-8.
    """
    if isinstance(content, bytes):
        return content
    # str: neutralize any non-UTF-8 decl (the text is already decoded)
    return _DECL_ENC_S.sub(r'\1encoding="UTF-8"', content, count=1)


def _decode_declared(data: bytes) -> str:
    m = _DECL_ENC_B.match(data.lstrip())
    if not m:
        raise XMLParseError("undeclared unsupported encoding")
    enc = m.group(1).decode("ascii")
    try:
        return data.decode(enc)
    except (LookupError, UnicodeDecodeError) as e:
        raise XMLParseError(f"cannot decode declared encoding {enc}: {e}")


def expat_parse(content, start=None, end=None, text=None,
                ns_start=None) -> None:
    """Run expat over one document string/bytes, calling the handlers
    given: ``start(name, attrs)`` with a triplet name (:func:`split_name`)
    and a flat ``[name, value, ...]`` attribute list, ``end(name)``,
    ``text(data)`` with adjacent character data merged, and
    ``ns_start(prefix, uri)``.

    Malformed XML raises :class:`XMLParseError`; an exception raised in a
    handler propagates unchanged. expat is the one adapter: the
    reference's optional rexml fallback (reader.rb:143-157) has no
    counterpart, as CPython ships pyexpat.
    """
    parser = expat.ParserCreate(namespace_separator=_SEP)
    parser.namespace_prefixes = True
    parser.ordered_attributes = True
    parser.buffer_text = True
    if start is not None:
        parser.StartElementHandler = start
    if end is not None:
        parser.EndElementHandler = end
    if text is not None:
        parser.CharacterDataHandler = text
    if ns_start is not None:
        parser.StartNamespaceDeclHandler = ns_start
    normalized = _normalize_charset(content)
    data = (normalized.encode("utf-8") if isinstance(normalized, str)
            else normalized)
    try:
        parser.Parse(data, True)
    except (expat.ExpatError, ValueError, LookupError) as e:
        if parser.ErrorCode == _ABORTED:
            raise                   # raised by a handler
        if "encoding" not in str(e):
            raise XMLParseError(str(e)) from e
        # An encoding expat can't stream (ValueError "multi-byte encodings
        # are not supported" for e.g. shift_jis, LookupError from the
        # codec registry for unknown charset names) or that contradicts
        # the bytes: decode with Python's codec for the declared encoding,
        # retry as text (decl gets rewritten to UTF-8). expat settles the
        # encoding before the root element, so no handler has run yet.
        expat_parse(_decode_declared(data), start, end, text, ns_start)


def parse_document(content) -> Element:
    """Parse an XML document string/bytes into the mini-DOM; raise
    :class:`XMLParseError` on malformed input. The grammar does not use
    this tree; the benchmark's traced ladder and the tests do."""
    root_holder: list = []
    stack: list[Element] = []
    pending_ns: list = []

    def start_ns(prefix, uri):
        pending_ns.append((prefix, uri or ""))

    def start_element(name, attr_list):
        ns, local, prefix, _uri = split_name(name)
        parent = stack[-1] if stack else None
        el = Element(ns, local, prefix, parent)
        if pending_ns:
            el.ns_decls = list(pending_ns)
            pending_ns.clear()
        for i in range(0, len(attr_list), 2):
            el.attrs.append(split_name(attr_list[i])[:3] + (attr_list[i + 1],))
        if parent is not None:
            parent.children.append(el)
        else:
            root_holder.append(el)
        stack.append(el)

    def end_element(name):
        stack.pop()

    def characters(data):
        children = stack[-1].children
        if children and children[-1].is_text:
            children[-1].value += data
        else:
            children.append(Text(data))

    expat_parse(content, start_element, end_element, characters, start_ns)
    if not root_holder:
        raise XMLParseError("no root element")
    return root_holder[0]
