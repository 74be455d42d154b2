"""Minimal namespace-aware XML DOM built on stdlib ``xml.parsers.expat``.

Fills the role of the reference's NodeProxy adapters
(``/root/reference/lib/rdf/rdfxml/reader/nokogiri.rb`` /
``reader/rexml.rb``): a uniform per-element view exposing

* ``ns`` / ``local`` / ``prefix`` — the expanded element name,
* ``ns_decls`` — the namespace declarations made **on this element**
  (NodeProxy#namespaces, nokogiri.rb:104-106),
* ``attrs`` — document-order attributes as ``(ns, local, prefix, value)``
  (xmlns declarations are *not* attributes, matching nokogiri),
* ``children`` — element + text children in document order (comments and
  processing instructions are dropped; CDATA merges into text, matching
  NodeProxy#text? at nokogiri.rb:88-90),
* parent links (for ancestor context extraction, reader.rb:58-66).

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


class XMLParseError(Exception):
    """Malformed XML — the document goes to the error channel."""


class Text:
    __slots__ = ("value",)

    def __init__(self, value: str):
        self.value = value

    is_element = False
    is_text = True


#: (ns, local) → expanded name memo. Element names repeat massively
#: within and across documents, so the concat happens once per distinct
#: name per worker instead of once per property access (round 8: the
#: grammar reads ``el.uri`` several times per element). Bounded: cleared
#: past 64k entries so a hostile corpus of unbounded distinct names
#: can't grow worker memory.
_URI_MEMO: dict = {}


def _expanded_name(ns, local) -> str:
    key = (ns, local)
    u = _URI_MEMO.get(key)
    if u is None:
        if len(_URI_MEMO) > 65536:
            _URI_MEMO.clear()
        u = _URI_MEMO[key] = (ns if ns is not None else XML_NS) + local
    return u


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
        self.ns_decls = ()          # [(prefix|None, uri)] declared here —
        #                             shared empty default (read-only when
        #                             empty; producers assign a fresh list)
        self.children = []          # [Element|Text]
        self.parent = parent
        # Expanded name as the reference computes it: namespace href +
        # local name, defaulting to the XML namespace when unqualified
        # (NodeProxy#uri, nokogiri.rb:169-173). Precomputed once — the
        # value is a pure function of (ns, local), which never change
        # after construction.
        self.uri = _expanded_name(ns, local)

    # -- structure -------------------------------------------------------------
    def element_children(self):
        return [c for c in self.children if c.is_element]

    def inner_text(self) -> str:
        """Concatenated text of all text descendants (Nokogiri inner_text)."""
        ch = self.children
        if len(ch) == 1 and ch[0].is_text:  # the common literal shape
            return ch[0].value
        out = []
        stack = list(reversed(ch))
        while stack:
            node = stack.pop()
            if node.is_text:
                out.append(node.value)
            else:
                stack.extend(reversed(node.children))
        return "".join(out)

    def ancestors(self):
        """Ancestor elements root-first (NodeProxy#ancestors)."""
        chain = []
        p = self.parent
        while p is not None:
            chain.append(p)
            p = p.parent
        chain.reverse()
        return chain

    def iter_elements(self):
        """self + all element descendants, document order."""
        yield self
        for c in self.children:
            if c.is_element:
                yield from c.iter_elements()

    # -- attribute helpers -----------------------------------------------------
    def attr(self, ns, local):
        for a_ns, a_local, _prefix, value in self.attrs:
            if a_ns == ns and a_local == local:
                return value
        return None


#: expat triplet-name → (ns, local, prefix) memo; same boundedness
#: rationale as ``_URI_MEMO`` (names repeat, splits are pure).
_SPLIT_MEMO: dict = {}


def _split_name(name: str):
    """expat triplet name 'uri\\x01local\\x01prefix' | 'uri\\x01local' | 'local'."""
    t = _SPLIT_MEMO.get(name)
    if t is None:
        parts = name.split(_SEP)
        if len(parts) == 3:
            t = parts[0], parts[1], parts[2]
        elif len(parts) == 2:
            t = parts[0], parts[1], None
        else:
            t = None, parts[0], None
        if len(_SPLIT_MEMO) > 65536:
            _SPLIT_MEMO.clear()
        _SPLIT_MEMO[name] = t
    return t


_DECL_ENC_B = re.compile(rb'^<\?xml[^>]*?encoding=["\']([A-Za-z0-9._\-]+)["\']')
_DECL_ENC_S = re.compile(r'^(<\?xml[^>]*?)encoding=["\']([A-Za-z0-9._\-]+)["\']')


def _normalize_charset(content):
    """Charset handling (G16; reference: reader/nokogiri.rb:236-241 honours
    the document's declared encoding).

    * **bytes**: passed through — expat honours the BOM and the XML decl
      natively (UTF-8/UTF-16/ISO-8859-1/ASCII built in; other *single-byte*
      charsets via pyexpat's Python-codec unknown-encoding handler). The
      caller retries through here with ``force_decode=True`` only when
      expat reports an encoding it cannot handle (multi-byte codecs like
      shift_jis): the bytes are decoded with Python's codec for the
      declared encoding and re-parsed as text.
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


def parse_document(content) -> Element:
    """Parse an XML document string/bytes into the mini-DOM; raise
    :class:`XMLParseError` on malformed input.

    expat is the one adapter: the reference's optional rexml fallback
    (reader.rb:143-157) has no counterpart, as CPython ships pyexpat.
    """
    parser = expat.ParserCreate(namespace_separator=_SEP)
    parser.namespace_prefixes = True
    parser.ordered_attributes = True
    parser.buffer_text = True

    root_holder: list = []
    stack: list[Element] = []
    pending_ns: list = []

    def start_ns(prefix, uri):
        pending_ns.append((prefix, uri or ""))

    def start_element(name, attr_list):
        ns, local, prefix = _split_name(name)
        parent = stack[-1] if stack else None
        el = Element(ns, local, prefix, parent)
        if pending_ns:
            el.ns_decls = list(pending_ns)
            pending_ns.clear()
        for i in range(0, len(attr_list), 2):
            a_ns, a_local, a_prefix = _split_name(attr_list[i])
            el.attrs.append((a_ns, a_local, a_prefix, attr_list[i + 1]))
        if parent is not None:
            parent.children.append(el)
        else:
            root_holder.append(el)
        stack.append(el)

    def end_element(name):
        stack.pop()

    def characters(data):
        if not stack:
            return
        children = stack[-1].children
        if children and children[-1].is_text:
            children[-1].value += data
        else:
            children.append(Text(data))

    parser.StartNamespaceDeclHandler = start_ns
    parser.StartElementHandler = start_element
    parser.EndElementHandler = end_element
    parser.CharacterDataHandler = characters

    normalized = _normalize_charset(content)
    data = (normalized.encode("utf-8") if isinstance(normalized, str)
            else normalized)
    try:
        parser.Parse(data, True)
    except (expat.ExpatError, ValueError, LookupError) as e:
        # malformed XML, or a codec pyexpat can't stream (ValueError
        # "multi-byte encodings are not supported" for e.g. shift_jis,
        # LookupError from the codec registry for unknown charset names)
        if isinstance(data, bytes) and not root_holder and \
                ("encoding" in str(e) or "encodings" in str(e)):
            # multi-byte charset expat can't stream (e.g. shift_jis):
            # decode with Python's codec for the declared encoding, retry
            # as text (decl gets rewritten to UTF-8)
            return parse_document(_decode_declared(data))
        raise XMLParseError(str(e)) from e
    if not root_holder:
        raise XMLParseError("no root element")
    return root_holder[0]


def find_rdf_islands(root: Element):
    """All ``rdf:RDF`` elements in document order — the reference's
    ``root.xpath("//rdf:RDF")`` (reader.rb:195), which includes the root
    itself and does **not** skip nested islands (the XXX at reader.rb:207)."""
    return [el for el in root.iter_elements()
            if el.ns == RDF_NS and el.local == "RDF"]
