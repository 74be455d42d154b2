"""Exclusive XML canonicalization for ``rdf:parseType="Literal"`` content.

Mirrors the reference's ``c14nxl`` call (reader.rb:510-518, provided there by
the rdf-xsd gem over Nokogiri's Exclusive C14N 1.0): element children are
serialized in exclusive-canonical form — namespace declarations only where a
prefix is visibly utilized and not already output, attributes sorted per the
C14N rules, no self-closing tags, comments dropped — and the in-scope
``xml:lang`` (the parent context's language, a reference quirk) is injected
onto top-level elements that don't override it. Text nodes pass through with
canonical character escaping.

:class:`LiteralWriter` renders from parse events as they arrive, keeping
one stack entry per open element, so no tree is built and nothing recurses
with the literal's depth.
"""

from __future__ import annotations

from .xmldom import XML_NS, split_name

_TEXT_ESCAPES = [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ("\r", "&#xD;")]
_ATTR_ESCAPES = [("&", "&amp;"), ("<", "&lt;"), ('"', "&quot;"),
                 ("\t", "&#x9;"), ("\n", "&#xA;"), ("\r", "&#xD;")]


def _escape_text(value: str) -> str:
    for src, dst in _TEXT_ESCAPES:
        value = value.replace(src, dst)
    return value


def _escape_attr(value: str) -> str:
    for src, dst in _ATTR_ESCAPES:
        value = value.replace(src, dst)
    return value


class LiteralWriter:
    """The exclusive-canonical string of one node list (the content of a
    parseType="Literal" property element), fed start/end/text events."""

    __slots__ = ("parts", "open", "lang_attr")

    def __init__(self, language: str | None = None):
        self.parts: list[str] = []
        # [(qualified name, prefix -> uri already emitted in the output
        # ancestor chain)]; the '' key is the default namespace.
        self.open: list[tuple] = []
        self.lang_attr = (XML_NS, "lang", "xml", language) \
            if language else None

    def start(self, name, attr_list) -> None:
        """Open one element: an expat triplet name and flat attribute list
        (:func:`~rdf_rdfxml_spark.functions.xmldom.expat_parse`)."""
        ns, local, prefix, _uri = split_name(name)
        attrs = [split_name(attr_list[i])[:3] + (attr_list[i + 1],)
                 for i in range(0, len(attr_list), 2)]
        if self.open:
            rendered_ns = self.open[-1][1]
        else:
            rendered_ns = {}
            # The inherited xml:lang goes on top-level elements that carry
            # none of their own.
            extra = self.lang_attr
            if extra is not None and not any(
                    a[0] == XML_NS and a[1] == "lang" for a in attrs):
                attrs.append(extra)
        # Visibly utilized namespaces: the element's own prefix + attr prefixes.
        ns_out: dict[str, str] = {}
        if prefix is not None:
            if rendered_ns.get(prefix) != (ns or ""):
                ns_out[prefix] = ns or ""
        else:
            default = ns or ""
            if rendered_ns.get("", "") != default:
                ns_out[""] = default
        for a_ns, _local, a_prefix, _value in attrs:
            if a_prefix is not None and a_prefix != "xml":
                if rendered_ns.get(a_prefix) != (a_ns or ""):
                    ns_out[a_prefix] = a_ns or ""

        qname = f"{prefix}:{local}" if prefix else local
        parts = self.parts
        parts.append("<" + qname)
        for p in sorted(ns_out):
            uri = _escape_attr(ns_out[p])
            parts.append(f' xmlns="{uri}"' if p == ""
                         else f' xmlns:{p}="{uri}"')
        # C14N attribute order: (namespace URI, local name); unqualified first.
        for a_ns, a_local, a_prefix, value in sorted(
                attrs, key=lambda a: (a[0] or "", a[1])):
            attr_name = f"{a_prefix}:{a_local}" if a_prefix else a_local
            parts.append(f' {attr_name}="{_escape_attr(value)}"')
        parts.append(">")
        self.open.append((qname, {**rendered_ns, **ns_out} if ns_out
                          else rendered_ns))

    def end(self) -> None:
        self.parts.append(f"</{self.open.pop()[0]}>")

    def text(self, data: str) -> None:
        self.parts.append(_escape_text(data))

    def value(self) -> str:
        return "".join(self.parts)
