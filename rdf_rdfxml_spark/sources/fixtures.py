"""Deterministic fixture corpus + goldens (FIXTURES.md).

One category per grammar production of SURVEY.md §2.2; every instance is a
pure function of the row index, so the corpus is reproducible at any scale
(seeded, self-contained, no external data). Golden triples are hand-derived
from the W3C grammar / reference unit specs; blank nodes are labeled
``b0, b1, …`` and compared isomorphism-aware.

The same generator produces the bench corpus: ``corpus(n_docs)`` replicates
the positive categories with IRI rewriting (FIXTURES.md §5).
"""

from __future__ import annotations

import hashlib

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
EX = "http://example.org/stuff/1.0/"
XSD = "http://www.w3.org/2001/XMLSchema#"

_HEAD = f'<?xml version="1.0"?>\n<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="{EX}"'


def _iri(v):
    return ("iri", v)


def _b(n):
    return ("bnode", f"b{n}")


def _lit(v, lang=None, dt=None):
    return ("literal", v, lang, dt)


# --- positive categories ------------------------------------------------------
# each: index -> (content, golden_triples, base_uri)

def basic_description(i):
    item = f"http://example.org/item/{i}"
    home = f"http://example.org/home/{i}"
    content = f"""{_HEAD}>
  <rdf:Description rdf:about="{item}" ex:title="Item {i}">
    <ex:editor>
      <rdf:Description ex:fullName="Editor {i}">
        <ex:homePage rdf:resource="{home}"/>
      </rdf:Description>
    </ex:editor>
  </rdf:Description>
</rdf:RDF>"""
    golden = [
        (_iri(item), EX + "title", _lit(f"Item {i}")),
        (_iri(item), EX + "editor", _b(0)),
        (_b(0), EX + "fullName", _lit(f"Editor {i}")),
        (_b(0), EX + "homePage", _iri(home)),
    ]
    return content, golden, f"http://example.org/base/{i}"


def typed_node(i):
    joe = f"http://example.org/person/{i}"
    content = f"""{_HEAD} xml:lang="en">
  <ex:Person rdf:about="{joe}" ex:name="Person {i}"/>
</rdf:RDF>"""
    golden = [
        (_iri(joe), RDF + "type", _iri(EX + "Person")),
        (_iri(joe), EX + "name", _lit(f"Person {i}", "en")),
    ]
    return content, golden, f"http://example.org/base/{i}"


def property_attrs(i):
    s = f"http://example.org/thing/{i}"
    content = f"""{_HEAD} xml:base="http://example.org/types/">
  <rdf:Description rdf:about="{s}" rdf:type="T{i}" ex:count="{i}"/>
</rdf:RDF>"""
    golden = [
        (_iri(s), RDF + "type", _iri(f"http://example.org/types/T{i}")),
        (_iri(s), EX + "count", _lit(str(i))),
    ]
    return content, golden, ""


def nested_bnodes(i):
    s = f"http://example.org/root/{i}"
    content = f"""{_HEAD}>
  <rdf:Description rdf:about="{s}">
    <ex:child>
      <rdf:Description>
        <ex:name>L1-{i}</ex:name>
        <ex:child>
          <rdf:Description><ex:name>L2-{i}</ex:name></rdf:Description>
        </ex:child>
      </rdf:Description>
    </ex:child>
  </rdf:Description>
</rdf:RDF>"""
    golden = [
        (_iri(s), EX + "child", _b(0)),
        (_b(0), EX + "name", _lit(f"L1-{i}")),
        (_b(0), EX + "child", _b(1)),
        (_b(1), EX + "name", _lit(f"L2-{i}")),
    ]
    return content, golden, ""


def containers_li(i):
    kinds = ["Bag", "Seq", "Alt"]
    kind = kinds[i % 3]
    content = f"""{_HEAD}>
  <rdf:{kind}>
    <rdf:li rdf:resource="http://example.org/m/{i}/1"/>
    <rdf:li rdf:resource="http://example.org/m/{i}/2"/>
    <rdf:li>member three {i}</rdf:li>
  </rdf:{kind}>
</rdf:RDF>"""
    golden = [
        (_b(0), RDF + "type", _iri(RDF + kind)),
        (_b(0), RDF + "_1", _iri(f"http://example.org/m/{i}/1")),
        (_b(0), RDF + "_2", _iri(f"http://example.org/m/{i}/2")),
        (_b(0), RDF + "_3", _lit(f"member three {i}")),
    ]
    return content, golden, ""


def parsetype_resource(i):
    s = f"http://example.org/pt/{i}"
    content = f"""{_HEAD}>
  <rdf:Description rdf:about="{s}">
    <ex:blob rdf:parseType="Resource">
      <ex:width>{i}</ex:width>
      <ex:height>{i + 1}</ex:height>
    </ex:blob>
  </rdf:Description>
</rdf:RDF>"""
    golden = [
        (_iri(s), EX + "blob", _b(0)),
        (_b(0), EX + "width", _lit(str(i))),
        (_b(0), EX + "height", _lit(str(i + 1))),
    ]
    return content, golden, ""


def parsetype_collection(i):
    s = f"http://example.org/coll/{i}"
    a = f"http://example.org/coll/{i}/a"
    b = f"http://example.org/coll/{i}/b"
    content = f"""{_HEAD}>
  <rdf:Description rdf:about="{s}">
    <ex:members rdf:parseType="Collection">
      <rdf:Description rdf:about="{a}"/>
      <rdf:Description rdf:about="{b}"/>
    </ex:members>
  </rdf:Description>
</rdf:RDF>"""
    golden = [
        (_iri(s), EX + "members", _b(0)),
        (_b(0), RDF + "first", _iri(a)),
        (_b(0), RDF + "rest", _b(1)),
        (_b(1), RDF + "first", _iri(b)),
        (_b(1), RDF + "rest", _iri(RDF + "nil")),
    ]
    return content, golden, ""


def parsetype_literal(i):
    s = f"http://example.org/xl/{i}"
    content = f"""{_HEAD}>
  <rdf:Description rdf:about="{s}">
    <ex:markup rdf:parseType="Literal">pre <ex:b>bold {i}</ex:b> post</ex:markup>
  </rdf:Description>
</rdf:RDF>"""
    lit = f'pre <ex:b xmlns:ex="{EX}">bold {i}</ex:b> post'
    golden = [(_iri(s), EX + "markup",
               _lit(lit, None, RDF + "XMLLiteral"))]
    return content, golden, ""


def empty_property(i):
    s = f"http://example.org/ep/{i}"
    content = f"""{_HEAD} xml:base="http://example.org/rel/">
  <rdf:Description rdf:about="{s}">
    <ex:bare/>
    <ex:res rdf:resource="target{i}"/>
    <ex:anon ex:tag="t{i}"/>
  </rdf:Description>
</rdf:RDF>"""
    golden = [
        (_iri(s), EX + "bare", _lit("")),
        (_iri(s), EX + "res", _iri(f"http://example.org/rel/target{i}")),
        (_iri(s), EX + "anon", _b(0)),
        (_b(0), EX + "tag", _lit(f"t{i}")),
    ]
    return content, golden, ""


def reification(i):
    s = f"http://example.org/r/{i}"
    rid = f"http://example.org/reif/{i}#stmt{i}"
    content = f"""{_HEAD} xml:base="http://example.org/reif/{i}">
  <rdf:Description rdf:about="{s}">
    <ex:claim rdf:ID="stmt{i}">value {i}</ex:claim>
  </rdf:Description>
</rdf:RDF>"""
    golden = [
        (_iri(s), EX + "claim", _lit(f"value {i}")),
        (_iri(rid), RDF + "subject", _iri(s)),
        (_iri(rid), RDF + "predicate", _iri(EX + "claim")),
        (_iri(rid), RDF + "object", _lit(f"value {i}")),
        (_iri(rid), RDF + "type", _iri(RDF + "Statement")),
    ]
    return content, golden, ""


def nodeid_shared(i):
    s = f"http://example.org/ni/{i}"
    content = f"""{_HEAD}>
  <rdf:Description rdf:about="{s}">
    <ex:knows rdf:nodeID="n{i}"/>
  </rdf:Description>
  <rdf:Description rdf:nodeID="n{i}">
    <ex:name>shared {i}</ex:name>
  </rdf:Description>
</rdf:RDF>"""
    golden = [
        (_iri(s), EX + "knows", _b(0)),
        (_b(0), EX + "name", _lit(f"shared {i}")),
    ]
    return content, golden, ""


def datatyped_literal(i):
    s = f"http://example.org/dt/{i}"
    content = f"""{_HEAD}>
  <rdf:Description rdf:about="{s}">
    <ex:count rdf:datatype="{XSD}integer">{i}</ex:count>
    <ex:score rdf:datatype="{XSD}double">{i}.5</ex:score>
  </rdf:Description>
</rdf:RDF>"""
    golden = [
        (_iri(s), EX + "count", _lit(str(i), None, XSD + "integer")),
        (_iri(s), EX + "score", _lit(f"{i}.5", None, XSD + "double")),
    ]
    return content, golden, ""


def xml_lang(i):
    s = f"http://example.org/lang/{i}"
    content = f"""{_HEAD} xml:lang="en">
  <rdf:Description rdf:about="{s}">
    <ex:inherited>hello {i}</ex:inherited>
    <ex:french xml:lang="fr">bonjour {i}</ex:french>
    <ex:plain xml:lang="">none {i}</ex:plain>
  </rdf:Description>
</rdf:RDF>"""
    golden = [
        (_iri(s), EX + "inherited", _lit(f"hello {i}", "en")),
        (_iri(s), EX + "french", _lit(f"bonjour {i}", "fr")),
        (_iri(s), EX + "plain", _lit(f"none {i}")),
    ]
    return content, golden, ""


def xml_base(i):
    content = f"""{_HEAD} xml:base="http://example.org/dir{i}/doc#frag">
  <rdf:Description rdf:about="a{i}">
    <ex:p rdf:resource="sub/b{i}"/>
  </rdf:Description>
  <rdf:Description rdf:ID="frag{i}" xml:base="deeper/x">
    <ex:q rdf:resource="../up{i}"/>
  </rdf:Description>
</rdf:RDF>"""
    d = f"http://example.org/dir{i}"
    golden = [
        (_iri(f"{d}/a{i}"), EX + "p", _iri(f"{d}/sub/b{i}")),
        (_iri(f"{d}/deeper/x#frag{i}"), EX + "q", _iri(f"{d}/up{i}")),
    ]
    return content, golden, ""


def embedded_islands(i):
    one = f"http://example.org/is/{i}/one"
    content = f"""<?xml version="1.0"?>
<doc xmlns:rdf="{RDF}" xmlns:ex="{EX}" xml:base="http://example.net/{i}/" xml:lang="de">
  <meta>
    <rdf:RDF>
      <rdf:Description rdf:about="{one}"><ex:title>Insel {i}</ex:title></rdf:Description>
    </rdf:RDF>
  </meta>
  <other/>
  <rdf:RDF>
    <rdf:Description rdf:about=""><ex:note>zwei {i}</ex:note></rdf:Description>
  </rdf:RDF>
</doc>"""
    golden = [
        (_iri(one), EX + "title", _lit(f"Insel {i}", "de")),
        (_iri(f"http://example.net/{i}/"), EX + "note", _lit(f"zwei {i}", "de")),
    ]
    return content, golden, ""


def non_rdf_root(i):
    content = f'<?xml version="1.0"?>\n<ex:Widget xmlns:ex="{EX}" ex:serial="s{i}"/>'
    golden = [
        (_b(0), RDF + "type", _iri(EX + "Widget")),
        (_b(0), EX + "serial", _lit(f"s{i}")),
    ]
    return content, golden, ""


def cdata_entities(i):
    s = f"http://example.org/cd/{i}"
    content = f"""<?xml version="1.0"?>
<!DOCTYPE rdf:RDF [<!ENTITY base "http://example.org/ent/{i}">]>
<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="{EX}">
  <rdf:Description rdf:about="{s}">
    <ex:code><![CDATA[if (a < b && c > d) {{ x{i}; }}]]></ex:code>
    <ex:link rdf:resource="&base;/page"/>
  </rdf:Description>
</rdf:RDF>"""
    golden = [
        (_iri(s), EX + "code", _lit(f"if (a < b && c > d) {{ x{i}; }}")),
        (_iri(s), EX + "link", _iri(f"http://example.org/ent/{i}/page")),
    ]
    return content, golden, ""


POSITIVE_CATEGORIES = {
    "basic_description": basic_description,
    "typed_node": typed_node,
    "property_attrs": property_attrs,
    "nested_bnodes": nested_bnodes,
    "containers_li": containers_li,
    "parsetype_resource": parsetype_resource,
    "parsetype_collection": parsetype_collection,
    "parsetype_literal": parsetype_literal,
    "empty_property": empty_property,
    "reification": reification,
    "nodeid_shared": nodeid_shared,
    "datatyped_literal": datatyped_literal,
    "xml_lang": xml_lang,
    "xml_base": xml_base,
    "embedded_islands": embedded_islands,
    "non_rdf_root": non_rdf_root,
    "cdata_entities": cdata_entities,
}


# --- negative categories (must be rejected into the error channel) -----------

def neg_obsolete_terms(i):
    term = ["aboutEach", "aboutEachPrefix", "bagID"][i % 3]
    return f'{_HEAD}>\n  <rdf:Description rdf:{term}="#x{i}"/>\n</rdf:RDF>'


def neg_bad_ncname(i):
    bad = ["333-555-666", "a/b", "q:name"][i % 3]
    return f'{_HEAD}>\n  <rdf:Description rdf:ID="{bad}"/>\n</rdf:RDF>'


def neg_conflicting_attrs(i):
    pairs = ['rdf:nodeID="n" rdf:about="http://a/"',
             'rdf:nodeID="n" rdf:ID="i"'][i % 2]
    return f'{_HEAD}>\n  <rdf:Description {pairs}/>\n</rdf:RDF>'


def neg_illegal_names(i):
    if i % 2 == 0:
        return f'{_HEAD}>\n  <rdf:li/>\n</rdf:RDF>'
    return (f'{_HEAD}>\n  <rdf:Description rdf:about="http://a/{i}">'
            f'<rdf:Description rdf:resource="http://b/"/>'
            f'</rdf:Description>\n</rdf:RDF>')


def neg_not_xml(i):
    return f"this is not xml at all {i} <unclosed"


NEGATIVE_CATEGORIES = {
    "NEG_obsolete_terms": neg_obsolete_terms,
    "NEG_bad_ncname": neg_bad_ncname,
    "NEG_conflicting_attrs": neg_conflicting_attrs,
    "NEG_illegal_names": neg_illegal_names,
    "NEG_not_xml": neg_not_xml,
}


# --- corpus assembly ----------------------------------------------------------

def _pseudo_sha(seed: str) -> str:
    return hashlib.sha1(seed.encode()).hexdigest()


def corpus(instances_per_category: int = 3, include_negative: bool = True,
           seed: int = 42):
    """Rows in the BASELINE.json input_hint shape + golden/manifest info.

    Returns a list of dicts: repo, path, commit, lang, content,
    base_uri, category, negative, golden (term-tuple triples or None).
    """
    rows = []
    idx = 0
    for name, fn in POSITIVE_CATEGORIES.items():
        for i in range(instances_per_category):
            content, golden, base = fn(i)
            rows.append({
                "repo": f"org{idx % 17}/repo{idx % 101}",
                "path": f"src/{name}/doc{i}.rdf",
                "commit": _pseudo_sha(f"{seed}:{idx}"),
                "lang": "rdfxml",
                "content": content,
                "base_uri": base,
                "category": name,
                "negative": False,
                "golden": golden,
            })
            idx += 1
    if include_negative:
        for name, fn in NEGATIVE_CATEGORIES.items():
            for i in range(instances_per_category):
                rows.append({
                    "repo": f"org{idx % 17}/repo{idx % 101}",
                    "path": f"src/{name}/doc{i}.rdf",
                    "commit": _pseudo_sha(f"{seed}:{idx}"),
                    "lang": "xml" if name == "NEG_not_xml" else "rdfxml",
                    "content": fn(i),
                    "base_uri": f"http://example.org/neg/{i}",
                    "category": name,
                    "negative": True,
                    "golden": None,
                })
                idx += 1
    return rows

