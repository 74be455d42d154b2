"""Writer round-trip tests (the reference's strongest writer contract:
golden graph → write RDF/XML → re-parse → isomorphic,
spec/writer_spec.rb:685-706).
"""
from pathlib import Path

import pytest

from rdf_rdfxml_spark.parser.grammar import parse_rdfxml
from rdf_rdfxml_spark.functions.nt import isomorphic, parse_nt, triple_to_nt
from rdf_rdfxml_spark.sources.fixtures import corpus
from rdf_rdfxml_spark.writer.serialize import serialize_graph

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def _rows(triples):
    rows = []
    for s, p, o in triples:
        row = {"s": s[1], "s_kind": s[0], "p": p,
               "o": o[1], "o_kind": o[0],
               "o_lang": o[2] if o[0] == "literal" else None,
               "o_dt": o[3] if o[0] == "literal" else None}
        rows.append(row)
    return rows


def _roundtrip(triples):
    xml = serialize_graph(_rows(triples))
    reparsed, errors = parse_rdfxml(xml, base_uri="", doc_key="rt")
    assert not errors, (errors, xml)
    return reparsed, xml


@pytest.mark.parametrize("row", [
    r for r in corpus(instances_per_category=2) if not r["negative"]
], ids=lambda r: r["path"])
def test_roundtrip_fixture(row):
    triples, errors = parse_rdfxml(row["content"], base_uri=row["base_uri"],
                                   doc_key="t")
    assert not errors
    reparsed, xml = _roundtrip(triples)
    assert isomorphic(reparsed, triples), (
        xml + "\n-- original --\n"
        + "\n".join(sorted(triple_to_nt(t) for t in triples))
        + "\n-- reparsed --\n"
        + "\n".join(sorted(triple_to_nt(t) for t in reparsed)))


def test_roundtrip_doap():
    doap = open("/root/reference/etc/doap.rdf").read()
    triples, errors = parse_rdfxml(
        doap, base_uri="https://rubygems.org/gems/rdf-rdfxml", doc_key="d")
    assert not errors
    reparsed, xml = _roundtrip(triples)
    assert isomorphic(reparsed, triples), xml


def test_doap_style_golden_and_roundtrip():
    """In-repo DOAP-style document against its hand-written golden:
    nested typed descriptions, rdf:resource (absolute, relative and
    fragment), plain, language-tagged and typed literals, a property
    attribute, anonymous bnodes and five namespaces."""
    data = Path(__file__).parent / "data"
    triples, errors = parse_rdfxml(
        (data / "doap_style.rdf").read_text(),
        base_uri="https://example.org/widget/doap", doc_key="d")
    assert not errors
    gold = parse_nt((data / "doap_style.nt").read_text())
    assert len(triples) == len(gold) == 28
    assert isomorphic(triples, gold), sorted(map(triple_to_nt, triples))
    reparsed, xml = _roundtrip(triples)
    assert isomorphic(reparsed, gold), xml


def test_typed_subject_uses_type_element():
    triples = [
        (("iri", "http://a/x"), RDF + "type", ("iri", "http://v/Widget")),
        (("iri", "http://a/x"), "http://v/name", ("literal", "n", None, None)),
    ]
    xml = serialize_graph(_rows(triples))
    assert "<ns0:Widget" in xml or ":Widget" in xml
    reparsed, _ = parse_rdfxml(xml, base_uri="", doc_key="x")
    assert isomorphic(reparsed, triples)


def test_collection_resugars():
    triples, errors = parse_rdfxml(f"""
      <rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://e/">
        <rdf:Description rdf:about="http://a/">
          <ex:l rdf:parseType="Collection">
            <rdf:Description rdf:about="http://m/1"/>
            <rdf:Description rdf:about="http://m/2"/>
          </ex:l>
        </rdf:Description>
      </rdf:RDF>""", base_uri="", doc_key="c")
    assert not errors
    xml = serialize_graph(_rows(triples))
    assert 'rdf:parseType="Collection"' in xml
    reparsed, _ = parse_rdfxml(xml, base_uri="", doc_key="c2")
    assert isomorphic(reparsed, triples)


def test_shared_bnode_gets_nodeid():
    b = ("bnode", "b:deadbeef:0")
    triples = [
        (("iri", "http://a/1"), "http://v/p", b),
        (("iri", "http://a/2"), "http://v/p", b),
        (b, "http://v/name", ("literal", "shared", None, None)),
    ]
    xml = serialize_graph(_rows(triples))
    assert xml.count("rdf:nodeID") >= 2
    reparsed, _ = parse_rdfxml(xml, base_uri="", doc_key="s")
    assert isomorphic(reparsed, triples)


def test_xmlliteral_embeds_verbatim():
    lit = 'x <ex:b xmlns:ex="http://e/">y</ex:b> z'
    triples = [(("iri", "http://a/"), "http://v/m",
                ("literal", lit, None, RDF + "XMLLiteral"))]
    xml = serialize_graph(_rows(triples))
    assert 'rdf:parseType="Literal"' in xml
    reparsed, _ = parse_rdfxml(xml, base_uri="", doc_key="x")
    assert isomorphic(reparsed, triples)


def test_document_language_elision_roundtrip():
    from rdf_rdfxml_spark.writer.serialize import serialize_graph
    triples = [
        (("iri", "http://a/1"), "http://v/p", ("literal", "hallo", "de", None)),
        (("iri", "http://a/1"), "http://v/q", ("literal", "hello", "en", None)),
        (("iri", "http://a/1"), "http://v/r", ("literal", "", "de", None)),
    ]
    xml = serialize_graph(_rows(triples), lang="de")
    # doc-language literals elide their xml:lang (re-established by the root)
    assert xml.count('xml:lang="de"') == 1          # only on rdf:RDF
    assert 'xml:lang="en"' in xml                   # divergent lang kept
    reparsed, errors = parse_rdfxml(xml, base_uri="", doc_key="dl")
    assert not errors
    assert isomorphic(reparsed, triples), xml


def test_stylesheet_pi():
    from rdf_rdfxml_spark.writer.serialize import serialize_graph
    xml = serialize_graph(
        _rows([(("iri", "http://a/"), "http://v/p",
                ("literal", "x", None, None))]),
        stylesheet="style.xsl")
    assert '<?xml-stylesheet type="text/xsl" href="style.xsl"?>' in xml
    reparsed, errors = parse_rdfxml(xml, base_uri="", doc_key="ss")
    assert not errors and len(reparsed) == 1


def test_known_vocab_prefixes_preferred():
    """get_qname prefers registered vocabulary prefixes (writer.rb:546-590):
    dc/foaf/rdfs terms render with their canonical prefixes, unknown
    namespaces still mint ns0…, and only used namespaces are declared."""
    from rdf_rdfxml_spark.writer.serialize import serialize_graph
    triples = [
        (("iri", "http://a/1"), "http://purl.org/dc/elements/1.1/title",
         ("literal", "T", None, None)),
        (("iri", "http://a/1"), "http://xmlns.com/foaf/0.1/name",
         ("literal", "N", None, None)),
        (("iri", "http://a/1"), "http://unknown.example/v#p",
         ("literal", "U", None, None)),
    ]
    xml = serialize_graph(_rows(triples))
    assert "<dc:title>T</dc:title>" in xml
    assert "<foaf:name>N</foaf:name>" in xml
    assert "<ns0:p>U</ns0:p>" in xml
    assert 'xmlns:dc="http://purl.org/dc/elements/1.1/"' in xml
    assert 'xmlns:foaf="http://xmlns.com/foaf/0.1/"' in xml
    assert "xmlns:owl" not in xml  # unused vocab not declared
    reparsed, errors = parse_rdfxml(xml, base_uri="", doc_key="kv")
    assert not errors
    assert isomorphic(reparsed, triples)


def test_top_classes_subject_ordering():
    """order_subjects puts top_classes instances right after the base
    subject (writer.rb:452-472, default [rdfs:Class], writer.rb:124-133):
    a class definition outranks an alphabetically-earlier plain subject."""
    RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    RDFS_CLASS = "http://www.w3.org/2000/01/rdf-schema#Class"
    triples = [
        (("iri", "http://a/aaa-first-alpha"), "http://v/p",
         ("literal", "x", None, None)),
        (("iri", "http://a/zzz-class"), RDF_TYPE, ("iri", RDFS_CLASS)),
        (("iri", "http://a/zzz-class"), "http://v/p",
         ("literal", "c", None, None)),
    ]
    xml = serialize_graph(_rows(triples))
    assert xml.index("zzz-class") < xml.index("aaa-first-alpha")
    # custom top_classes: instances of the given class come first instead
    xml2 = serialize_graph(_rows(triples), top_classes=["http://v/T"])
    assert xml2.index("aaa-first-alpha") < xml2.index("zzz-class")
    triples2 = triples + [
        (("iri", "http://a/mmm-widget"), RDF_TYPE, ("iri", "http://v/T")),
        (("iri", "http://a/mmm-widget"), "http://v/p",
         ("literal", "w", None, None)),
    ]
    xml3 = serialize_graph(_rows(triples2), top_classes=["http://v/T"])
    assert (xml3.index("mmm-widget") < xml3.index("aaa-first-alpha")
            < xml3.index("zzz-class"))
    # round trips unaffected
    reparsed, errors = parse_rdfxml(xml3, base_uri="", doc_key="tc")
    assert not errors and isomorphic(reparsed, triples2)
