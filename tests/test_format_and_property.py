"""Format detection (S1, format.rb parity) + property-based round-trip
fuzzing with hypothesis (random graphs → write → parse → isomorphic).
"""
import string

from hypothesis import given, settings, strategies as st

from rdf_rdfxml_spark.parser.grammar import parse_rdfxml
from rdf_rdfxml_spark.functions.nt import isomorphic, triple_to_nt
from rdf_rdfxml_spark.writer.serialize import serialize_graph

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


# --- format detection (Spark) --------------------------------------------------

def test_detect_and_filter(spark):
    from rdf_rdfxml_spark.sources.format import detect
    rows = [
        {"path": "a.rdf", "lang": "xml", "content": "<x/>"},             # ext
        {"path": "b.owl", "lang": "", "content": "<y/>"},                # ext
        {"path": "c.txt", "lang": "rdfxml", "content": "<z/>"},          # lang
        {"path": "d.txt", "lang": "", "content": '<rdf:RDF xmlns:rdf="x"/>'},  # sniff
        {"path": "e.txt", "lang": "", "content": "<RDF/>"},              # sniff (no prefix)
        {"path": "f.txt", "lang": "", "content": "plain text"},          # none
        {"path": "g.txt", "lang": "", "content": "<NotRDFHere/>"},       # none
    ]
    df = detect(spark.createDataFrame(rows))
    got = {r["path"]: r["format"] for r in df.collect()}
    assert got == {"a.rdf": "rdfxml", "b.owl": "rdfxml", "c.txt": "rdfxml",
                   "d.txt": "rdfxml", "e.txt": "rdfxml", "f.txt": "unknown",
                   "g.txt": "unknown"}


# --- property-based round trip --------------------------------------------------

_safe_text = st.text(
    alphabet=string.ascii_letters + string.digits + " .,:;!?&<>\"'\n\t德ü",
    max_size=40)
_local = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8)
_iri = st.builds(lambda l: f"http://example.org/{l}", _local)
_pred = st.builds(lambda l: f"http://vocab.example/ns#{l}", _local)
_lang = st.sampled_from([None, "en", "fr", "de-at"])
_dt = st.sampled_from([None, "http://www.w3.org/2001/XMLSchema#integer",
                       "http://other.example/dt"])

_subject = st.one_of(
    st.builds(lambda v: ("iri", v), _iri),
    st.builds(lambda n: ("bnode", f"g{n}"), st.integers(0, 3)))

# RDF/XML cannot express empty/whitespace-only literals that carry a
# language or datatype: serialized as <p dt/lang>ws</p>, the reader's
# production selection sees no non-blank text node and takes
# emptyPropertyElt → plain "" (reader.rb:524-530). The reference writer has
# the identical round-trip hole; the generator therefore requires literal
# values to have non-whitespace content unless they are exactly "" and
# plain. (test_known_roundtrip_hole documents the behavior explicitly.)
_object = st.one_of(
    st.builds(lambda v: ("iri", v), _iri),
    st.builds(lambda n: ("bnode", f"g{n}"), st.integers(0, 3)),
    st.builds(lambda v, lang, dt: ("literal", v, lang, None if lang else dt),
              _safe_text.filter(lambda v: v.strip() != "" or v == ""),
              _lang, _dt).filter(
        lambda o: o[1].strip() != "" or (o[2] is None and o[3] is None)))

_graph = st.lists(st.tuples(_subject, _pred, _object),
                  min_size=1, max_size=12)


def _rows(triples):
    return [{"s": s[1], "s_kind": s[0], "p": p, "o": o[1], "o_kind": o[0],
             "o_lang": o[2] if o[0] == "literal" else None,
             "o_dt": o[3] if o[0] == "literal" else None}
            for s, p, o in triples]


@settings(max_examples=150, deadline=None)
@given(_graph)
def test_random_graph_roundtrip(graph):
    graph = list(set(graph))  # graph set semantics
    xml = serialize_graph(_rows(graph))
    reparsed, errors = parse_rdfxml(xml, base_uri="", doc_key="h")
    assert not errors, (errors, xml)
    assert isomorphic(reparsed, graph), (
        xml + "\n" + "\n".join(sorted(map(triple_to_nt, reparsed)))
        + "\n---\n" + "\n".join(sorted(map(triple_to_nt, graph))))


def test_known_roundtrip_hole_empty_typed_literal():
    # grammar-level limitation shared with the reference: an empty typed
    # literal serializes to <p rdf:datatype="..."></p>, which re-parses as
    # emptyPropertyElt → plain "" (datatype unexpressible)
    triples = [(("iri", "http://a/"), "http://v/p",
                ("literal", "", None,
                 "http://www.w3.org/2001/XMLSchema#integer"))]
    xml = serialize_graph(_rows(triples))
    reparsed, errors = parse_rdfxml(xml, base_uri="", doc_key="h")
    assert not errors
    assert reparsed == [(("iri", "http://a/"), "http://v/p",
                         ("literal", "", None, None))]


@settings(max_examples=60, deadline=None)
@given(_graph)
def test_random_graph_roundtrip_attribute_folding(graph):
    graph = list(set(graph))
    xml = serialize_graph(_rows(graph), attributes="untyped")
    reparsed, errors = parse_rdfxml(xml, base_uri="", doc_key="h")
    assert not errors, (errors, xml)
    assert isomorphic(reparsed, graph), xml
