"""Grammar unit tests: one case per production of SURVEY.md §2.2,
replicating the reference's RSpec feature cases
(/root/reference/spec/reader_spec.rb) with hand-verified golden NTriples.
"""
import pytest

from rdf_rdfxml_spark.parser.grammar import parse_rdfxml
from rdf_rdfxml_spark.functions.nt import parse_nt, isomorphic, triple_to_nt

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def assert_graph(doc, expected_nt, base="http://example.com/", strict=True):
    triples, errors = parse_rdfxml(doc, base_uri=base, doc_key="t",
                                   strict=strict)
    assert not errors, errors
    exp = parse_nt(expected_nt)
    assert isomorphic(triples, exp), (
        "\n".join(sorted(triple_to_nt(t) for t in triples))
        + "\n-- expected --\n"
        + "\n".join(sorted(triple_to_nt(t) for t in exp)))


def assert_rejected(doc, base="http://example.com/"):
    triples, errors = parse_rdfxml(doc, base_uri=base, doc_key="t",
                                   strict=True)
    assert errors
    assert triples == []


# --- S3/S4/G2: islands, non-RDF root, ancestor context -----------------------

def test_non_rdf_root_single_type_triple():
    # reader_spec.rb:91-100
    assert_graph(
        '<?xml version="1.0" ?>\n<NotRDF />',
        f'_:b0 <{RDF}type> <http://www.w3.org/XML/1998/namespaceNotRDF> .')


def test_multiple_rdf_islands():
    # reader_spec.rb:102-120
    doc = """<?xml version="1.0" ?>
    <GenericXML xmlns:rdf="%srdfns" xmlns:ex="http://example.org/">
      <rdf:RDF><rdf:Description rdf:about="http://example.org/one"><ex:name>Foo</ex:name></rdf:Description></rdf:RDF>
      <blablabla />
      <rdf:RDF><rdf:Description rdf:about="http://example.org/two"><ex:name>Bar</ex:name></rdf:Description></rdf:RDF>
    </GenericXML>""" % ""
    doc = doc.replace("rdfns", RDF[:-1] + "#")  # keep raw string tidy
    doc = doc.replace(RDF[:-1] + "#", RDF)
    assert_graph(doc, """
      <http://example.org/one> <http://example.org/name> "Foo" .
      <http://example.org/two> <http://example.org/name> "Bar" .""")


def test_embedded_rdf_in_svg_inherits_base_and_lang():
    # reader_spec.rb:179-207
    svg = f"""<?xml version="1.0" encoding="UTF-8"?>
    <svg width="12cm" xmlns:dc="http://purl.org/dc/terms/"
      xmlns:rdf="{RDF}" xml:base="http://example.net/" xml:lang="fr"
      xmlns="http://www.w3.org/2000/svg" version="1.2">
      <desc property="dc:description">A yellow rectangle.</desc>
      <metadata>
        <rdf:RDF>
          <rdf:Description rdf:about="">
            <dc:title>Test 0304</dc:title>
          </rdf:Description>
        </rdf:RDF>
      </metadata>
      <rect x="1" y="1" width="1198" height="398" fill="none"/>
    </svg>"""
    assert_graph(
        svg,
        '<http://example.net/> <http://purl.org/dc/terms/title> "Test 0304"@fr .')


# --- G2/G3/G4: node elements, subjects, property attributes ------------------

def test_typed_node_with_attrs_and_nesting():
    # reader_spec.rb:122-164
    doc = f"""<?xml version="1.0" ?>
    <rdf:RDF xmlns:rdf="{RDF}"
      xmlns:ex="http://www.example.org/" xml:lang="en"
      xml:base="http://www.example.org/foo">
      <ex:Thing rdf:about="http://example.org/joe" ex:name="bar">
        <ex:belongsTo rdf:resource="http://tommorris.org/" />
        <ex:sampleText rdf:datatype="http://www.w3.org/2001/XMLSchema#string">foo</ex:sampleText>
        <ex:hadADodgyRelationshipWith>
          <rdf:Description>
            <ex:name>Tom</ex:name>
          </rdf:Description>
        </ex:hadADodgyRelationshipWith>
      </ex:Thing>
    </rdf:RDF>"""
    assert_graph(doc, f"""
      <http://example.org/joe> <{RDF}type> <http://www.example.org/Thing> .
      <http://example.org/joe> <http://www.example.org/name> "bar"@en .
      <http://example.org/joe> <http://www.example.org/sampleText> "foo"^^<http://www.w3.org/2001/XMLSchema#string> .
      <http://example.org/joe> <http://www.example.org/belongsTo> <http://tommorris.org/> .
      <http://example.org/joe> <http://www.example.org/hadADodgyRelationshipWith> _:b1 .
      _:b1 <http://www.example.org/name> "Tom"@en .""")


def test_rdf_id_subject_resolves_against_base():
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://example.org/"
      xml:base="http://example.org/dir/file">
      <rdf:Description rdf:ID="frag"><ex:p>v</ex:p></rdf:Description>
    </rdf:RDF>"""
    assert_graph(
        doc,
        '<http://example.org/dir/file#frag> <http://example.org/p> "v" .')


def test_duplicate_rdf_id_rejected():
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://example.org/">
      <rdf:Description rdf:ID="a"><ex:p>1</ex:p></rdf:Description>
      <rdf:Description rdf:ID="a"><ex:p>2</ex:p></rdf:Description>
    </rdf:RDF>"""
    assert_rejected(doc)


def test_rdf_type_attribute_on_node_element_resolves():
    # reader.rb:317-321 — rdf:type attr resolved against base (unlike the
    # emptyPropertyElt quirk).
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xml:base="http://ex.org/">
      <rdf:Description rdf:about="http://ex.org/a" rdf:type="Klass"/>
    </rdf:RDF>"""
    assert_graph(doc, f'<http://ex.org/a> <{RDF}type> <http://ex.org/Klass> .')


def test_unqualified_attributes_ignored():
    # reader.rb:376-382
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://example.org/">
      <rdf:Description rdf:about="http://ex.org/a" plain="skipme">
        <ex:p other="alsoskipped">v</ex:p>
      </rdf:Description>
    </rdf:RDF>"""
    # NOTE: property element with text + unqualified attr: the unqualified
    # attr is dropped during classification, so literalPropertyElt applies.
    assert_graph(doc, '<http://ex.org/a> <http://example.org/p> "v" .')


# --- G5: li expansion ---------------------------------------------------------

def test_li_expansion_counter_per_node_element():
    # reader_spec.rb:166-176 + per-nodeElement counters (reader.rb:91-95)
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}">
      <rdf:Bag>
        <rdf:li rdf:resource="http://a/" />
        <rdf:li rdf:resource="http://b/" />
      </rdf:Bag>
      <rdf:Seq>
        <rdf:li rdf:resource="http://c/" />
      </rdf:Seq>
    </rdf:RDF>"""
    assert_graph(doc, f"""
      _:x <{RDF}type> <{RDF}Bag> .
      _:x <{RDF}_1> <http://a/> .
      _:x <{RDF}_2> <http://b/> .
      _:y <{RDF}type> <{RDF}Seq> .
      _:y <{RDF}_1> <http://c/> .""")


# --- G7-G12 productions -------------------------------------------------------

def test_literal_property_whitespace_preserved():
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://example.org/">
      <rdf:Description rdf:about="http://a/"><ex:p>  two  words </ex:p></rdf:Description>
    </rdf:RDF>"""
    assert_graph(doc, '<http://a/> <http://example.org/p> "  two  words " .')


def test_cdata_text():
    # reader_spec.rb:209-225
    doc = f"""<rdf:RDF xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
      xmlns:rdf="{RDF}">
      <rdf:Property rdf:about="http://www.w3.org/ns/oa#annotationService">
        <rdfs:comment><![CDATA[Text]]></rdfs:comment>
      </rdf:Property>
    </rdf:RDF>"""
    assert_graph(doc, f"""
      <http://www.w3.org/ns/oa#annotationService> <{RDF}type> <{RDF}Property> .
      <http://www.w3.org/ns/oa#annotationService> <http://www.w3.org/2000/01/rdf-schema#comment> "Text" .""")


def test_parsetype_resource():
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://example.org/">
      <rdf:Description rdf:about="http://a/">
        <ex:p rdf:parseType="Resource">
          <ex:q>inner</ex:q>
        </ex:p>
      </rdf:Description>
    </rdf:RDF>"""
    assert_graph(doc, """
      <http://a/> <http://example.org/p> _:n .
      _:n <http://example.org/q> "inner" .""")


def test_parsetype_collection_empty():
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://example.org/">
      <rdf:Description rdf:about="http://a/">
        <ex:list rdf:parseType="Collection"/>
      </rdf:Description>
    </rdf:RDF>"""
    assert_graph(doc, f'<http://a/> <http://example.org/list> <{RDF}nil> .')


def test_parsetype_collection_two_cells():
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:eg="http://example.org/eg#">
      <rdf:Description rdf:about="http://example.org/eg#eric">
        <rdf:type rdf:parseType="Resource">
          <eg:intersectionOf rdf:parseType="Collection">
              <rdf:Description rdf:about="http://example.org/eg#Person"/>
              <rdf:Description rdf:about="http://example.org/eg#Male"/>
          </eg:intersectionOf>
        </rdf:type>
      </rdf:Description>
    </rdf:RDF>"""
    assert_graph(doc, f"""
      <http://example.org/eg#eric> <{RDF}type> _:a0 .
      _:a0 <http://example.org/eg#intersectionOf> _:a1 .
      _:a1 <{RDF}first> <http://example.org/eg#Person> .
      _:a1 <{RDF}rest> _:a2 .
      _:a2 <{RDF}first> <http://example.org/eg#Male> .
      _:a2 <{RDF}rest> <{RDF}nil> .""")


def test_parsetype_literal_xml_content():
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:eg="http://example.org/">
      <rdf:Description rdf:about="http://a/">
        <eg:prop rdf:parseType="Literal">x <eg:b attr="v">y</eg:b> z</eg:prop>
      </rdf:Description>
    </rdf:RDF>"""
    expected_lit = 'x <eg:b xmlns:eg="http://example.org/" attr="v">y</eg:b> z'
    triples, errors = parse_rdfxml(doc, base_uri="http://example.com/",
                                   doc_key="t")
    assert not errors
    assert triples == [(("iri", "http://a/"), "http://example.org/prop",
                        ("literal", expected_lit, None, RDF + "XMLLiteral"))]


def test_parsetype_literal_inherits_language():
    # c14nxl receives the parent ec's language (reader.rb:512)
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:eg="http://example.org/"
       xml:lang="en">
      <rdf:Description rdf:about="http://a/">
        <eg:prop rdf:parseType="Literal"><eg:b>y</eg:b></eg:prop>
      </rdf:Description>
    </rdf:RDF>"""
    triples, errors = parse_rdfxml(doc, base_uri="", doc_key="t")
    assert not errors
    assert triples[0][2][1] == \
        '<eg:b xmlns:eg="http://example.org/" xml:lang="en">y</eg:b>'


def test_empty_property_bare_emits_empty_literal():
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://example.org/">
      <rdf:Description rdf:about="http://a/"><ex:p/></rdf:Description>
    </rdf:RDF>"""
    assert_graph(doc, '<http://a/> <http://example.org/p> "" .')


def test_empty_property_resource():
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://example.org/"
       xml:base="http://base.org/">
      <rdf:Description rdf:about="http://a/">
        <ex:p rdf:resource="rel"/>
      </rdf:Description>
    </rdf:RDF>"""
    assert_graph(doc, '<http://a/> <http://example.org/p> <http://base.org/rel> .')


def test_empty_property_nodeid_shared():
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://example.org/">
      <rdf:Description rdf:about="http://a/"><ex:p rdf:nodeID="n1"/></rdf:Description>
      <rdf:Description rdf:nodeID="n1"><ex:q>v</ex:q></rdf:Description>
    </rdf:RDF>"""
    assert_graph(doc, """
      <http://a/> <http://example.org/p> _:n1 .
      _:n1 <http://example.org/q> "v" .""")


def test_empty_property_with_property_attrs():
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://example.org/">
      <rdf:Description rdf:about="http://a/">
        <ex:p ex:name="inner" ex:age="7"/>
      </rdf:Description>
    </rdf:RDF>"""
    assert_graph(doc, """
      <http://a/> <http://example.org/p> _:n .
      _:n <http://example.org/name> "inner" .
      _:n <http://example.org/age> "7" .""")


# --- G13: reification ---------------------------------------------------------

def test_reification():
    # reader_spec.rb:325-349
    doc = f"""<?xml version="1.0"?>
    <rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://example.org/stuff/1.0/"
             xml:base="http://example.org/triples/">
      <rdf:Description rdf:about="http://example.org/">
        <ex:prop rdf:ID="triple1">blah</ex:prop>
      </rdf:Description>
    </rdf:RDF>"""
    assert_graph(doc, f"""
      <http://example.org/> <http://example.org/stuff/1.0/prop> "blah" .
      <http://example.org/triples/#triple1> <{RDF}type> <{RDF}Statement> .
      <http://example.org/triples/#triple1> <{RDF}subject> <http://example.org/> .
      <http://example.org/triples/#triple1> <{RDF}predicate> <http://example.org/stuff/1.0/prop> .
      <http://example.org/triples/#triple1> <{RDF}object> "blah" .""")


# --- G16: entities ------------------------------------------------------------

def test_entity_in_namespace_declaration():
    # reader_spec.rb:351-374
    doc = f"""<?xml version="1.0"?>
    <!DOCTYPE rdf:RDF [<!ENTITY rdf "{RDF}" >]>
    <rdf:RDF xmlns:rdf="&rdf;" xmlns:ex="http://example.org/">
      <rdf:Description rdf:about="http://example.org/"><ex:prop>&gt;</ex:prop></rdf:Description>
    </rdf:RDF>"""
    assert_graph(doc, '<http://example.org/> <http://example.org/prop> ">" .')


# --- xml:lang handling --------------------------------------------------------

def test_lang_inheritance_override_and_reset():
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://example.org/"
      xml:lang="en">
      <rdf:Description rdf:about="http://a/">
        <ex:inherited>x</ex:inherited>
        <ex:overridden xml:lang="FR">y</ex:overridden>
        <ex:reset xml:lang="">z</ex:reset>
      </rdf:Description>
    </rdf:RDF>"""
    # language tags downcased (RDF::Literal); xml:lang="" resets
    assert_graph(doc, """
      <http://a/> <http://example.org/inherited> "x"@en .
      <http://a/> <http://example.org/overridden> "y"@fr .
      <http://a/> <http://example.org/reset> "z" .""")


# --- xml:base nesting ---------------------------------------------------------

def test_nested_xml_base_and_fragment_strip():
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://example.org/"
      xml:base="http://ex.org/dir/x#frag">
      <rdf:Description rdf:about="a">
        <ex:p rdf:resource="b"/>
      </rdf:Description>
      <rdf:Description rdf:about="c" xml:base="sub/y"><ex:p rdf:resource="d"/></rdf:Description>
    </rdf:RDF>"""
    assert_graph(doc, """
      <http://ex.org/dir/a> <http://example.org/p> <http://ex.org/dir/b> .
      <http://ex.org/dir/sub/c> <http://example.org/p> <http://ex.org/dir/sub/d> .""")


# --- G15: negative cases ------------------------------------------------------

@pytest.mark.parametrize("name,doc", [
    ("aboutEach", '<rdf:RDF xmlns:rdf="%s"><rdf:Description rdf:aboutEach="#x"/></rdf:RDF>' % RDF),
    ("aboutEachPrefix", '<rdf:RDF xmlns:rdf="%s"><rdf:Description rdf:aboutEachPrefix="http://x/"/></rdf:RDF>' % RDF),
    ("bagID", '<rdf:RDF xmlns:rdf="%s"><rdf:Description rdf:bagID="b"/></rdf:RDF>' % RDF),
    ("bad-ncname-id", '<rdf:RDF xmlns:rdf="%s"><rdf:Description rdf:ID="333-555"/></rdf:RDF>' % RDF),
    ("bad-ncname-slash", '<rdf:RDF xmlns:rdf="%s"><rdf:Description rdf:ID="a/b"/></rdf:RDF>' % RDF),
    ("nodeID+about", '<rdf:RDF xmlns:rdf="%s"><rdf:Description rdf:nodeID="n" rdf:about="http://a/"/></rdf:RDF>' % RDF),
    ("nodeID+ID", '<rdf:RDF xmlns:rdf="%s"><rdf:Description rdf:nodeID="n" rdf:ID="i"/></rdf:RDF>' % RDF),
    ("nodeID+resource-prop", '<rdf:RDF xmlns:rdf="%s" xmlns:ex="http://e/"><rdf:Description><ex:p rdf:nodeID="n" rdf:resource="http://a/"/></rdf:Description></rdf:RDF>' % RDF),
    ("li-as-node-element", '<rdf:RDF xmlns:rdf="%s"><rdf:li/></rdf:RDF>' % RDF),
    ("Description-as-property", '<rdf:RDF xmlns:rdf="%s"><rdf:Description rdf:about="http://a/"><rdf:Description rdf:resource="http://b/"/></rdf:Description></rdf:RDF>' % RDF),
    ("malformed-xml", "<a><b></a>"),
    ("parsetype-literal-with-resource", '<rdf:RDF xmlns:rdf="%s" xmlns:ex="http://e/"><rdf:Description><ex:p rdf:parseType="Literal" rdf:resource="http://x/">t</ex:p></rdf:Description></rdf:RDF>' % RDF),
])
def test_negative(name, doc):
    assert_rejected(doc)


def test_invalid_nodeid_nonstrict_shares_single_bnode():
    # reader.rb:639-646 + 252-255: invalid nodeIDs map to the "" cache slot
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://example.org/">
      <rdf:Description rdf:nodeID="a/b"><ex:p>1</ex:p></rdf:Description>
      <rdf:Description rdf:nodeID="c:d"><ex:q>2</ex:q></rdf:Description>
    </rdf:RDF>"""
    triples, errors = parse_rdfxml(doc, base_uri="", doc_key="t",
                                   strict=False)
    assert len(errors) == 2
    subjects = {t[0] for t in triples}
    assert len(subjects) == 1  # shared "" slot


def test_text_plus_property_attrs_silently_dropped():
    # no production matches (reader.rb:413-564) — reference emits nothing
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://example.org/">
      <rdf:Description rdf:about="http://a/"><ex:p ex:a="1">text</ex:p></rdf:Description>
    </rdf:RDF>"""
    triples, errors = parse_rdfxml(doc, base_uri="", doc_key="t")
    assert triples == [] and errors == []


# --- replicated reference quirks ---------------------------------------------

def test_quirk_datatype_not_base_resolved():
    # reader.rb:430: uri(datatype) without base
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://example.org/"
       xml:base="http://base.org/">
      <rdf:Description rdf:about="http://a/"><ex:p rdf:datatype="rel">v</ex:p></rdf:Description>
    </rdf:RDF>"""
    triples, _ = parse_rdfxml(doc, base_uri="", doc_key="t")
    assert triples[0][2] == ("literal", "v", None, "rel")


def test_quirk_empty_property_lang_from_parent_context():
    # reader.rb:530 uses ec (parent), not child_ec
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://example.org/">
      <rdf:Description rdf:about="http://a/" xml:lang="en">
        <ex:p xml:lang="fr"/>
      </rdf:Description>
    </rdf:RDF>"""
    triples, _ = parse_rdfxml(doc, base_uri="", doc_key="t")
    assert triples[0][2] == ("literal", "", "en", None)


def test_quirk_type_attr_on_empty_property_is_plain_literal():
    # reader.rb:549 passes the raw string → RDF::Literal
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://example.org/">
      <rdf:Description rdf:about="http://a/">
        <ex:p rdf:type="http://t/" ex:n="v"/>
      </rdf:Description>
    </rdf:RDF>"""
    triples, errors = parse_rdfxml(doc, base_uri="", doc_key="t")
    assert not errors
    objs = {(t[1], t[2]) for t in triples}
    assert (RDF + "type", ("literal", "http://t/", None, None)) in objs


def test_canonicalize_option_off_by_default_and_correct():
    """Reference reader option `canonicalize: (false)` (reader.rb:128-129):
    valid core-XSD lexical forms → canonical form; invalid forms and
    unknown datatypes untouched; plain literals never touched."""
    xsd = "http://www.w3.org/2001/XMLSchema#"
    doc = f"""<rdf:RDF xmlns:rdf="{RDF}" xmlns:eg="http://e/">
      <rdf:Description rdf:about="http://a/">
        <eg:i rdf:datatype="{xsd}integer">+0010</eg:i>
        <eg:b rdf:datatype="{xsd}boolean">1</eg:b>
        <eg:d rdf:datatype="{xsd}decimal">02.50</eg:d>
        <eg:f rdf:datatype="{xsd}double">123.45</eg:f>
        <eg:bad rdf:datatype="{xsd}integer">abc</eg:bad>
        <eg:u rdf:datatype="http://other/dt">007</eg:u>
        <eg:plain>007</eg:plain>
      </rdf:Description></rdf:RDF>"""
    plain, _ = parse_rdfxml(doc, doc_key="d")
    assert sorted(o[1] for _, _, o in plain) == sorted(
        ["+0010", "1", "02.50", "123.45", "abc", "007", "007"])
    canon, _ = parse_rdfxml(doc, doc_key="d", canonicalize=True)
    got = {p.split("/")[-1]: o[1] for _, p, o in canon}
    assert got == {"i": "10", "b": "true", "d": "2.5", "f": "1.2345E2",
                   "bad": "abc", "u": "007", "plain": "007"}


def test_prefix_bookkeeping():
    """Reference prefix() callback surface (reader.rb:199,217): every
    namespace declaration in a document is collectable — without the
    grammar; a deep document yields them (and parses), and a malformed
    one yields none."""
    from rdf_rdfxml_spark.operators.extract import namespace_declarations
    doc = (f'<rdf:RDF xmlns:rdf="{RDF}" xmlns:a="http://a/">'
           f'<rdf:Description xmlns:b="http://b/" rdf:about="http://x/">'
           f'<b:p>v</b:p></rdf:Description></rdf:RDF>')
    assert namespace_declarations(doc) == {
        "rdf": RDF, "a": "http://a/", "b": "http://b/"}
    deep = (f'<rdf:RDF xmlns:rdf="{RDF}" xmlns:e="http://e/">'
            + '<e:x>' * 3000 + '</e:x>' * 3000 + '</rdf:RDF>')
    triples, errors = parse_rdfxml(deep, doc_key="d")
    assert errors == [] and len(triples) == 3000
    assert namespace_declarations(deep) == {"rdf": RDF, "e": "http://e/"}
    assert namespace_declarations('<a xmlns:p="http://p/"><b></a>') == {}
    later = '<a xmlns:p="http://1/"><b xmlns:p="http://2/"/><c/></a>'
    assert namespace_declarations(later) == {"p": "http://2/"}


def _deep_documents(k):
    """Documents about ``2k`` elements deep, one per production that
    nests, with the triple count each must give."""
    head = f'xmlns:rdf="{RDF}" xmlns:e="http://e/"'
    pairs = "<rdf:Description><e:p>" * k + "</e:p></rdf:Description>" * k
    return {
        # k - 1 resourcePropertyElt links + the innermost empty literal
        "resource_objects": (f"<rdf:RDF {head}>{pairs}</rdf:RDF>", k),
        "parse_type_resource": (
            f'<rdf:RDF {head}><rdf:Description rdf:about="http://a/">'
            + '<e:p rdf:parseType="Resource">' * (2 * k) + "</e:p>" * (2 * k)
            + "</rdf:Description></rdf:RDF>", 2 * k),
        # head, rdf:first and rdf:rest per level
        "collections": (
            f'<rdf:RDF {head}><rdf:Description rdf:about="http://a/">'
            + '<e:p rdf:parseType="Collection"><rdf:Description>' * k
            + "</rdf:Description></e:p>" * k
            + "</rdf:Description></rdf:RDF>", 3 * k),
        "xml_literal": (
            f'<rdf:RDF {head}><rdf:Description rdf:about="http://a/">'
            '<e:p rdf:parseType="Literal">' + "<e:x>" * (2 * k)
            + "</e:x>" * (2 * k) + "</e:p></rdf:Description></rdf:RDF>", 1),
        # root node element: replayed after the whole document is read
        "root_node": (f"<e:T {head}>" + "<e:p><e:T>" * k + "</e:T></e:p>" * k
                      + "</e:T>", 2 * k + 1),
        # a second element child drops the whole deep first one
        "rolled_back": (
            f'<rdf:RDF {head}><rdf:Description rdf:about="http://a/">'
            f"<e:p>{pairs}<rdf:Description/></e:p>"
            "</rdf:Description></rdf:RDF>", 0),
    }


@pytest.mark.parametrize("shape", sorted(_deep_documents(1)))
def test_deep_document_independent_of_recursion_limit(shape):
    """No function on the parse path recurses with document depth: a
    5,000-deep document parses to the same result under a recursion limit
    a few dozen frames above the caller's as under the default one."""
    import sys
    doc, n_triples = _deep_documents(2500)[shape]
    default = parse_rdfxml(doc, base_uri="http://b/", doc_key="d")
    frame, depth = sys._getframe(), 0
    while frame is not None:
        frame, depth = frame.f_back, depth + 1
    limit = sys.getrecursionlimit()
    sys.setrecursionlimit(depth + 50)
    try:
        lowered = parse_rdfxml(doc, base_uri="http://b/", doc_key="d")
    finally:
        sys.setrecursionlimit(limit)
    assert lowered == default
    assert default[1] == [] and len(default[0]) == n_triples


def _expected_triples(rows):
    return [((r[0], r[1]), r[2],
             ("literal", r[4], r[5], r[6]) if r[3] == "literal"
             else (r[3], r[4])) for r in rows]


def test_generator_corpora_parse_to_expected():
    """The benchmark generators' documents (every production they emit:
    typed nodes, property attributes, rdf:ID, nested nodes, rdf:nodeID,
    Collection, parseType Literal and Resource, reification, containers)
    parse to the triples the generator computed, up to blank-node
    relabeling; its malformed documents give errors and no triples."""
    from perfbench import gen
    corpora = []
    for seed in (3, 4):
        docs, expected = gen.ontology_large(seed, 4, 50, 1_500)
        corpora += [(docs, expected, set()), gen.crawl_small(seed, 400)]
    n_malformed = 0
    for docs, expected, malformed in corpora:
        for i, doc in enumerate(docs):
            triples, errors = parse_rdfxml(doc["content"], doc_key=str(i))
            if i in malformed:
                n_malformed += 1
                assert errors and triples == [], doc["content"]
                continue
            assert errors == [], (errors, doc["content"])
            assert isomorphic(list(dict.fromkeys(triples)),
                              _expected_triples(expected[i])), doc["content"]
    assert n_malformed > 20
