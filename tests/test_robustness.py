"""Robustness: the parser must never raise on arbitrary input (per-document
error isolation is the task-safety contract), and oversized documents hit
the fail-soft cap with lineage preserved."""
import string

import pytest
from hypothesis import given, settings, strategies as st

from rdf_rdfxml_spark.functions.xmldom import XMLParseError, parse_document
from rdf_rdfxml_spark.parser.grammar import parse_rdfxml

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

_garbage = st.text(
    alphabet=string.printable + "<>&\"'é中", max_size=400)

_tagged = st.builds(
    lambda pre, tag, attrs, body, post:
        f"{pre}<{tag}{attrs}>{body}</{tag}>{post}",
    st.sampled_from(["", '<?xml version="1.0"?>']),
    st.sampled_from(["rdf:RDF", "x", "rdf:Description", "a:b"]),
    st.sampled_from(["", f' xmlns:rdf="{RDF}"', ' rdf:about="x"',
                     ' xmlns:rdf="a" rdf:ID="3bad"']),
    _garbage,
    st.sampled_from(["", "<unclosed", "]]>", "&undefined;"]),
)


@settings(max_examples=300, deadline=None)
@given(st.one_of(_garbage, _tagged))
def test_parser_never_raises(doc):
    triples, errors = parse_rdfxml(doc, base_uri="http://b/", doc_key="f",
                                   strict=True)
    assert isinstance(triples, list) and isinstance(errors, list)
    if errors:
        assert triples == []


def test_oversized_document_fail_soft(spark):
    from rdf_rdfxml_spark.operators.extract import extract, errors_channel
    big = ('<rdf:RDF xmlns:rdf="%s" xmlns:e="http://e/">'
           '<rdf:Description rdf:about="http://a/"><e:p>%s</e:p>'
           '</rdf:Description></rdf:RDF>') % (RDF, "x" * 10_000)
    docs = spark.createDataFrame([{"content": big, "base_uri": ""}])
    out = extract(docs, max_content_bytes=1024)
    errs = errors_channel(out).collect()
    assert len(errs) == 1 and "too large" in errs[0]["error"]
    assert len(errs[0]["doc_sha"]) == 64  # lineage survives the cap
    # uncapped: parses fine
    assert extract(docs).filter("rec = 'triple'").count() == 1


def test_deep_document_does_not_kill_the_job(spark):
    """A 1.4 MB document of 30,000 nested node/property element pairs is
    parsed like any other: the job succeeds and keeps the good document's
    triples next to the deep one's. A recursive walk over such a document
    overflows the worker's C stack and kills the Python worker, and with
    it the whole job."""
    from rdf_rdfxml_spark.plans.pipeline import construct_graph
    n = 30_000
    deep = (f'<rdf:RDF xmlns:rdf="{RDF}" xmlns:e="http://e/">'
            + "<rdf:Description><e:p>" * n + "</e:p></rdf:Description>" * n
            + "</rdf:RDF>")
    good = (f'<rdf:RDF xmlns:rdf="{RDF}" xmlns:e="http://e/">'
            '<rdf:Description rdf:about="http://a/"><e:p>v</e:p>'
            '</rdf:Description></rdf:RDF>')
    docs = spark.createDataFrame([{"content": deep}, {"content": good}])
    graph = construct_graph(docs)
    per_doc = {r["doc_sha"]: r["count"] for r in
               graph.triples.groupBy("doc_sha").count().collect()}
    assert sorted(per_doc.values()) == [1, n]
    assert graph.errors.count() == 0


_charset_bytes = st.builds(
    lambda decl, body: decl + body,
    st.sampled_from([
        b"", b'<?xml version="1.0"?>',
        b'<?xml version="1.0" encoding="ISO-8859-1"?>',
        b'<?xml version="1.0" encoding="shift_jis"?>',
        b'<?xml version="1.0" encoding="UTF-16"?>',
        b'<?xml version="1.0" encoding="bogus-charset"?>',
        b"\xef\xbb\xbf<?xml version=\"1.0\"?>",   # UTF-8 BOM
        b"\xff\xfe", b"\xfe\xff",                 # bare UTF-16 BOMs
    ]),
    st.binary(max_size=300))


@given(_charset_bytes)
@settings(max_examples=150, deadline=None)
def test_parser_never_raises_on_arbitrary_bytes(data):
    """The charset fallback path (decl sniff → codec decode → retry) must
    uphold the same never-raise contract as the text path: hostile byte
    blobs with lying/bogus/missing encoding declarations become error rows,
    never exceptions."""
    triples, errors = parse_rdfxml(data, doc_key="fz", strict=True)
    assert isinstance(triples, list) and isinstance(errors, list)
    assert triples or errors or data.strip() == b""  # something observable


def test_billion_laughs_hits_amplification_limit():
    """Exponential entity expansion must land in the error channel fast
    and bounded (expat's built-in amplification limit), never OOM a
    worker — the poison-document contract under adversarial input."""
    import time
    ents = ['<!ENTITY a "haha">'] + [
        f'<!ENTITY {cur} "{"&%s;" % prev * 10}">'
        for prev, cur in zip("abcdefghi", "bcdefghij")]
    bomb = ('<?xml version="1.0"?>\n<!DOCTYPE r [\n' + "\n".join(ents)
            + f']>\n<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://e/">'
            '<rdf:Description rdf:about="http://a/"><ex:p>&j;</ex:p>'
            '</rdf:Description></rdf:RDF>')
    t0 = time.time()
    triples, errors = parse_rdfxml(bomb, doc_key="bomb", strict=True)
    assert time.time() - t0 < 10
    assert triples == []
    assert errors and "amplification" in errors[0]


def test_external_entities_never_fetched():
    """XXE: SYSTEM entities must not be resolved (no file/network reads
    from inside the parse worker); content substitutes as empty."""
    xxe = ('<?xml version="1.0"?>\n'
           '<!DOCTYPE r [<!ENTITY x SYSTEM "file:///etc/passwd">]>\n'
           f'<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://e/">'
           '<rdf:Description rdf:about="http://a/"><ex:p>&x;</ex:p>'
           '</rdf:Description></rdf:RDF>')
    triples, errors = parse_rdfxml(xxe, doc_key="xxe", strict=True)
    values = [o[1] for _s, _p, o in triples]
    assert not any("root:" in v for v in values)
    assert values in ([""], [])  # substituted empty or rejected, never read


@pytest.mark.parametrize("doc", [
    pytest.param("<a><b></a>", id="tag-mismatch"),
    pytest.param("<a", id="truncated"),
    pytest.param("<a/><b/>", id="multiple-roots"),
    pytest.param("<a x='1' x='2'/>", id="duplicate-attribute"),
    pytest.param("<a xmlns:p='u' p:x='1' p:x='2'/>",
                 id="duplicate-expanded-attribute"),
    pytest.param("<p:a/>", id="undeclared-prefix"),
    pytest.param("<a>]]></a>", id="cdata-close-in-content"),
    pytest.param("<a>&undef;</a>", id="undefined-entity"),
    pytest.param("<a>\x01</a>", id="invalid-char"),
    pytest.param("<a><!-- -- --></a>", id="double-hyphen-in-comment"),
    pytest.param("<a y=<1/>", id="lt-in-attribute"),
    pytest.param("junk<a/>", id="junk-in-prolog"),
    pytest.param("<a/>trailing", id="junk-in-epilog"),
    pytest.param("<1bad/>", id="bad-name-start"),
])
def test_malformed_xml_raises(doc):
    """Well-formedness violations are typed XMLParseErrors (the error
    channel's input), never a lax tree."""
    with pytest.raises(XMLParseError):
        parse_document(doc)


def test_deep_nesting_iterative():
    """A 5000-deep document builds its tree without RecursionError:
    expat's callbacks keep an explicit element stack."""
    root = parse_document("<r>" + "<a>" * 5000 + "</a>" * 5000 + "</r>")
    depth, el = 0, root
    while el.children:
        (el,) = el.children
        depth += 1
    assert depth == 5000


def test_internal_entities_expand():
    """Internal DTD entities expand in place; one holding balanced markup
    expands structurally; one holding unbalanced markup is malformed."""
    el = parse_document('<!DOCTYPE r [<!ENTITY who "world">]>'
                        '<r>hello &who;</r>')
    assert el.children[0].value == "hello world"
    el = parse_document('<!DOCTYPE r [<!ENTITY m "<b>x</b>y">]><r>&m;</r>')
    assert [c.is_element for c in el.children] == [True, False]
    with pytest.raises(XMLParseError):
        parse_document('<!DOCTYPE r [<!ENTITY m "<b>">]><r>&m;</r>')


# --- codec fuzzing -----------------------------------------------------------

@settings(max_examples=300, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_decode_image_typed_errors_on_arbitrary_bytes(data):
    """decode_image's typed-error contract: any byte string either
    decodes, raises DecodeError (recognized-but-malformed), or raises
    NotImplementedError (unknown format) — never anything else."""
    from rdf_rdfxml_spark.operators.multimodal import (
        DecodeError, decode_image,
    )
    try:
        img = decode_image(data)
        assert img.ndim == 3 and img.shape[2] == 3
    except (DecodeError, NotImplementedError):
        pass


@settings(max_examples=120, deadline=None)
@given(st.data())
def test_decode_image_typed_errors_on_corrupted_valid_payloads(data):
    """Bit-flipped/truncated VALID payloads of every supported format
    stay inside the typed-error contract."""
    import numpy as np
    from rdf_rdfxml_spark.operators.jpeg import encode_jpeg
    from rdf_rdfxml_spark.operators.multimodal import (
        DecodeError, decode_image, encode_gif, encode_png, encode_ppm,
    )
    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, size=(6, 7, 3), dtype=np.uint8)
    payloads = [encode_ppm(img), encode_png(img), encode_gif(img),
                encode_jpeg(img)]
    payload = bytearray(data.draw(st.sampled_from(payloads)))
    mode = data.draw(st.sampled_from(["flip", "truncate", "insert"]))
    if mode == "flip":
        i = data.draw(st.integers(0, len(payload) - 1))
        payload[i] ^= data.draw(st.integers(1, 255))
    elif mode == "truncate":
        payload = payload[:data.draw(st.integers(0, len(payload) - 1))]
    else:
        i = data.draw(st.integers(0, len(payload)))
        payload[i:i] = bytes([data.draw(st.integers(0, 255))])
    try:
        decode_image(bytes(payload))
    except (DecodeError, NotImplementedError):
        pass


@settings(max_examples=200, deadline=None)
@given(st.data())
def test_decode_wav_typed_errors(data):
    """WAV typed-error contract: arbitrary bytes and corrupted valid
    payloads (all four codecs) decode or raise DecodeError only."""
    import numpy as np
    from rdf_rdfxml_spark.operators.multimodal import (
        DecodeError, _decode_wav_checked, encode_wav,
        encode_wav_compressed,
    )
    rng = np.random.default_rng(23)
    s = rng.integers(-20000, 20000, size=300).astype(np.int16)
    valid = [encode_wav(s.reshape(-1, 1), 8000)] + [
        encode_wav_compressed(s.reshape(-1, 1), 8000, c)
        for c in ("mulaw", "alaw", "adpcm")]
    if data.draw(st.booleans()):
        payload = bytearray(data.draw(st.sampled_from(valid)))
        mode = data.draw(st.sampled_from(["flip", "truncate"]))
        if mode == "flip":
            i = data.draw(st.integers(0, len(payload) - 1))
            payload[i] ^= data.draw(st.integers(1, 255))
        else:
            payload = payload[:data.draw(st.integers(0, len(payload) - 1))]
        payload = bytes(payload)
    else:
        payload = data.draw(st.binary(max_size=200))
    try:
        samples, rate = _decode_wav_checked(payload)
        assert samples.ndim == 2 and rate >= 0
    except DecodeError:
        pass
