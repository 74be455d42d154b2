"""Charset handling (G16) — reference honours the document's declared
encoding (reader/nokogiri.rb:236-241); expat covers UTF-8/UTF-16/Latin-1
natively, pyexpat's codec bridge covers other single-byte charsets, and
xmldom falls back to a Python-codec decode for multi-byte charsets."""

from __future__ import annotations

import pytest

from rdf_rdfxml_spark.functions.xmldom import XMLParseError, parse_document
from rdf_rdfxml_spark.parser.grammar import parse_rdfxml

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

DOC = ('<?xml version="1.0" encoding="{enc}"?>\n'
       f'<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://e/">'
       '<rdf:Description rdf:about="http://a/">'
       '<ex:p>{text}</ex:p></rdf:Description></rdf:RDF>')


def _one_literal(data):
    triples, errors = parse_rdfxml(data, doc_key="d")
    assert errors == []
    (_s, _p, o), = triples
    return o[1]


@pytest.mark.parametrize("enc,text", [
    ("ISO-8859-1", "café naïve"),
    ("windows-1252", "curly ’ quote"),
    ("shift_jis", "日本語"),
    ("UTF-16", "café"),
    ("UTF-8", "café 日本"),
])
def test_declared_encoding_bytes_roundtrip(enc, text):
    data = DOC.format(enc=enc, text=text).encode(enc)
    assert _one_literal(data) == text


@pytest.mark.parametrize("codec", [
    "utf-16-le",   # no BOM, no decl: detected from the leading '<'
    "utf-16",      # the codec writes a BOM
])
def test_undeclared_encoding_bytes_roundtrip(codec):
    data = DOC.replace(' encoding="{enc}"', "").format(
        text="café 世").encode(codec)
    assert _one_literal(data) == "café 世"


def test_str_input_with_stale_decl_is_not_reinterpreted():
    # Already-decoded text carrying an old ISO-8859-1 decl: the decl must
    # not make expat mis-decode our UTF-8 re-encoding (mojibake guard).
    s = DOC.format(enc="ISO-8859-1", text="café")
    assert _one_literal(s) == "café"


def test_utf8_bom_bytes():
    data = b"\xef\xbb\xbf" + DOC.format(enc="UTF-8", text="x").encode()
    assert _one_literal(data) == "x"


def test_unknown_encoding_goes_to_error_channel():
    data = DOC.format(enc="nosuch-enc", text="x").encode("ascii")
    with pytest.raises(XMLParseError):
        parse_document(data)
    triples, errors = parse_rdfxml(data, doc_key="d")
    assert triples == [] and len(errors) == 1


def test_multibyte_malformed_still_fails_soft():
    data = ('<?xml version="1.0" encoding="shift_jis"?><r>x</r'
            .encode("shift_jis"))
    triples, errors = parse_rdfxml(data, doc_key="d")
    assert triples == [] and len(errors) == 1
