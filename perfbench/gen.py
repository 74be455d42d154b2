"""Seeded input generator for the benchmark's workloads.

The generator owns its templates and computes each document's expected
triples itself, so no change to the program under test can change the
workload. Everything is a pure function of the seed (``random.Random``).

Expected triples are rows ``(s_kind, s, p, o_kind, o, o_lang, o_dt)`` —
the column order of the program's triple table — with blank nodes given
local labels (``g0``, ``g1``, ...). Output is compared up to blank-node
relabeling (``check.py``).
"""

from __future__ import annotations

import hashlib
import math
import random
from itertools import accumulate

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"
TYPE = RDF + "type"
XMLLIT = RDF + "XMLLiteral"
RDFS_CLASS = "http://www.w3.org/2000/01/rdf-schema#Class"
BASE = "http://bench.example.org/doc/"
DATATYPES = [XSD + "integer", XSD + "decimal", XSD + "date", XSD + "boolean"]
LANGS = ["en", "en-US", "de", "fr-CA", "ja"]
WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda "
         "mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega").split()


def _lex(dt: str, rng: random.Random) -> str:
    if dt.endswith("integer"):
        return str(rng.randint(-10**6, 10**6))
    if dt.endswith("decimal"):
        return f"{rng.randint(0, 9999)}.{rng.randint(0, 99):02d}"
    if dt.endswith("date"):
        return f"20{rng.randint(10, 29)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    return rng.choice(["true", "false"])


def _text(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _row(s: tuple, p: str, o: tuple) -> tuple:
    """Expected-triple row from (kind, value) subject and object terms;
    literal objects are (kind, value, lang, datatype)."""
    return (s[0], s[1], p, o[0], o[1], o[2] if len(o) > 2 else None,
            o[3] if len(o) > 3 else None)


def _esc(v: str) -> str:
    return v.replace("&", "&amp;").replace("<", "&lt;").replace('"', "&quot;")


class Vocab:
    """Predicate/class names over a set of namespaces.

    ``pick()`` draws a (namespace index, local name) pair: uniformly from a
    small vocabulary, or Zipf-distributed (exponent ``zipf_s``) over ``size``
    names, so a few hot names dominate and a long tail stays cold.
    """

    def __init__(self, rng: random.Random, n_ns: int, size: int,
                 zipf_s: float | None = None):
        self.rng = rng
        self.ns = [f"http://vocab{k}.example.org/terms#" for k in range(n_ns)]
        self.size = size
        self.cum = (list(accumulate(1.0 / (i + 1) ** zipf_s for i in range(size)))
                    if zipf_s else None)

    def pick(self):
        if self.cum is None:
            i = self.rng.randrange(self.size)
        else:
            i = self.rng.choices(range(self.size), cum_weights=self.cum)[0]
        return i % len(self.ns), f"p{i}"


class DocBuilder:
    """Accumulates the XML body and the expected triples of one document."""

    def __init__(self, rng: random.Random, vocab: Vocab, doc_no: int,
                 prefixes: list[str]):
        self.rng, self.vocab, self.doc_no = rng, vocab, doc_no
        self.prefixes = prefixes
        self.used_ns: set[int] = set()
        self.parts: list[str] = []
        self.rows: list[tuple] = []
        self.n_bnodes = 0
        self.n_ids = 0

    # -- terms ---------------------------------------------------------
    def qname(self, cls: bool = False):
        k, local = self.vocab.pick()
        if cls:
            local = "C" + local[1:]
        self.used_ns.add(k)
        return f"{self.prefixes[k]}:{local}", self.vocab.ns[k] + local

    def subject(self):
        """Fresh subject written three ways: absolute, relative to
        xml:base, and a same-document fragment. Every form names its
        document, so output without provenance can be split by document
        (``check.doc_of``)."""
        n = self.rng.randrange(10**6)
        form = self.rng.randrange(3)
        if form == 0:
            iri = f"http://data.example.org/r/{self.doc_no}/{n}"
            return iri, iri
        if form == 1:
            return f"rel/{self.doc_no}/{n}", f"{BASE}rel/{self.doc_no}/{n}"
        return f"#s{n}", f"{BASE}{self.doc_no}#s{n}"

    def bnode(self) -> str:
        self.n_bnodes += 1
        return f"g{self.n_bnodes - 1}"

    def literal(self):
        """Returns (attribute text for the property element, element text,
        expected object columns)."""
        r = self.rng.random()
        if r < 0.55:
            v = _text(self.rng, self.rng.randint(1, 4))
            return "", _esc(v), ("literal", v, None, None)
        if r < 0.8:
            lang = self.rng.choice(LANGS)
            v = _text(self.rng, 2)
            return (f' xml:lang="{lang}"', _esc(v),
                    ("literal", v, lang.lower(), None))
        dt = self.rng.choice(DATATYPES)
        v = _lex(dt, self.rng)
        return f' rdf:datatype="{dt}"', v, ("literal", v, None, dt)

    def add(self, s: tuple, p: str, o: tuple):
        self.rows.append(_row(s, p, o))

    # -- statement blocks (one per grammar production shape) -------------
    def props(self, s: tuple, n: int) -> str:
        """n property elements with literal or resource objects."""
        out = []
        for _ in range(n):
            pq, piri = self.qname()
            if self.rng.random() < 0.3:
                _, oiri = self.subject()
                out.append(f'<{pq} rdf:resource="{oiri}"/>')
                self.add(s, piri, ("iri", oiri))
            else:
                attr, text, o = self.literal()
                out.append(f"<{pq}{attr}>{text}</{pq}>")
                self.add(s, piri, o)
        return "".join(out)

    def b_typed(self, n: int):
        raw, iri = self.subject()
        cq, ciri = self.qname(cls=True)
        s = ("iri", iri)
        self.add(s, TYPE, ("iri", ciri))
        self.parts.append(f'<{cq} rdf:about="{raw}">{self.props(s, n)}</{cq}>')
        return 1 + n

    def b_description(self, n: int):
        raw, iri = self.subject()
        s = ("iri", iri)
        self.parts.append(
            f'<rdf:Description rdf:about="{raw}">{self.props(s, n)}'
            f'</rdf:Description>')
        return n

    def b_property_attrs(self, n: int):
        raw, iri = self.subject()
        s = ("iri", iri)
        attrs = {}
        for _ in range(n):
            pq, piri = self.qname()
            if pq in attrs:
                continue
            v = _text(self.rng, 2)
            attrs[pq] = v
            self.add(s, piri, ("literal", v, None, None))
        body = " ".join(f'{q}="{_esc(v)}"' for q, v in attrs.items())
        self.parts.append(f'<rdf:Description rdf:about="{raw}" {body}/>')
        return len(attrs)

    def b_rdf_id(self, n: int):
        self.n_ids += 1
        name = f"n{self.n_ids}"
        s = ("iri", f"{BASE}{self.doc_no}#{name}")
        self.parts.append(f'<rdf:Description rdf:ID="{name}">'
                          f'{self.props(s, n)}</rdf:Description>')
        return n

    def b_nested(self, depth: int):
        """Blank nodes nested as node elements (depth levels)."""
        raw, iri = self.subject()
        s = ("iri", iri)
        open_, close = [], []
        for d in range(depth):
            pq, piri = self.qname()
            b = ("bnode", self.bnode())
            self.add(s, piri, b)
            if d % 2:
                open_.append(f'<{pq} rdf:parseType="Resource">')
                close.append(f"</{pq}>")
            else:
                open_.append(f"<{pq}><rdf:Description>")
                close.append(f"</rdf:Description></{pq}>")
            s = b
        leaf = self.props(s, 1)
        self.parts.append(f'<rdf:Description rdf:about="{raw}">'
                          + "".join(open_) + leaf + "".join(reversed(close))
                          + "</rdf:Description>")
        return depth + 1

    def b_node_id(self, refs: int):
        """A labelled blank node referenced ``refs`` times."""
        label = f"x{self.bnode()}"
        b = ("bnode", label)
        out = [f'<rdf:Description rdf:nodeID="{label}">{self.props(b, 1)}'
               f'</rdf:Description>']
        for _ in range(refs):
            raw, iri = self.subject()
            pq, piri = self.qname()
            self.add(("iri", iri), piri, b)
            out.append(f'<rdf:Description rdf:about="{raw}">'
                       f'<{pq} rdf:nodeID="{label}"/></rdf:Description>')
        self.parts.append("".join(out))
        return 1 + refs

    def b_collection(self, n: int):
        raw, iri = self.subject()
        pq, piri = self.qname()
        items, cells = [], [("bnode", self.bnode()) for _ in range(n)]
        self.add(("iri", iri), piri, cells[0])
        for i, cell in enumerate(cells):
            _, item = self.subject()
            items.append(f'<rdf:Description rdf:about="{item}"/>')
            self.add(cell, RDF + "first", ("iri", item))
            self.add(cell, RDF + "rest",
                     cells[i + 1] if i + 1 < n else ("iri", RDF + "nil"))
        self.parts.append(f'<rdf:Description rdf:about="{raw}">'
                          f'<{pq} rdf:parseType="Collection">{"".join(items)}'
                          f'</{pq}></rdf:Description>')
        return 1 + 2 * n

    def b_xml_literal(self):
        raw, iri = self.subject()
        pq, piri = self.qname()
        w = self.rng.choice(WORDS)
        v = f"<b>{w} &amp; <i>{self.rng.choice(WORDS)}</i></b>"
        self.add(("iri", iri), piri, ("literal", v, None, XMLLIT))
        self.parts.append(f'<rdf:Description rdf:about="{raw}">'
                          f'<{pq} rdf:parseType="Literal">{v}</{pq}>'
                          f'</rdf:Description>')
        return 1

    def b_reified(self):
        raw, iri = self.subject()
        pq, piri = self.qname()
        self.n_ids += 1
        st = f"{BASE}{self.doc_no}#st{self.n_ids}"
        attr, text, o = self.literal()
        s = ("iri", iri)
        self.add(s, piri, o)
        self.add(("iri", st), RDF + "subject", s)
        self.add(("iri", st), RDF + "predicate", ("iri", piri))
        self.add(("iri", st), RDF + "object", o)
        self.add(("iri", st), TYPE, ("iri", RDF + "Statement"))
        self.parts.append(f'<rdf:Description rdf:about="{raw}">'
                          f'<{pq} rdf:ID="st{self.n_ids}"{attr}>{text}</{pq}>'
                          f'</rdf:Description>')
        return 5

    def b_container(self, n: int):
        raw, iri = self.subject()
        s = ("iri", iri)
        self.add(s, TYPE, ("iri", RDF + "Bag"))
        lis = []
        for i in range(n):
            attr, text, o = self.literal()
            lis.append(f"<rdf:li{attr}>{text}</rdf:li>")
            self.add(s, f"{RDF}_{i + 1}", o)
        self.parts.append(f'<rdf:Bag rdf:about="{raw}">{"".join(lis)}</rdf:Bag>')
        return 1 + n

    def b_shared_class(self, hot: int = 1000):
        """A statement about one of ``hot`` vocabulary classes, identical in
        every document that makes it: the corpus graph holds it once."""
        i = self.rng.randrange(hot)
        ciri = f"{self.vocab.ns[i % len(self.vocab.ns)]}C{i}"
        self.add(("iri", ciri), TYPE, ("iri", RDFS_CLASS))
        self.parts.append(f'<rdf:Description rdf:about="{ciri}">'
                          f'<rdf:type rdf:resource="{RDFS_CLASS}"/>'
                          f'</rdf:Description>')
        return 1

    def b_repeated(self):
        """One statement written twice; the graph holds it once."""
        raw, iri = self.subject()
        pq, piri = self.qname()
        attr, text, o = self.literal()
        self.add(("iri", iri), piri, o)
        el = f"<{pq}{attr}>{text}</{pq}>"
        self.parts.append(f'<rdf:Description rdf:about="{raw}">{el}{el}'
                          f'</rdf:Description>')
        return 1

    def render(self) -> str:
        decls = "".join(f' xmlns:{self.prefixes[k]}="{self.vocab.ns[k]}"'
                        for k in sorted(self.used_ns))
        return ('<?xml version="1.0"?>\n'
                f'<rdf:RDF xmlns:rdf="{RDF}"{decls} '
                f'xml:base="{BASE}{self.doc_no}">'
                + "\n".join(self.parts) + "</rdf:RDF>\n")


def _crawl_block(b: DocBuilder, budget: int) -> int:
    r = b.rng
    choices = [
        (1, lambda: b.b_typed(r.randint(0, min(2, budget - 1)))),
        (1, lambda: b.b_description(r.randint(1, min(3, budget)))),
        (1, lambda: b.b_property_attrs(r.randint(1, min(3, budget)))),
        (1, lambda: b.b_rdf_id(r.randint(1, min(2, budget)))),
        (2, lambda: b.b_nested(1)),
        (3, lambda: b.b_nested(2)),
        (2, lambda: b.b_node_id(1)),
        (3, lambda: b.b_node_id(2)),
        (3, lambda: b.b_collection(1)),
        (5, lambda: b.b_collection(2)),
        (1, b.b_xml_literal),
        (5, b.b_reified),
        (2, lambda: b.b_container(1)),
        (1, b.b_repeated),
    ]
    fits = [f for need, f in choices if need <= budget]
    return r.choice(fits)()


#: Malformed document shapes: (kind, body). Each one makes the parser
#: emit at least one error row and, in strict mode, no triples.
MALFORMED = (
    ("truncated", None),
    ("about_and_node_id",
     '<rdf:Description rdf:about="http://data.example.org/x" '
     'rdf:nodeID="n1"><{p}>v</{p}></rdf:Description>'),
    ("bad_rdf_id", '<rdf:Description rdf:ID="9bad"><{p}>v</{p}></rdf:Description>'),
    ("li_as_node", '<rdf:li rdf:about="http://data.example.org/y"/>'),
    ("resource_and_node_id",
     '<rdf:Description rdf:about="http://data.example.org/z">'
     '<{p} rdf:resource="http://data.example.org/o" rdf:nodeID="n2"/>'
     '</rdf:Description>'),
)


def _doc_row(i: int, content: str) -> dict:
    return {"repo": f"bench/repo{i % 97}", "path": f"data/{i}.rdf",
            "commit": hashlib.sha1(str(i).encode()).hexdigest(),
            "lang": "RDF/XML", "content": content}


#: Share of crawl_small documents that are malformed or break the grammar.
MALFORMED_SHARE = 0.05
#: Names in ontology_large's vocabulary: more than the parser's
#: 65,536-entry name memos.
ONTOLOGY_VOCAB = 100_000


def crawl_small(seed: int, n_docs: int, variant: int = 0):
    """Small documents of 1-6 triples each, every production shape.

    Returns ``(rows, expected, malformed)``: document rows, expected triple
    rows per document index, and the set of malformed document indexes.
    Variants of one seed bind other namespace prefixes and so differ in
    content, but have the same triples, errors and sizes.
    """
    rng = random.Random(f"crawl_small:{seed}")
    vocab = Vocab(rng, n_ns=12, size=400)
    prefixes = [f"v{variant}n{k}" for k in range(12)]
    rows, expected, malformed = [], {}, set()
    for i in range(n_docs):
        b = DocBuilder(rng, vocab, i, prefixes)
        target = rng.randint(1, 6)
        n = 0
        while n < target:
            n += _crawl_block(b, target - n)
        if rng.random() < MALFORMED_SHARE:
            kind, body = rng.choice(MALFORMED)
            if body is not None:
                pq, _ = b.qname()
                b.parts.insert(rng.randrange(len(b.parts) + 1),
                               body.replace("{p}", pq))
            content = b.render()
            cut = rng.uniform(0.2, 0.9)  # drawn always: variants stay in step
            if kind == "truncated":
                content = content[: max(60, int(len(content) * cut))]
            malformed.add(i)
        else:
            content = b.render()
            expected[i] = list(dict.fromkeys(b.rows))
        rows.append(_doc_row(i, content))
    return rows, expected, malformed


def _log_uniform(rng: random.Random, lo: int, hi: int) -> int:
    return int(math.exp(rng.uniform(math.log(lo), math.log(hi))))


def _log_uniform_quantiles(rng: random.Random, n: int, lo: int,
                           hi: int) -> list[int]:
    """n sizes at the log-uniform quantiles (i + 0.5) / n, in seeded order:
    every seed has the same total and the same largest document."""
    sizes = [int(lo * (hi / lo) ** ((i + 0.5) / n)) for i in range(n)]
    rng.shuffle(sizes)
    return sizes


def ontology_large(seed: int, n_docs: int, lo: int, hi: int,
                   variant: int = 0):
    """Large documents of ``lo``..``hi`` triples (log-uniform sizes, at
    fixed quantiles so the total work does not depend on the seed).

    The vocabulary is Zipf-distributed over ``ONTOLOGY_VOCAB`` names, and
    every document binds its own prefixes, so the expat names the parser
    memoizes rarely repeat across documents. ``rdf:type`` is the hottest
    predicate. Variants differ only in those prefixes.
    """
    rng = random.Random(f"ontology_large:{seed}")
    vocab = Vocab(rng, n_ns=40, size=ONTOLOGY_VOCAB, zipf_s=1.05)
    rows, expected = [], {}
    for i, target in enumerate(_log_uniform_quantiles(rng, n_docs, lo, hi)):
        prefixes = [f"o{variant}x{i}n{k}" for k in range(40)]
        b = DocBuilder(rng, vocab, i, prefixes)
        n = 0
        while n < target:
            r = rng.random()
            if r < 0.45:
                n += b.b_typed(rng.randint(2, 8))
            elif r < 0.6:
                n += b.b_description(rng.randint(2, 6))
            elif r < 0.7:
                n += b.b_nested(rng.randint(1, 4))
            elif r < 0.78:
                n += b.b_collection(rng.randint(1, 6))
            elif r < 0.84:
                n += b.b_reified()
            elif r < 0.9:
                n += b.b_node_id(rng.randint(2, 3))
            elif r < 0.95:
                n += b.b_repeated()
            elif r < 0.98:
                n += b.b_container(rng.randint(1, 5))
            else:
                n += b.b_xml_literal()
            if rng.random() < 0.5:
                n += b.b_shared_class()
        expected[i] = list(dict.fromkeys(b.rows))
        rows.append(_doc_row(i, b.render()))
    return rows, expected


class GroupBuilder:
    """Triples of one export group, generated directly as table rows.

    Blank-node ids follow the program's ``b:<hex>:<n>`` form, scoped to
    the group.
    """

    def __init__(self, rng: random.Random, key: str, n_ns: int):
        self.rng, self.key, self.n_ns = rng, key, n_ns
        self.rows: list[tuple] = []
        self.nb = 0

    def bnode(self):
        self.nb += 1
        return ("bnode", f"b:{self.key}:{self.nb - 1}")

    def pred(self) -> str:
        k = self.rng.randrange(self.n_ns)
        return f"http://ns{k}.example.com/vocab#prop{self.rng.randrange(50)}"

    def iri(self):
        return ("iri", f"http://export.example.com/{self.key[:8]}/"
                       f"e{self.rng.randrange(10**6)}")

    def obj(self):
        r = self.rng.random()
        if r < 0.35:
            return ("literal", _text(self.rng, self.rng.randint(1, 5)),
                    None, None)
        if r < 0.55:
            return ("literal", _text(self.rng, 2),
                    self.rng.choice(LANGS).lower(), None)
        if r < 0.75:
            dt = self.rng.choice(DATATYPES)
            return ("literal", _lex(dt, self.rng), None, dt)
        if r < 0.8:
            return ("literal",
                    f"<em>{self.rng.choice(WORDS)}</em> text", None, XMLLIT)
        return self.iri()

    def add(self, s, p, o):
        self.rows.append(_row(s, p, o))

    def entity(self):
        s = self.iri()
        k = self.rng.randrange(self.n_ns)
        self.add(s, TYPE, ("iri", f"http://ns{k}.example.com/vocab#"
                                  f"Class{self.rng.randrange(20)}"))
        for _ in range(self.rng.randint(1, 5)):
            self.add(s, self.pred(), self.obj())
        r = self.rng.random()
        if r < 0.3:   # bnode referenced once, nested one level deeper
            b = self.bnode()
            self.add(s, self.pred(), b)
            inner = self.bnode()
            self.add(b, self.pred(), self.obj())
            self.add(b, self.pred(), inner)
            self.add(inner, self.pred(), self.obj())
        elif r < 0.5:  # bnode referenced twice -> rdf:nodeID
            b = self.bnode()
            self.add(s, self.pred(), b)
            self.add(self.iri(), self.pred(), b)
            self.add(b, self.pred(), self.obj())
        elif r < 0.7:  # rdf:first/rest list
            cells = [self.bnode() for _ in range(self.rng.randint(1, 4))]
            self.add(s, self.pred(), cells[0])
            for i, c in enumerate(cells):
                self.add(c, RDF + "first", self.iri())
                self.add(c, RDF + "rest", cells[i + 1] if i + 1 < len(cells)
                         else ("iri", RDF + "nil"))


def export_rdfxml(seed: int, n_groups: int):
    """A stored triple table grouped by ``doc_sha``, 5..200 triples per
    group (log-uniform). Returns the list of groups as
    ``(doc_sha, rows)``; rows use the expected-triple column order."""
    rng = random.Random(f"export_rdfxml:{seed}")
    groups = []
    for g in range(n_groups):
        key = hashlib.sha256(f"{seed}:{g}".encode()).hexdigest()
        gb = GroupBuilder(rng, key, n_ns=rng.randint(3, 30))
        target = _log_uniform(rng, 5, 200)
        while len(gb.rows) < target:
            gb.entity()
        groups.append((key, list(dict.fromkeys(gb.rows))))
    return groups
