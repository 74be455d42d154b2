"""The Arrow column builder (functions/arrowcols.py): equal to
``pa.array``, splits a flush past the 32-bit offset limit, keeps Python
workers free of pandas, and is the only way the package builds Arrow
arrays from Python values. No Spark."""
import ast
import json
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
from hypothesis import given, settings, strategies as st

from rdf_rdfxml_spark.functions import arrowcols
from rdf_rdfxml_spark.operators import extract

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "rdf_rdfxml_spark"

# ASCII, Latin, CJK and astral (4-byte UTF-8) characters, and "" via size 0
_text = st.text(alphabet=st.sampled_from("ab <&\n\t\x7fé德😀𝄞"), max_size=12)
_strings = st.lists(st.one_of(st.none(), _text), max_size=40)


def _same(built: pa.Array, values: list, typ: pa.DataType) -> None:
    built.validate(full=True)
    assert built.type == typ
    assert built.equals(pa.array(values, type=typ)), (built, values)


@settings(max_examples=300, deadline=None)
@given(_strings)
def test_strings_equal_pa_array(values):
    _same(arrowcols.strings(values), values, pa.string())


def test_strings_edge_lists():
    for values in ([], [None], [None] * 5, [""], ["", None], ["a", "", None],
                   ["𝄞"], ["\x00", "x\x00y"], ["é", None, ""]):
        _same(arrowcols.strings(values), values, pa.string())


def _ints(lo, hi):
    return st.lists(st.one_of(st.none(), st.integers(lo, hi)), max_size=40)


@settings(max_examples=200, deadline=None)
@given(_ints(-2**31, 2**31 - 1), _ints(-2**63, 2**63 - 1))
def test_ints_equal_pa_array(v32, v64):
    _same(arrowcols.int32s(v32), v32, pa.int32())
    _same(arrowcols.int64s(v64), v64, pa.int64())


def test_int32_out_of_range_raises():
    for v in (2**31, -2**31 - 1):
        try:
            arrowcols.int32s([1, v])
        except OverflowError:
            continue
        raise AssertionError(f"{v} accepted as int32")


# NaN is left out: Arrow's equals() never finds NaN equal to NaN
_floats = st.floats(allow_nan=False, width=64)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.lists(_floats, max_size=6), max_size=12),
       st.lists(st.lists(st.integers(-2**63, 2**63 - 1), max_size=6),
                max_size=12))
def test_lists_equal_pa_array(floats, ints):
    _same(arrowcols.lists(floats, pa.float64()), floats,
          pa.list_(pa.float64()))
    _same(arrowcols.lists(ints, pa.int64()), ints, pa.list_(pa.int64()))


def test_oversized_flush_splits_into_batches(monkeypatch):
    """One document's rows whose string bytes pass the offset limit come
    out as several batches holding the same rows, in order, instead of
    failing the task (pa.array would return a ChunkedArray there, which
    RecordBatch.from_arrays rejects)."""
    subjects = "".join(f'<rdf:Description rdf:about="#s{i}"><ex:p>{i}'
                       f'</ex:p></rdf:Description>' for i in range(200))
    doc = ('<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
           ' xmlns:ex="http://example.org/" xml:base="http://example.org/'
           + "b" * 500 + '/">' + subjects + "</rdf:RDF>")
    batch = pa.RecordBatch.from_arrays(
        [arrowcols.strings([doc])], names=["content"])
    parse = extract._make_parse_batch(False, False, True, 1 << 30)
    whole = list(parse(iter([batch])))
    assert len(whole) == 1 and whole[0].num_rows == 200

    # every subject IRI is over 500 bytes: 200 of them pass 50,000
    monkeypatch.setattr(arrowcols, "MAX_OFFSET", 50_000)
    split = list(parse(iter([batch])))
    assert len(split) >= 2
    assert all(b.schema == whole[0].schema for b in split)
    assert (pa.Table.from_batches(split).to_pylist()
            == pa.Table.from_batches(whole).to_pylist())



def _nbytes(values: list) -> int:
    return sum(len(v.encode()) for v in values if v is not None)


# a _text value is at most 12 characters of at most 4 bytes: 48 bytes
@settings(max_examples=300, deadline=None)
@given(st.lists(st.tuples(st.one_of(st.none(), _text), _text), max_size=40),
       st.integers(48, 120))
def test_string_batches_cut_at_the_limit(rows, limit):
    """Each batch's column bytes fit under the limit, each cut is as late
    as the limit allows, and the batches hold the rows in order."""
    cols = [[r[0] for r in rows], [r[1] for r in rows]]
    saved, arrowcols.MAX_OFFSET = arrowcols.MAX_OFFSET, limit
    try:
        batches = list(arrowcols.string_batches(cols, ["a", "b"]))
    finally:
        arrowcols.MAX_OFFSET = saved
    start = 0
    for b in batches:
        b.validate(full=True)
        stop = start + b.num_rows
        assert all(_nbytes(c[start:stop]) <= limit for c in cols)
        if stop < len(rows):
            assert any(_nbytes(c[start:stop + 1]) > limit for c in cols)
        start = stop
    assert start == len(rows) and (len(batches) == 1 or rows)
    for name, c in zip(["a", "b"], cols):
        assert (pa.chunked_array([b.column(name) for b in batches],
                                 type=pa.string()).to_pylist() == c)


def test_string_batches_value_past_the_limit_raises(monkeypatch):
    monkeypatch.setattr(arrowcols, "MAX_OFFSET", 10)
    try:
        list(arrowcols.string_batches([["short", "x" * 11]], ["a"]))
    except arrowcols.OffsetOverflow:
        return
    raise AssertionError("an 11-byte value fit under a 10-byte limit")


_WORKER = """
import json, pathlib, sys
import pyarrow as pa
from perfbench import gen
from rdf_rdfxml_spark.functions.arrowcols import strings
from rdf_rdfxml_spark.operators import extract
from rdf_rdfxml_spark.writer.serialize import _render_stream

def batch(cols):
    return pa.RecordBatch.from_arrays([strings(v) for v in cols.values()],
                                      names=list(cols))

docs = [p.read_text(encoding="utf-8")
        for p in sorted(pathlib.Path("tests/data").glob("*.rdf"))]
crawl, _, _ = gen.crawl_small(5, 300)
counts = []
for cols in ({"content": docs},
             {k: [d[k] for d in crawl]
              for k in ("content", "repo", "path", "commit")}):
    parse = extract._make_parse_batch(False, "repo" in cols, True, 1 << 28)
    parsed = pa.Table.from_batches(list(parse(iter([batch(cols)]))))
    prefixes = list(extract._prefix_batches(iter([batch(cols)])))
    rows = [r for r in parsed.to_pylist() if r["rec"] == "triple"]
    triples = batch({c: [r[c] for r in rows]
                     for c in ("doc_sha", "s", "s_kind", "p", "o", "o_kind",
                               "o_lang", "o_dt")})
    xml = list(_render_stream(["doc_sha"], {})(iter([triples])))
    counts.append([parsed.num_rows, len(rows),
                   sum(b.num_rows for b in prefixes),
                   sum(b.num_rows for b in xml)])
print(json.dumps({"counts": counts, "pandas": "pandas" in sys.modules}))
"""


def test_python_workers_never_import_pandas():
    """What a Python worker runs for extraction, document_prefixes and
    the RDF/XML render, in a fresh interpreter: it never loads pandas
    (pyarrow 16's pa.array would import it on first call)."""
    proc = subprocess.run([sys.executable, "-c", _WORKER], cwd=ROOT,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    for n_rows, n_triples, n_prefixes, n_docs in got["counts"]:
        assert n_rows >= n_triples > 0 and n_prefixes > 0 and n_docs > 0
    assert got["pandas"] is False


_BANNED_PA = {"array", "scalar", "table", "chunked_array"}
_BANNED_ANY = {"from_pydict", "from_pylist"}


def test_arrow_arrays_come_from_the_builder():
    """No module under rdf_rdfxml_spark/ calls pa.array, pa.scalar,
    pa.table, pa.chunked_array or any from_pydict/from_pylist: Arrow
    arrays built from Python values go through functions/arrowcols.py,
    which never imports pandas.

    Limit: ann.py and multimodal.py still import pandas at module level
    for their mapInPandas stages, so their workers load pandas whatever
    their Arrow UDFs call; moving those stages is a separate change."""
    bad = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)):
                continue
            f = node.func
            if (f.attr in _BANNED_ANY
                    or (f.attr in _BANNED_PA and isinstance(f.value, ast.Name)
                        and f.value.id in ("pa", "pyarrow"))):
                bad.append(f"{path.relative_to(ROOT)}:{node.lineno}: "
                           f"{ast.unparse(f)}")
    assert not bad, "\n".join(bad)
