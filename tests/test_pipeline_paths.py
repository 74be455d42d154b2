"""One document, one result on every path: the plain pipeline
(construct_graph → materialize), the resumable run and the streaming
ingest give the same triples and the same error rows under the same
options — also after a resumable run crashes between its data write and
its manifest write. Every write leaves one file per partition
directory, and a manifest written before the ``unit``-only schema still
resumes."""
import re
from collections import Counter
from pathlib import Path

import pytest

from rdf_rdfxml_spark.operators import materialize as mat
from rdf_rdfxml_spark.plans.pipeline import construct_graph
from rdf_rdfxml_spark.schema import DOCUMENTS_SCHEMA
from rdf_rdfxml_spark.sources.fixtures import corpus
from rdf_rdfxml_spark.streaming.stream import (stream_construct,
                                               stream_documents)

TRIPLE_COLS = ("s", "s_kind", "p", "o", "o_kind", "o_lang", "o_dt",
               "doc_sha")
ERROR_COLS = ("doc_sha", "repo", "path", "commit", "error")

_RDF = ('<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        'xmlns:ex="http://e/">{}</rdf:RDF>')
EDGE_DOCS = [
    # one statement written twice: the document's triples are a set
    _RDF.format('<rdf:Description rdf:about="http://a/"><ex:p>v</ex:p>'
                '<ex:p>v</ex:p></rdf:Description>'),
    # malformed XML: one error row, no triples
    _RDF.format('<rdf:Description rdf:about="http://b/">'),
    # canonicalizable typed literal: "007" → "7" under canonicalize
    _RDF.format('<rdf:Description rdf:about="http://c/"><ex:n rdf:datatype='
                '"http://www.w3.org/2001/XMLSchema#integer">007</ex:n>'
                '</rdf:Description>'),
]
RESUME = dict(n_units=8, units_per_batch=3, n_buckets=4)


@pytest.fixture(scope="module")
def docs_path(spark, tmp_path_factory):
    rows = [{k: r[k] for k in ("repo", "path", "commit", "lang", "content")}
            for r in corpus(instances_per_category=1)]
    rows += [{"repo": "edge", "path": f"edge{i}.rdf", "commit": "0",
              "lang": "rdfxml", "content": c}
             for i, c in enumerate(EDGE_DOCS)]
    path = str(tmp_path_factory.mktemp("paths") / "docs")
    spark.createDataFrame(rows, DOCUMENTS_SCHEMA).repartition(3) \
        .write.parquet(path)
    return path


def _bag(df, cols):
    return Counter(map(tuple, df.select(*cols).collect()))


def _plain(spark, docs_path, tmp_path, **opts):
    out, err = str(tmp_path / "plain"), str(tmp_path / "plain_errors")
    g = construct_graph(spark.read.parquet(docs_path), **opts)
    with mat.errors_alongside(g, err):
        n = mat.materialize(g.triples, out, n_buckets=4)
    triples = spark.read.parquet(out)
    assert triples.count() == n
    return _bag(triples, TRIPLE_COLS), _bag(spark.read.parquet(err),
                                             ERROR_COLS)


def _resumed(spark, docs_path, tmp_path, name, **opts):
    out, err = str(tmp_path / name), str(tmp_path / f"{name}_errors")
    stats = mat.resumable_run(spark, spark.read.parquet(docs_path), out,
                              str(tmp_path / f"{name}_manifest"),
                              errors_path=err, **RESUME, **opts)
    return (stats, _bag(spark.read.parquet(out), TRIPLE_COLS),
            _bag(spark.read.parquet(err), ERROR_COLS))


@pytest.mark.parametrize("canonicalize", [False, True])
def test_plain_resume_and_stream_agree(spark, docs_path, tmp_path,
                                       canonicalize):
    triples, errors = _plain(spark, docs_path, tmp_path,
                             canonicalize=canonicalize)
    # the edge documents reach the output as intended
    by_o = Counter(t[3] for t in triples)
    assert by_o["v"] == 1
    assert by_o["7" if canonicalize else "007"] == 1
    assert any(e[2] == "edge1.rdf" for e in errors)

    _, r_triples, r_errors = _resumed(spark, docs_path, tmp_path, "resumed",
                                      canonicalize=canonicalize)
    assert r_triples == triples
    assert r_errors == errors

    out, err = str(tmp_path / "streamed"), str(tmp_path / "streamed_errors")
    stream_construct(
        stream_documents(spark, docs_path, max_files_per_trigger=1),
        out, str(tmp_path / "ckpt"), errors_path=err,
        canonicalize=canonicalize).start().awaitTermination(120)
    assert _bag(spark.read.parquet(out), TRIPLE_COLS) == triples
    assert _bag(spark.read.parquet(err), ERROR_COLS) == errors


def test_resume_after_crash_before_manifest_equals_one_shot(
        spark, docs_path, tmp_path, monkeypatch):
    """A crash after a batch's data commits but before its units are
    recorded: the re-run rewrites that batch's unit partitions instead of
    adding a second copy."""
    record = mat.record_units
    calls = []

    def crash_on_second_batch(*args, **kwargs):
        calls.append(args[1])
        if len(calls) == 2:
            raise RuntimeError("injected crash before the manifest write")
        return record(*args, **kwargs)

    monkeypatch.setattr(mat, "record_units", crash_on_second_batch)
    with pytest.raises(RuntimeError, match="injected crash"):
        _resumed(spark, docs_path, tmp_path, "crashed")
    stats, triples, errors = _resumed(spark, docs_path, tmp_path, "crashed")
    # the first batch stayed recorded; the crashed one re-ran
    units = mat.assign_units(spark.read.parquet(docs_path),
                             RESUME["n_units"]).select("unit").distinct()
    assert stats["units_total"] == units.count() - len(calls[0])

    want_triples, want_errors = _plain(spark, docs_path, tmp_path)
    assert triples == want_triples
    assert errors == want_errors


def _files_per_dir(root):
    """{partition directory relative to ``root``: its parquet file count}."""
    root = Path(root)
    return dict(Counter(str(f.parent.relative_to(root))
                        for f in root.rglob("*.parquet")))


def test_each_partition_directory_holds_one_file(spark, docs_path, tmp_path):
    """Writes rebalance on their partition columns: the fixture corpus is
    three scan partitions, yet every ``bucket=B``, ``unit=U/bucket=B`` and
    errors ``unit=U`` directory (and the plain errors directory) holds
    exactly one file, not one per upstream task."""
    _plain(spark, docs_path, tmp_path)
    _resumed(spark, docs_path, tmp_path, "resumed")
    layouts = {name: _files_per_dir(tmp_path / name) for name in
               ("plain", "plain_errors", "resumed", "resumed_errors")}
    assert set(layouts["plain"]) == {f"bucket={b}" for b in range(4)}
    assert list(layouts["plain_errors"]) == ["."]
    assert all(re.fullmatch(r"unit=\d+/bucket=\d+", d)
               for d in layouts["resumed"])
    assert all(re.fullmatch(r"unit=\d+", d)
               for d in layouts["resumed_errors"])
    for name, layout in layouts.items():
        assert set(layout.values()) == {1}, (name, layout)


def test_resume_over_old_schema_manifest(spark, docs_path, tmp_path):
    """A manifest that also carries the older ``completed_at`` column
    still resumes: its units are skipped, the rest run, and the mixed
    manifest then leaves nothing pending."""
    n_units = RESUME["n_units"]
    docs = spark.read.parquet(docs_path)
    all_units = sorted(r["unit"] for r in mat.assign_units(docs, n_units)
                       .select("unit").distinct().collect())
    done = all_units[:len(all_units) // 2]
    manifest = str(tmp_path / "old_manifest")
    spark.createDataFrame([(u, 0) for u in done],
                          "unit int, completed_at long") \
        .write.parquet(manifest)

    out = str(tmp_path / "old")
    stats = mat.resumable_run(spark, docs, out, manifest, **RESUME)
    assert stats["units_total"] == len(all_units) - len(done)
    want, _ = _plain(spark, docs_path, tmp_path)
    pending = Counter({t: n for t, n in want.items()
                       if int(t[-1][:15], 16) % n_units not in done})
    assert _bag(spark.read.parquet(out), TRIPLE_COLS) == pending
    again = mat.resumable_run(spark, docs, out, manifest, **RESUME)
    assert again["units_total"] == 0
