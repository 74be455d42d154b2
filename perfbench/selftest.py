"""Self-tests for the benchmark's own code (no Spark needed):

    python3 perfbench/selftest.py

* the generator is identical for the same seed and differs across seeds;
* the output check accepts a correct output, also with blank nodes
  relabeled, and rejects a planted wrong triple and a dropped document;
* the event-log reader gives the expected counts on a recorded log of one
  CLI run (``testdata/cli_eventlog.json``: ``gen.crawl_small(5, 60)``
  over 4 files, ``--format parquet --errors-output --master local[4]``;
  events trimmed to the fields ``eventlog.read`` uses, plans to operator
  names and metrics, paths to ``/checkout``).
"""

from __future__ import annotations

import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from perfbench import check, eventlog, gen  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        self.assertEqual(gen.crawl_small(7, 200), gen.crawl_small(7, 200))
        self.assertEqual(gen.ontology_large(7, 2, 100, 300),
                         gen.ontology_large(7, 2, 100, 300))
        self.assertEqual(gen.export_rdfxml(7, 20), gen.export_rdfxml(7, 20))

    def test_seeds_differ(self):
        self.assertNotEqual(gen.crawl_small(7, 200)[0],
                            gen.crawl_small(8, 200)[0])
        self.assertNotEqual(gen.ontology_large(7, 2, 100, 300)[0],
                            gen.ontology_large(8, 2, 100, 300)[0])
        self.assertNotEqual(gen.export_rdfxml(7, 20), gen.export_rdfxml(8, 20))

    def test_variants_share_triples(self):
        docs0, exp0, bad0 = gen.crawl_small(7, 300, variant=0)
        docs1, exp1, bad1 = gen.crawl_small(7, 300, variant=1)
        self.assertEqual((exp0, bad0), (exp1, bad1))
        self.assertNotEqual(docs0, docs1)
        self.assertEqual(gen.ontology_large(7, 2, 100, 300, 0)[1],
                         gen.ontology_large(7, 2, 100, 300, 1)[1])

    def test_crawl_shape(self):
        docs, expected, malformed = gen.crawl_small(3, 2000)
        self.assertTrue(all(1 <= len(r) <= 6 for r in expected.values()))
        self.assertLess(abs(len(malformed) / 2000 - 0.05), 0.02)
        self.assertEqual(set(expected) | malformed, set(range(2000)))


def _write_output(tmp: Path, rows_by_doc: dict, shas: dict, errors: set):
    """A triples dataset and an errors dataset as the CLI writes them,
    with blank nodes relabeled the way the program labels them."""
    cols = {c: [] for c in ["doc_sha"] + check.ROW_COLUMNS}
    for i, rows in rows_by_doc.items():
        def relabel(kind, v):
            return f"b:{shas[i]}:{v[1:]}" if kind == "bnode" else v
        for sk, s, p, ok, o, lang, dt in rows:
            for c, v in zip(cols, (shas[i], sk, relabel(sk, s), p, ok,
                                   relabel(ok, o), lang, dt)):
                cols[c].append(v)
    (tmp / "triples").mkdir()
    (tmp / "errors").mkdir()
    pq.write_table(pa.table(cols), tmp / "triples" / "part-0.parquet")
    pq.write_table(pa.table({"doc_sha": [shas[i] for i in sorted(errors)]}),
                   tmp / "errors" / "part-0.parquet")


class CheckTest(unittest.TestCase):
    def setUp(self):
        import hashlib
        docs, self.expected, self.malformed = gen.crawl_small(11, 120)
        self.shas = {i: hashlib.sha256(d["content"].encode()).hexdigest()
                     for i, d in enumerate(docs)}
        self.sample = sorted(self.expected)
        self._tmp = tempfile.TemporaryDirectory()
        self.tmp = Path(self._tmp.name)

    def tearDown(self):
        self._tmp.cleanup()

    def problems(self, rows_by_doc):
        _write_output(self.tmp, rows_by_doc, self.shas, self.malformed)
        return check.check_documents(
            str(self.tmp / "triples"), str(self.tmp / "errors"), self.shas,
            self.expected, self.malformed, self.sample)

    def test_accepts_correct_output(self):
        self.assertEqual(self.problems(dict(self.expected)), [])

    def test_rejects_planted_wrong_triple(self):
        rows = dict(self.expected)
        i = self.sample[5]
        sk, s, p, ok, o, lang, dt = rows[i][0]
        rows[i] = [(sk, s, p, "literal", "planted", None, None)] + rows[i][1:]
        self.assertEqual(self.problems(rows),
                         [f"document {i}: triples differ from expected"])

    def test_rejects_dropped_document(self):
        rows = dict(self.expected)
        i = self.sample[9]
        del rows[i]
        found = self.problems(rows)
        self.assertIn(f"document {i}: triples differ from expected", found)
        self.assertTrue(any(p.startswith("committed") for p in found))

    def test_rejects_missing_error_row(self):
        self.malformed = set(self.malformed)
        _write_output(self.tmp, dict(self.expected), self.shas,
                      set(sorted(self.malformed)[1:]))
        found = check.check_documents(
            str(self.tmp / "triples"), str(self.tmp / "errors"), self.shas,
            self.expected, self.malformed, self.sample)
        self.assertEqual(len(found), 1)
        self.assertIn("1 malformed without one", found[0])

    def test_blank_node_structure_matters(self):
        a = [("iri", "x", "p", "bnode", "g0", None, None),
             ("bnode", "g0", "q", "literal", "1", None, None),
             ("iri", "x", "p", "bnode", "g1", None, None),
             ("bnode", "g1", "q", "literal", "2", None, None)]
        relabeled = [tuple("h" + v[1:] if v in ("g0", "g1") else v
                           for v in r) for r in a]
        swapped = [a[0], ("bnode", "g0", "q", "literal", "2", None, None),
                   a[2], ("bnode", "g1", "q", "literal", "2", None, None)]
        self.assertTrue(check.same_graph(a, relabeled))
        self.assertFalse(check.same_graph(a, swapped))


class EventLogTest(unittest.TestCase):
    def test_recorded_cli_run(self):
        log = eventlog.read(str(HERE / "testdata" / "cli_eventlog.json"))
        self.assertEqual(len(log.jobs), 7)
        execs = sorted(log.executions.values(), key=lambda e: e.id)
        self.assertEqual(len(execs), 3)
        self.assertEqual([e.has("MapInArrow") for e in execs],
                         [True, False, True])
        self.assertEqual([e.has("Exchange") for e in execs],
                         [False, True, False])
        self.assertFalse(any(e.has("BroadcastExchange") for e in execs))
        count_stages = log.stages_of([j for j in log.jobs.values()
                                      if j.execution == execs[1].id])
        self.assertGreater(sum(s.shuffle_write_mb for s in count_stages), 0)
        # the triples write parses 60 documents into 201 triple rows and
        # one error row for each of the 2 malformed ones
        ids = execs[0].metric_ids("MapInArrow", "number of output rows")
        self.assertEqual(log.metric_total(ids), 203)
        write = log.stages_of([j for j in log.jobs.values()
                               if j.execution == execs[0].id])
        self.assertEqual(sum(s.tasks for s in write), 4)
        self.assertTrue(all(s.wall_s > 0 and s.cpu_s > 0 for s in write))
        self.assertGreater(log.app_end, log.app_start)


if __name__ == "__main__":
    unittest.main()
