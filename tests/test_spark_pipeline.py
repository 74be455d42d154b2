"""Spark-level tests: extraction stage, dedup, linking, materialize/resume,
metrics — correctness of the distributed stages (SURVEY.md §2.4) at test
scale, with golden-isomorphism checks per document.
"""
import pytest

from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from rdf_rdfxml_spark.operators.dedup import dedup_document, dedup_global
from rdf_rdfxml_spark.operators.extract import extract, triples_channel, errors_channel
from rdf_rdfxml_spark.operators.linking import (
    build_term_dictionary, detect_hot_keys, encode_triples, one_term_per_id,
)
from rdf_rdfxml_spark.operators.materialize import (
    assign_units, materialize, pending_units, record_units, resumable_run,
)
from rdf_rdfxml_spark.operators.metrics import partition_metrics
from rdf_rdfxml_spark.plans.pipeline import construct_graph
from rdf_rdfxml_spark.sources.fixtures import corpus
from rdf_rdfxml_spark.functions.nt import isomorphic

INPUT_COLS = ("repo", "path", "commit", "lang", "content", "base_uri")


@pytest.fixture(scope="module")
def fixture_rows():
    return corpus(instances_per_category=2)


@pytest.fixture(scope="module")
def docs_df(spark, fixture_rows):
    rows = [{k: r[k] for k in INPUT_COLS} for r in fixture_rows]
    return spark.createDataFrame(rows)


@pytest.fixture(scope="module")
def graph(spark, docs_df):
    g = construct_graph(docs_df, strict=True, repartition=4)
    g.triples.cache().count()
    return g


def _term(row, which):
    if which == "s":
        return (row["s_kind"], row["s"])
    if row["o_kind"] == "literal":
        return ("literal", row["o"], row["o_lang"], row["o_dt"])
    return (row["o_kind"], row["o"])


def test_every_positive_doc_matches_golden(graph, fixture_rows):
    by_sha = {}
    for r in graph.triples.collect():
        by_sha.setdefault(r["doc_sha"], []).append(
            (_term(r, "s"), r["p"], _term(r, "o")))
    import hashlib
    checked = 0
    for row in fixture_rows:
        if row["negative"]:
            continue
        sha = hashlib.sha256(row["content"].encode()).hexdigest()
        got = by_sha.get(sha, [])
        assert isomorphic(got, row["golden"]), (row["category"], row["path"])
        checked += 1
    assert checked > 20


def test_negative_docs_go_to_error_channel(graph, fixture_rows):
    import hashlib
    err_shas = {r["doc_sha"] for r in graph.errors.collect()}
    triple_shas = {r["doc_sha"] for r in graph.triples.collect()}
    for row in fixture_rows:
        if not row["negative"]:
            continue
        sha = hashlib.sha256(row["content"].encode()).hexdigest()
        assert sha in err_shas, row["category"]
        assert sha not in triple_shas, row["category"]


def test_lineage_doc_sha_matches_spark_sha2(spark, docs_df, graph):
    # BASELINE.json per-row invariant: doc_sha == sha256(content)
    expected = docs_df.select(F.sha2(F.col("content"), 256).alias("doc_sha"))
    missing = (graph.triples.select("doc_sha").distinct()
               .join(expected.distinct(), "doc_sha", "left_anti").count())
    assert missing == 0


def test_provenance_passthrough(graph):
    assert graph.triples.filter(
        "repo is null or path is null or commit is null").count() == 0


def test_dedup_document_and_global(spark):
    # same triple twice in one doc + same logical triple in a second doc
    doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      xmlns:ex="http://e/">
      <rdf:Description rdf:about="http://a/"><ex:p>v</ex:p><ex:p>v</ex:p></rdf:Description>
    </rdf:RDF>"""
    # extraction already collapses the in-document repeat, so the
    # document-level duplicate is a second row of the same document
    doc2 = doc.replace("<ex:p>v</ex:p><ex:p>v</ex:p>", "<ex:p>v</ex:p>")
    docs = spark.createDataFrame(
        [{"content": doc, "base_uri": ""}, {"content": doc, "base_uri": ""},
         {"content": doc2, "base_uri": ""}])
    triples = triples_channel(extract(docs))
    assert triples.count() == 3
    assert dedup_document(triples).count() == 2
    assert dedup_global(triples).count() == 1


def _last_execution(spark) -> int:
    """Id of the newest SQL execution in the UI status store (-1: none)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def _plans_since(spark, last: int) -> list[list[str]]:
    """Final-plan node names of each SQL execution newer than ``last``,
    from the UI status store once every listener event so far has been
    delivered. A reused exchange is an edge there, not a second node."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    plans = []
    for i in range(execs.size() - 1, -1, -1):
        eid = execs.apply(i).executionId()
        if eid <= last:
            break
        nodes = store.planGraph(eid).allNodes()
        plans.append([nodes.apply(j).name() for j in range(nodes.size())])
    return plans


def test_linking_roundtrip_broadcast_and_salted(spark, graph):
    d = build_term_dictionary(graph.triples, dense_ids=True)
    n = graph.triples.count()
    rows = []
    for kwargs in ({},                                          # default
                   {"hot_keys": detect_hot_keys(graph.triples)},  # salted
                   {"hot_keys": []}):                   # empty hot set
        enc = encode_triples(graph.triples, d, **kwargs)
        assert enc.count() == n
        assert enc.filter(
            "s_id is null or p_id is null or o_id is null").count() == 0
        rows.append(sorted(enc.select("s", "p", "o", "s_id", "p_id",
                                      "o_id").collect()))
    # the join strategy shapes only the physical plan, never the result
    assert rows[0] == rows[1] == rows[2]
    # ids are stable functions of the term → same term, same id everywhere
    dup = (d.groupBy("term_id").count().filter("count > 1").count())
    assert dup == 0


def test_dictionary_broadcast_follows_spark_threshold(spark, graph,
                                                      tmp_path):
    """The broadcast decision is Spark's byte threshold, never a
    broadcast past it: with the threshold off the joins shuffle and give
    the same rows; under the default session the dictionary of a stored
    triple table is broadcast once and that one broadcast serves all
    three positions. Dense ids: a hash dictionary has no join to plan."""
    graph.triples.write.parquet(str(tmp_path / "stored"))
    stored = spark.read.parquet(str(tmp_path / "stored"))
    d = build_term_dictionary(stored, dense_ids=True)

    def encoded_rows():
        last = _last_execution(spark)
        rows = sorted(encode_triples(stored, d).select(
            "s", "p", "o", "s_id", "p_id", "o_id").collect())
        (plan,) = _plans_since(spark, last)
        return rows, plan

    rows, plan = encoded_rows()
    assert plan.count("BroadcastHashJoin") == 3
    assert plan.count("BroadcastExchange") == 1
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        rows_off, plan_off = encoded_rows()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "BroadcastHashJoin" not in plan_off
    assert "BroadcastExchange" not in plan_off
    assert rows_off == rows


def test_linked_chain_parses_once(spark, docs_df, tmp_path):
    """extract → dedup_global → dictionary → encode → materialize is one
    job: exchange reuse shares the parse and the dedup shuffle between
    the fact side and the dictionary side, so exactly one SQL execution
    runs the grammar, and its final plan holds one MapInArrow."""
    last = _last_execution(spark)
    t = dedup_global(construct_graph(docs_df).triples)
    assert materialize(encode_triples(t, build_term_dictionary(t)),
                       str(tmp_path / "linked"), n_buckets=4) > 0
    (parse,) = [p for p in _plans_since(spark, last) if "MapInArrow" in p]
    assert "Execute InsertIntoHadoopFsRelationCommand" in parse
    assert parse.count("MapInArrow") == 1


@pytest.mark.parametrize("dense_ids", [False, True])
def test_empty_and_null_lang_are_one_term(spark, dense_ids):
    """``term_key`` reads a NULL lang as '', so a literal stored with
    lang '' and the same literal with lang NULL are one term: one
    dictionary row and one id, and each triple encodes to one row."""
    t = spark.createDataFrame(
        [("http://a/", "iri", "http://p/", "v", "literal", "", None),
         ("http://b/", "iri", "http://p/", "v", "literal", None, None)],
        "s string, s_kind string, p string, o string, o_kind string, "
        "o_lang string, o_dt string")
    d = build_term_dictionary(t, dense_ids=dense_ids)
    assert d.count() == d.select("term_id").distinct().count() == 4
    enc = encode_triples(t, d)
    assert enc.count() == 2
    assert enc.filter("o_id IS NULL").count() == 0
    assert enc.select("o_id").distinct().count() == 1


def test_hash_ids_encode_without_join(spark, graph, tmp_path):
    """Hash ids are a function of the term, so encoding is a projection:
    the write plan holds no join and no broadcast, and the dictionary
    never runs."""
    t = graph.triples
    last = _last_execution(spark)
    assert materialize(encode_triples(t, build_term_dictionary(t)),
                       str(tmp_path / "hashed"), n_buckets=4) > 0
    plans = _plans_since(spark, last)
    assert plans
    for plan in plans:
        assert not [n for n in plan if "Join" in n], plan
        assert "BroadcastExchange" not in plan
        assert "SortAggregate" not in plan     # the dictionary's aggregate


def test_hash_ids_equal_dictionary_ids(graph):
    """The projection gives every term the dictionary's ``term_id``."""
    d = build_term_dictionary(graph.triples)
    ids = {(r["kind"], r["value"], r["lang"] or "", r["dt"] or ""):
           r["term_id"] for r in d.collect()}
    assert len(ids) == len(set(ids.values()))
    enc = encode_triples(graph.triples, d).collect()
    assert enc
    for r in enc:
        assert r["s_id"] == ids[(r["s_kind"], r["s"], "", "")]
        assert r["p_id"] == ids[("iri", r["p"], "", "")]
        assert r["o_id"] == ids[(r["o_kind"], r["o"], r["o_lang"] or "",
                                 r["o_dt"] or "")]


def test_dictionary_raises_on_id_collision(spark):
    """Two distinct terms on one id fail the dictionary, whose message
    names the id and both terms; distinct ids pass."""
    rows = spark.createDataFrame(
        [(7, "iri\x00http://a/"), (7, "iri\x00http://b/"),
         (7, "iri\x00http://a/"), (8, "iri\x00http://c/")],
        "term_id long, term string")
    with pytest.raises(SparkRuntimeException,
                       match="term_id 7 holds two terms") as e:
        one_term_per_id(rows).collect()
    assert "http://a/" in str(e.value) and "http://b/" in str(e.value)
    with pytest.raises(SparkRuntimeException, match="holds two terms"):
        one_term_per_id(rows).count()      # pruning keeps the check
    ok = one_term_per_id(rows.filter("term <> 'iri\x00http://b/'"))
    assert sorted(ok.collect()) == [(7, "iri\x00http://a/"),
                                    (8, "iri\x00http://c/")]


def test_hot_keys_need_a_dense_dictionary(graph):
    """A hash dictionary has no join to salt: ``hot_keys`` raises."""
    d = build_term_dictionary(graph.triples)
    for hot in (["iri\x00http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
                 "\x00\x00"], []):
        with pytest.raises(ValueError, match="dense dictionary"):
            encode_triples(graph.triples, d, hot_keys=hot)


def test_dense_ids_are_contiguous(spark, graph):
    d = build_term_dictionary(graph.triples, dense_ids=True)
    n = d.count()
    mn, mx = d.agg(F.min("term_id"), F.max("term_id")).first()
    assert (mn, mx) == (0, n - 1)


def test_metrics(graph):
    pm = partition_metrics(graph.extracted).agg(
        F.sum("triples"), F.sum("errors")).first()
    assert pm[0] == graph.triples.count() > 0
    assert pm[1] == graph.errors.count() > 0


def test_resumable_run_completes_and_is_idempotent(spark, docs_df, tmp_path):
    out = str(tmp_path / "triples")
    manifest = str(tmp_path / "manifest")
    r1 = resumable_run(spark, docs_df, out, manifest, n_units=8,
                       units_per_batch=3)
    assert r1["units_done"] == r1["units_total"] > 0
    n1 = spark.read.parquet(out).count()
    # second run: nothing pending, no new rows
    r2 = resumable_run(spark, docs_df, out, manifest, n_units=8,
                       units_per_batch=3)
    assert r2["units_total"] == 0
    assert spark.read.parquet(out).count() == n1
    # resume after losing the last manifest batch → re-runs only that unit,
    # deterministic ids make re-appended rows exact duplicates
    docs_u = assign_units(docs_df, 8)
    pend = pending_units(spark, docs_u, manifest)
    assert pend.count() == 0


def test_in_udf_dedup_vs_shuffle_dedup_semantics(spark):
    """extract() == per-document set semantics, shuffle-free; the
    explicit dedup_document operator additionally collapses *duplicate
    rows* of the same document — the documented seam between them."""
    doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      xmlns:ex="http://e/">
      <rdf:Description rdf:about="http://a/"><ex:p>v</ex:p><ex:p>v</ex:p></rdf:Description>
    </rdf:RDF>"""
    docs = spark.createDataFrame(
        [{"content": doc, "base_uri": ""},
         {"content": doc, "base_uri": ""}])  # same document row twice
    local = triples_channel(extract(docs))
    assert local.count() == 2          # 1 per copy (in-doc dup collapsed)
    assert dedup_document(local).count() == 1  # row-duplicates collapsed


def test_salted_join_spreads_hot_key(spark):
    """D2 skew evidence: with a 90%-hot object term (the rdf:type shape of
    web-scale linking), the salted join must spread the hot key's probe
    rows across ~salt_factor shuffle partitions, where the plain shuffle
    join (no hot keys) serializes them into one."""
    n = 20_000
    hot = spark.range(n).selectExpr(
        "concat('http://s/', id) AS s", "'iri' AS s_kind",
        "'http://p/p' AS p",
        "CASE WHEN id % 10 = 0 THEN concat('http://o/', id) "
        "ELSE 'http://hot/one' END AS o",
        "'iri' AS o_kind", "CAST(NULL AS STRING) AS o_lang",
        "CAST(NULL AS STRING) AS o_dt")
    d = build_term_dictionary(hot, dense_ids=True)
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def hot_partitions(enc):
            return (enc.filter("o = 'http://hot/one'")
                    .select(F.spark_partition_id().alias("pid"))
                    .distinct().count())
        plain = encode_triples(hot, d)
        salted = encode_triples(hot, d, hot_keys=detect_hot_keys(hot))
        assert hot_partitions(plain) == 1       # one reducer owns the key
        assert hot_partitions(salted) >= 4      # spread over salt shards
        # and the salted result is still value-complete
        assert salted.filter("o_id IS NULL").count() == 0
        assert salted.count() == n
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


_RESTART_SCRIPT = """
from pyspark.sql import SparkSession
from rdf_rdfxml_spark.operators.linking import (build_term_dictionary,
                                                encode_triples)

def encode_in_fresh_session():
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    t = spark.createDataFrame(
        [("http://a/", "iri", "http://p/", "v", "literal", None, None)],
        "s string, s_kind string, p string, o string, o_kind string, "
        "o_lang string, o_dt string")
    n = encode_triples(t, build_term_dictionary(t)).count()
    spark.stop()
    return n

print("ENCODED", encode_in_fresh_session(), encode_in_fresh_session())
"""


def test_encode_triples_survives_session_restart():
    """encode_triples keeps no state between calls: encoding again in a
    new session after the first one stopped must work (a handle cached
    from a stopped session would raise once touched). Runs in a
    subprocess because the shared test session must not be stopped."""
    import pathlib
    import subprocess
    import sys
    proc = subprocess.run([sys.executable, "-c", _RESTART_SCRIPT],
                          capture_output=True, text=True, timeout=300,
                          cwd=pathlib.Path(__file__).resolve().parents[1])
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "ENCODED 1 1" in proc.stdout
