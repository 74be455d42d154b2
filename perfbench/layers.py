"""Per-layer attribution for a traced run, measured from outside the
program.

A ladder of jobs, each ending in Spark's ``noop`` sink, splits stages that
Spark fuses: a layer's time is the increment of its job over the job it
extends (for example, ``extract.hop_s`` is an identity ``mapInArrow`` over
the scanned documents minus the scan alone). Each ladder job runs
``LADDER_REPS`` times and the run with the median time is used. Single-core microbenches
time the grammar and the writer on a seeded sample of the workload's own
documents. Stage, task, shuffle and plan facts come from Spark's event
log, matched to ladder steps through the job description each span sets.

Layer names follow the program's modules: ``sources``, ``extract``,
``grammar`` (``parser.grammar``), ``xmldom`` (``functions.xmldom``),
``materialize``, ``dedup``, ``linking``, ``writer`` (``writer.serialize``)
and ``cli``.
"""

from __future__ import annotations

import shutil
import statistics
import time
from pathlib import Path

from perfbench import check, eventlog, host

LADDER_REPS = 3
MICRO_MIN_S = 0.3   # each microbench repeats its sample for at least this


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _counted(df, name):
    """``df`` with a row count piggybacked on the job that consumes it."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def _identity(batches):
    yield from batches


def _micro(fn, items) -> float:
    """Seconds for one pass of ``fn`` over ``items``: median of passes
    repeated for at least MICRO_MIN_S."""
    passes, t_all = [], time.perf_counter()
    while not passes or time.perf_counter() - t_all < MICRO_MIN_S:
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        passes.append(time.perf_counter() - t0)
    return statistics.median(passes)


def _dict_rows(rows):
    return [dict(zip(check.ROW_COLUMNS, r)) for r in rows]


def ladder(workload, spark, inputs, work: Path, tracer, size: dict,
           job) -> dict:
    """Run the ladder; returns the measurements the spans do not hold."""
    from pyspark.sql import functions as F

    from rdf_rdfxml_spark import parse_rdfxml
    from rdf_rdfxml_spark.functions.xmldom import parse_document
    from rdf_rdfxml_spark.operators.dedup import dedup_global
    from rdf_rdfxml_spark.operators.linking import (build_term_dictionary,
                                                    encode_triples)
    from rdf_rdfxml_spark.operators.materialize import materialize
    from rdf_rdfxml_spark.plans.pipeline import construct_graph
    from rdf_rdfxml_spark.writer.serialize import serialize_graph, write_rdfxml
    out = {}
    table = spark.read.parquet(inputs["input"])
    if workload == "export_rdfxml":
        # The reader layers run on this workload's own output documents.
        rendered = work / "rendered"
        job(spark, inputs, rendered)
        xml = check.read_columns(str(rendered / "xml"), ["doc_sha", "xml"])
        contents = xml.column(1).to_pylist()
        docs = spark.read.parquet(str(rendered / "xml")) \
            .select(F.col("xml").alias("content"))
        projected = docs
        sample_docs = contents[:size["sample"]]
        corpus_bytes = sum(len(c.encode()) for c in contents)
        triples = table
        groups = [_dict_rows(inputs["groups"][k]) for k in inputs["sample"]]
    else:
        docs = table
        projected = docs.select("content", "repo", "path", "commit")
        sample_docs = [inputs["contents"][i] for i in inputs["sample"]]
        corpus_bytes = inputs["bytes"]
        triples = construct_graph(docs).triples
        groups = [_dict_rows(inputs["expected"][i]) for i in inputs["sample"]]
    linked = dedup_global(triples) if workload == "ontology_large" else triples

    steps = [
        ("scan", lambda: _noop(table)),
        ("scan_docs", lambda: _noop(projected)),
        ("hop", lambda: _noop(projected.mapInArrow(_identity,
                                                   projected.schema))),
        ("extract", lambda: _noop(construct_graph(docs).triples)),
        ("dedup", lambda: _noop(dedup_global(triples))),
        ("dictionary", lambda: _noop(build_term_dictionary(linked))),
        ("encode", lambda: _noop(
            encode_triples(linked, build_term_dictionary(linked)))),
        ("writer", lambda: _noop(write_rdfxml(triples))),
    ]
    mat_path = work / "ladder-materialize"

    def run_materialize():
        mat_in = (encode_triples(linked, build_term_dictionary(linked))
                  if workload == "ontology_large" else triples)
        materialize(mat_in, str(mat_path), n_buckets=size["buckets"])
        out["materialize.files"] = len(check.parquet_files(str(mat_path)))
        shutil.rmtree(mat_path, ignore_errors=True)

    steps.append(("materialize", run_materialize))
    for rep in range(LADDER_REPS):
        for name, fn in steps:
            with tracer.span(f"{name}:{rep}"):
                fn()

    with tracer.span("counts"):
        # Row counts come from observations on two more noop jobs, outside
        # the timed ladder steps.
        t_in, o_in = _counted(triples, "dedup_in")
        kept, o_out = _counted(dedup_global(t_in), "dedup_out")
        _noop(kept)
        out["dedup.kept_ratio"] = o_out.get["n"] / max(1, o_in.get["n"])
        terms, o_terms = _counted(build_term_dictionary(linked), "terms")
        _noop(terms)
        out["linking.terms"] = o_terms.get["n"]

    with tracer.span("micro"):
        n_triples = 0
        for c in sample_docs:
            n_triples += len(parse_rdfxml(c, doc_key="k")[0])
        g_s = _micro(lambda c: parse_rdfxml(c, doc_key="k"), sample_docs)
        x_s = _micro(parse_document, sample_docs)
        n_docs = len(sample_docs)
        out["grammar.us_per_doc"] = g_s / n_docs * 1e6
        out["grammar.us_per_triple"] = g_s / max(1, n_triples) * 1e6
        out["xmldom.us_per_doc"] = x_s / n_docs * 1e6
        out["grammar.productions_us_per_doc"] = (g_s - x_s) / n_docs * 1e6
        sample_bytes = sum(len(c.encode()) for c in sample_docs)
        out["_grammar_core_s"] = g_s * corpus_bytes / sample_bytes
        w_s = _micro(serialize_graph, groups)
        out["writer.us_per_triple"] = w_s / max(1, sum(map(len, groups))) * 1e6
    return out


def _median_span(tracer, step: str) -> dict:
    spans = sorted((s for s in tracer.spans if s["name"].split(":")[0] == step
                    and s["name"].count(":") == 1), key=lambda s: s["s"])
    return spans[len(spans) // 2]


def attribute(workload, inputs, measured, log, tracer, cli_logs,
              traced_job_s) -> dict:
    """Per-layer metrics from the ladder spans, the microbenches and the
    event logs. Values are ``(number, unit)``."""
    t = {step: _median_span(tracer, step)
         for step in ("scan", "scan_docs", "hop", "extract", "dedup",
                      "dictionary", "encode", "writer", "materialize")}
    secs = {k: v["s"] for k, v in t.items()}

    def jobs(step):
        return log.jobs_described(t[step]["name"])

    def stages(step):
        return log.stages_of(jobs(step))

    def executions(step):
        ids = {j.execution for j in jobs(step) if j.execution is not None}
        return [log.executions[i] for i in ids if i in log.executions]

    cores = host.nproc()
    grammar_wall = measured.pop("_grammar_core_s") / cores
    base = {"crawl_small": "extract", "ontology_large": "dedup",
            "export_rdfxml": "scan"}[workload]
    triples_base = "scan" if workload == "export_rdfxml" else "extract"
    mat_base = {"crawl_small": "extract", "ontology_large": "encode",
                "export_rdfxml": "scan"}[workload]
    extract_stages = stages("extract")
    mia = [s for s in extract_stages if s.tasks]
    rows_out = sum(log.metric_total(e.metric_ids("MapInArrow",
                                                 "number of output rows"))
                   for e in executions("extract"))
    m = {
        "sources.scan_s": (secs["scan"], "s"),
        "sources.scan_tasks": (sum(s.tasks for s in stages("scan")), "count"),
        "sources.input_mb": (check.dataset_bytes(inputs["input"]) / eventlog.MB,
                             "MB"),
        "extract.hop_s": (secs["hop"] - secs["scan_docs"], "s"),
        "extract.stage_s": (secs["extract"], "s"),
        "extract.emit_s": (secs["extract"] - secs["hop"] - grammar_wall, "s"),
        "extract.task_skew": (max((s.task_skew for s in mia), default=1.0),
                              "ratio"),
        "extract.jvm_cpu_s": (sum(s.cpu_s for s in extract_stages), "s"),
        "extract.rows_out": (rows_out, "count"),
        "grammar.wall_s": (grammar_wall, "s"),
        "materialize.write_s": (secs["materialize"] - secs[mat_base], "s"),
        "materialize.files": (measured.pop("materialize.files"), "count"),
        "materialize.jvm_cpu_s": (sum(s.cpu_s for s in stages("materialize")),
                                  "s"),
        "materialize.spill_mb": (sum(s.spill_mb
                                     for s in stages("materialize")), "MB"),
        "dedup.global_s": (secs["dedup"] - secs[triples_base], "s"),
        "dedup.shuffle_mb": (sum(s.shuffle_write_mb for s in stages("dedup")),
                             "MB"),
        "dedup.kept_ratio": (measured.pop("dedup.kept_ratio"), "ratio"),
        "linking.dictionary_s": (secs["dictionary"] - secs[base], "s"),
        "linking.terms": (measured.pop("linking.terms"), "count"),
        "linking.encode_s": (secs["encode"] - secs["dictionary"], "s"),
        "linking.shuffle_mb": (sum(s.shuffle_write_mb
                                   for s in stages("encode")), "MB"),
        "linking.broadcast_joins": (max((e.count("BroadcastHashJoin")
                                         for e in executions("encode")),
                                        default=0), "count"),
        "writer.stage_s": (secs["writer"] - secs[triples_base], "s"),
        "writer.shuffle_mb": (sum(s.shuffle_write_mb
                                  for s in stages("writer")), "MB"),
    }
    for k in ("grammar.us_per_doc", "grammar.us_per_triple",
              "xmldom.us_per_doc", "grammar.productions_us_per_doc",
              "writer.us_per_triple"):
        m[k] = (measured.pop(k), "us")

    # The main job's own accounting: the CLI run's event log on
    # crawl_small, the traced session's main-job jobs elsewhere.
    if workload == "crawl_small":
        span, main_log = cli_logs[-1]
        main_execs = sorted(main_log.executions.values(), key=lambda e: e.id)
        n_jobs = len(main_log.jobs)
        session_start = min(j.submitted for j in main_log.jobs.values()) \
            - span["start"]
        stop = span["end"] - main_log.app_end
    else:
        main_jobs = log.jobs_described(f"main:{len(traced_job_s) - 1}")
        ids = {j.execution for j in main_jobs}
        main_execs = sorted((log.executions[i] for i in ids
                             if i in log.executions), key=lambda e: e.id)
        n_jobs = len(main_jobs)
        session_start = next(s["s"] for s in tracer.spans
                             if s["name"] == "session")
        stop = 0.0
    parses = [e for e in main_execs if e.has("MapInArrow")]
    m["cli.jobs"] = (n_jobs, "count")
    m["cli.parse_executions"] = (len(parses), "count")
    m["cli.session_start_s"] = (session_start, "s")
    m["cli.reparse_s"] = (sum(e.wall_s for e in parses[1:]), "s")
    m["cli.readback_s"] = (sum(e.wall_s for e in main_execs
                               if not e.has("MapInArrow")), "s")
    m["cli.stop_s"] = (stop, "s")
    # The first parse execution of a fresh CLI context beyond what the
    # same work takes in the warm ladder: mostly Python worker start-up.
    m["cli.cold_start_s"] = (parses[0].wall_s - secs["extract"]
                             - m["materialize.write_s"][0]
                             if workload == "crawl_small" else 0.0, "s")

    # Layers that make up each workload's job, in job order.
    if workload == "crawl_small":
        parts = ["cli.session_start_s", "extract.stage_s",
                 "materialize.write_s", "cli.cold_start_s", "cli.readback_s",
                 "cli.reparse_s", "cli.stop_s"]
    elif workload == "ontology_large":
        parts = ["extract.stage_s", "dedup.global_s", "linking.dictionary_s",
                 "linking.encode_s", "materialize.write_s"]
    else:
        parts = ["sources.scan_s", "writer.stage_s"]
    layer_sum = sum(m[p][0] for p in parts)
    m["trace.layer_sum_s"] = (layer_sum, "s")
    traced = traced_job_s[-1]
    m["cli.overhead_s"] = (traced - layer_sum, "s")
    m["_traced_job_s"] = traced
    return m
