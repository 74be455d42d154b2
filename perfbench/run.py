"""KG-construction benchmark for rdf_rdfxml_spark.

    python3 perfbench/run.py --workload crawl_small --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (inputs are generated from the
seed and written before any timing starts):

* ``crawl_small``    — many small documents through the CLI job
  (``--format parquet --errors-output``), in-process; every run pays for a
  fresh SparkContext, as a CLI user does.
* ``ontology_large`` — a few large documents through the library chain
  ``construct_graph → dedup_global → build_term_dictionary →
  encode_triples → materialize``.
* ``export_rdfxml``  — a stored triple table rendered by ``write_rdfxml``
  (one RDF/XML document per ``doc_sha`` group) and written as parquet.
  Runnable by hand; ``BENCHMARK.json`` lists the first two only, because a
  run takes about a minute and three workloads do not fit the time budget
  of a full benchmark pass.

Every timed run's output is checked outside the timed region. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced run: Spark's
event log plus this benchmark's spans around calls into each layer's
public functions, and a ladder of noop-sink jobs that splits stages Spark
fuses. The line before it is the full report (every sample, host facts);
reports and spans are also written under ``.perfbench_work/reports``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import random
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import check, eventlog, gen, host  # noqa: E402

#: Input sizes per workload, chosen so one job takes a few seconds on a
#: 4-core host and a whole run about a minute.
SIZES = {
    "crawl_small": {"docs": 2_000, "variants": 1, "buckets": 64,
                    "sample": 300},
    "ontology_large": {"docs": 8, "variants": 3, "lo": 1_000, "hi": 20_000,
                       "buckets": 16, "sample": 3},
    "export_rdfxml": {"groups": 3_000, "buckets": 16, "sample": 60},
}
SETUPS = 2          # JVM launches per untraced run; setup_s is their median
#: Timed job runs per run, at least, after one untimed warm-up run on an
#: input of the same size (classes load, Python workers start, the JVM
#: compiles its hot paths). Every run is reported; metrics are medians.
MIN_REPS = 3
TRACED_REPS = 2     # the last one gives the traced job_s


class Tracer:
    """Spans around calls into the program, kept in memory. Each span's
    name is also the Spark job description of the jobs it starts, which
    ties event-log stages to spans."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.spark = None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if self.spark is not None:
                self.spark.sparkContext.setJobDescription(None)


# --------------------------------------------------------------------------
# inputs


def write_inputs(workload: str, seed: int, work: Path,
                 n_files: int) -> list[dict]:
    """Generate the workload's tables into ``work`` (untimed), one per
    input variant, plus one more of the same size for the warm-up run.
    Variants differ in content but not in structure, so they share
    expected triples; timed runs cycle through them so a run in a
    long-lived session does not replay the documents whose names the
    program's worker memos already hold. Each table is split over
    ``n_files`` files so no scan task holds all rows."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    size = SIZES[workload]
    rng = random.Random(f"sample:{workload}:{seed}")

    def write(rows_by_file, path: Path, schema):
        path.mkdir(parents=True)
        for k, rows in enumerate(rows_by_file):
            pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                           path / f"part-{k:03d}.parquet")

    if workload == "export_rdfxml":
        groups = gen.export_rdfxml(seed, size["groups"])
        cols = ["doc_sha"] + check.ROW_COLUMNS
        schema = pa.schema([(c, pa.string()) for c in cols])
        files = [[] for _ in range(n_files)]
        for g, (key, rows) in enumerate(groups):
            files[g % n_files] += [dict(zip(cols, (key, *r))) for r in rows]
        write(files, work / "input", schema)
        keys = [k for k, _ in groups]
        table = {"input": str(work / "input"), "warmup": str(work / "input"),
                 "groups": dict(groups),
                 "triples": sum(len(r) for _, r in groups),
                 "sample": rng.sample(keys, size["sample"])}
        return [table]

    schema = pa.schema([(c, pa.string()) for c in
                        ("repo", "path", "commit", "lang", "content")])
    variants = []
    for v in range(size["variants"] + 1):  # the last one warms up
        if workload == "crawl_small":
            docs, expected, malformed = gen.crawl_small(seed, size["docs"], v)
        else:
            docs, expected = gen.ontology_large(seed, size["docs"], size["lo"],
                                                size["hi"], v)
            malformed = set()
        order = list(range(len(docs)))
        random.Random(v).shuffle(order)
        path = work / f"input-{v}"
        files = [[docs[i] for i in order[k::n_files]] for k in range(n_files)]
        write(files, path, schema)
        contents = [d["content"] for d in docs]
        variants.append({
            "input": str(path), "contents": contents, "expected": expected,
            "malformed": malformed,
            "shas": {i: hashlib.sha256(c.encode()).hexdigest()
                     for i, c in enumerate(contents)},
            "triples": sum(len(r) for r in expected.values()),
            "bytes": sum(len(c.encode()) for c in contents)})
    variants[0]["warmup"] = variants.pop()["input"]
    sample = rng.sample(sorted(variants[0]["expected"]), size["sample"])
    for t in variants:
        t["sample"] = sample
    return variants


# --------------------------------------------------------------------------
# Spark lifetime


def master() -> str:
    return f"local[{host.nproc()}]"


def start_session():
    """The program's own session builder, then a first trivial job."""
    from rdf_rdfxml_spark.plans.pipeline import default_session
    spark = default_session(app="perfbench", master=master())
    spark.range(1).count()
    return spark


def shutdown() -> None:
    """Stop whatever context and JVM this process still holds."""
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def forget_session_state() -> None:
    """``encode_triples`` keeps its last dictionary probe cached in a
    module-level list and unpersists it on its next call; once the session
    that made it has stopped, that unpersist raises. Drop the stale entry
    before a job runs in a new session."""
    from rdf_rdfxml_spark.operators import linking
    getattr(linking, "_DICT_PROBE_CACHE", []).clear()


def event_log_on(log_dir: Path) -> None:
    """Every SparkContext created from now on in this JVM writes an
    uncompressed JSON event log into ``log_dir`` (JVM system properties
    are SparkConf defaults, so the program's session builder needs no
    change)."""
    from pyspark import SparkContext
    log_dir.mkdir(parents=True, exist_ok=True)
    props = SparkContext._jvm.java.lang.System
    props.setProperty("spark.eventLog.enabled", "true")
    props.setProperty("spark.eventLog.dir", log_dir.as_uri())
    props.setProperty("spark.eventLog.compress", "false")
    props.setProperty("spark.eventLog.rolling.enabled", "false")


# --------------------------------------------------------------------------
# the workloads' jobs: each returns after the output has committed


def job_crawl(spark, inputs, out: Path):
    from rdf_rdfxml_spark import cli
    with contextlib.redirect_stdout(io.StringIO()):
        cli.main(["--input", inputs["input"], "--output", str(out / "triples"),
                  "--format", "parquet", "--buckets",
                  str(SIZES["crawl_small"]["buckets"]),
                  "--errors-output", str(out / "errors"),
                  "--master", master()])


def ontology_chain(docs):
    from rdf_rdfxml_spark.operators.dedup import dedup_global
    from rdf_rdfxml_spark.operators.linking import (build_term_dictionary,
                                                    encode_triples)
    from rdf_rdfxml_spark.plans.pipeline import construct_graph
    triples = dedup_global(construct_graph(docs).triples)
    return encode_triples(triples, build_term_dictionary(triples))


def job_ontology(spark, inputs, out: Path):
    from rdf_rdfxml_spark.operators.materialize import materialize
    docs = spark.read.parquet(inputs["input"])
    materialize(ontology_chain(docs), str(out / "triples"),
                n_buckets=SIZES["ontology_large"]["buckets"])


def job_export(spark, inputs, out: Path):
    from rdf_rdfxml_spark.writer.serialize import write_rdfxml
    stored = spark.read.parquet(inputs["input"])
    write_rdfxml(stored, group_cols=("doc_sha",)) \
        .write.mode("overwrite").parquet(str(out / "xml"))


JOBS = {"crawl_small": job_crawl, "ontology_large": job_ontology,
        "export_rdfxml": job_export}


def check_run(workload: str, inputs, out: Path) -> list[str]:
    if workload == "export_rdfxml":
        return check.check_export(str(out / "xml"), inputs["groups"],
                                  inputs["sample"])
    if workload == "crawl_small":
        return check.check_documents(
            str(out / "triples"), str(out / "errors"), inputs["shas"],
            inputs["expected"], inputs["malformed"], inputs["sample"])
    problems = check.check_documents(
        str(out / "triples"), None, inputs["shas"], inputs["expected"],
        set(), inputs["sample"])
    ids = check.read_columns(str(out / "triples"), ["s_id", "p_id", "o_id"])
    if ids is None or any(c.null_count for c in ids.columns):
        problems.append("encoded triples with a missing term id")
    return problems


def output_of(workload: str, inputs, out: Path) -> tuple[int, int]:
    """(triples committed or rendered, bytes stored)."""
    if workload == "export_rdfxml":
        return inputs["triples"], check.dataset_bytes(str(out / "xml"))
    return (check.footer_rows(str(out / "triples")),
            check.dataset_bytes(str(out / "triples")))


def warm_up(workload, spark, inputs, work: Path) -> None:
    JOBS[workload](spark, dict(inputs, input=inputs["warmup"]),
                   work / "warmup-out")
    shutil.rmtree(work / "warmup-out", ignore_errors=True)


def timed_runs(workload, spark, tables, work: Path, seconds: float) -> list:
    """Run the job repeatedly for ``seconds`` (at least MIN_REPS times),
    checking every run's output outside the timed region."""
    warm_up(workload, spark, tables[0], work)
    runs, t_end = [], time.perf_counter() + seconds
    while len(runs) < MIN_REPS or time.perf_counter() < t_end:
        out = work / f"out-{len(runs)}"
        inputs = tables[len(runs) % len(tables)]
        rec = {"error": None, "problems": [], "input": inputs["input"]}
        with host.WorkerRss() as rss:
            t0 = time.perf_counter()
            try:
                JOBS[workload](spark, inputs, out)
            except Exception as e:  # a failed run is counted, not fatal
                rec["error"] = f"{type(e).__name__}: {e}"[:500]
            rec["job_s"] = time.perf_counter() - t0
        rec["worker_peak_rss_mb"] = rss.peak_mb
        if rec["error"] is None:
            try:
                rec["problems"] = check_run(workload, inputs, out)
                rec["triples"], rec["bytes"] = output_of(workload, inputs, out)
            except Exception as e:  # unreadable output fails the check
                rec["problems"] = [f"check raised {type(e).__name__}: {e}"]
        rec["ok"] = rec["error"] is None and not rec["problems"]
        shutil.rmtree(out, ignore_errors=True)
        runs.append(rec)
    return runs


def end_to_end(runs, setups) -> dict:
    job_s = statistics.median(r["job_s"] for r in runs)
    good = [r for r in runs if r["ok"]]
    triples = statistics.median(r["triples"] for r in good) if good else 0
    stored = statistics.median(r["bytes"] for r in good) if good else 0
    return {
        "setup_s": (statistics.median(setups), "s"),
        "job_s": (job_s, "s"),
        "triples_per_s": (triples / job_s, "1/s"),
        "worker_peak_rss_mb": (statistics.median(
            r["worker_peak_rss_mb"] for r in runs), "MB"),
        "stored_bytes_per_triple": (stored / triples if triples else 0.0,
                                    "B"),
        "ok_share": (len(good) / len(runs), "share"),
    }


# --------------------------------------------------------------------------
# traced run


def run_traced(workload, spark, tables, work: Path, tracer: Tracer) -> dict:
    """Traced main-job runs plus the layer ladder; returns per-layer
    metrics (see ``layers.py``)."""
    from perfbench import layers
    log_dir = work / "eventlog"
    event_log_on(log_dir)
    traced, cli_logs = [], []

    def traced_reps(spark):
        if spark is not None:  # a new session: its workers start cold
            warm_up(workload, spark, tables[0], work)
        for rep in range(TRACED_REPS):
            before = set(eventlog.logs_in(str(log_dir)))
            with tracer.span(f"main:{rep}") as sp:
                JOBS[workload](spark, tables[rep % len(tables)],
                               work / f"traced-{rep}")
            traced.append(sp["s"])
            shutil.rmtree(work / f"traced-{rep}", ignore_errors=True)
            new = [p for p in eventlog.logs_in(str(log_dir)) if p not in before]
            if new:  # the CLI's own SparkContext logged this run
                cli_logs.append((sp, eventlog.read(new[-1])))

    if workload == "crawl_small":
        traced_reps(None)
    else:
        spark.stop()
        forget_session_state()
    with tracer.span("session"):
        from rdf_rdfxml_spark.plans.pipeline import default_session
        spark = default_session(app="perfbench-traced", master=master())
        tracer.spark = spark
        spark.range(1).count()
    if workload != "crawl_small":
        traced_reps(spark)
    metrics = layers.ladder(workload, spark, tables[0], work, tracer,
                            SIZES[workload], JOBS[workload])
    tracer.spark = None
    spark.stop()
    session_log = eventlog.read(eventlog.logs_in(str(log_dir))[-1])
    return layers.attribute(workload, tables[0], metrics, session_log, tracer,
                            cli_logs, traced)


# --------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import rdf_rdfxml_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2

    ticks0 = host.cpu_ticks()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    reports = ROOT / ".perfbench_work" / "reports"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    reports.mkdir(parents=True, exist_ok=True)
    # Spark's and Python's scratch space stay inside the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={work / 'tmp'} "
                                       "-XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])

    tables = write_inputs(args.workload, args.seed, work, 2 * host.nproc())
    tracer = Tracer()
    spark = None
    try:
        setups = []
        for k in range(1 if args.trace else SETUPS):
            if spark is not None:
                shutdown()
            t0 = time.perf_counter()
            spark = start_session()
            setups.append(time.perf_counter() - t0)
        if args.workload == "crawl_small":
            spark.stop()  # the CLI builds its own, every run
            spark = None
        runs = timed_runs(args.workload, spark, tables, work, args.seconds)
        metrics = end_to_end(runs, setups)
        if args.trace:
            layer = run_traced(args.workload, spark, tables, work, tracer)
            untraced = metrics["job_s"][0]
            traced = layer.pop("_traced_job_s")
            layer["trace.untraced_job_s"] = (untraced, "s")
            layer["trace.overhead_s"] = (traced - untraced, "s")
            layer["trace.attributed_share"] = (
                layer["trace.layer_sum_s"][0] / untraced, "share")
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
    facts = host.facts(ticks0)
    if args.trace:
        shown = dict(layer)
        shown.update({"host.nproc": (facts["nproc"], "count"),
                      "host.loadavg_1m": (facts["loadavg_1m"], "load"),
                      "host.steal_share": (facts["steal_share"], "share")})
    else:
        shown = metrics
    failed = sum(not r["ok"] for r in runs)
    report = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "host": facts,
              "sizes": SIZES[args.workload], "setup_samples_s": setups,
              "job_s_samples": [r["job_s"] for r in runs],
              "runs": runs, "spans": tracer.spans,
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in shown.items()}}
    name = f"{args.workload}-{args.seed}-trace{args.trace}-{os.getpid()}.json"
    (reports / name).write_text(json.dumps(report, indent=1))
    print(json.dumps({k: report[k] for k in
                      ("workload", "seed", "host", "setup_samples_s",
                       "job_s_samples")}))
    print(json.dumps({"correct": failed == 0, "attempted": len(runs),
                      "failed": failed, "metrics": report["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
