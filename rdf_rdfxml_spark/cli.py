"""CLI driver — parity with the reference's ``script/parse`` (S6 in
SURVEY.md §2.1), spark-submit friendly:

    spark-submit --py-files rdf_rdfxml_spark.zip -m rdf_rdfxml_spark.cli ...
    python -m rdf_rdfxml_spark.cli --input docs.parquet --output out/ \
        --format parquet --resume-manifest manifest/

Reads a documents table (input_hint shape), runs the one pipeline entry
(``construct_graph``, each document parsed once — persisted across the two
writes when ``--errors-output`` is set), writes triples (``materialize``'s
``bucket=B`` parquet, NTriples text or RDF/XML) and prints the reference's
throughput line ("Parsed N statements in S seconds @ R statements/second.",
script/parse:42), N observed on the write job. ``--resume-manifest`` runs
``resumable_run`` with the same options: parquet only, nested
``unit=U/bucket=B`` (errors ``unit=U``), N counting this invocation's rows.
Parquet writes rebalance on their partition columns, so each partition
directory holds one file per AQE-sized partition: ``--buckets`` sets the
pruning grain, not the file size.
"""

from __future__ import annotations

import argparse
import sys
import time


def _nt_lines(triples):
    from pyspark.sql import functions as F
    s_enc = F.when(F.col("s_kind") == "bnode",
                   F.concat(F.lit("_:"), F.regexp_replace("s", "[^A-Za-z0-9]", ""))) \
             .otherwise(F.concat(F.lit("<"), F.col("s"), F.lit(">")))
    # NT is line-oriented: escape \ " and the control chars \n \r \t
    # (matching functions/nt.py _escape_literal) so a literal containing a
    # newline can't produce an invalid multi-line statement.
    esc = F.regexp_replace(F.col("o"), r"\\", r"\\\\")
    esc = F.regexp_replace(esc, '"', '\\\\"')
    esc = F.regexp_replace(esc, "\n", r"\\n")
    esc = F.regexp_replace(esc, "\r", r"\\r")
    esc = F.regexp_replace(esc, "\t", r"\\t")
    lit = F.concat(
        F.lit('"'),
        esc,
        F.lit('"'),
        F.when(F.col("o_lang").isNotNull(),
               F.concat(F.lit("@"), F.col("o_lang"))).otherwise(F.lit("")),
        F.when(F.col("o_dt").isNotNull(),
               F.concat(F.lit("^^<"), F.col("o_dt"), F.lit(">")))
        .otherwise(F.lit("")))
    o_enc = (F.when(F.col("o_kind") == "literal", lit)
             .when(F.col("o_kind") == "bnode",
                   F.concat(F.lit("_:"),
                            F.regexp_replace("o", "[^A-Za-z0-9]", "")))
             .otherwise(F.concat(F.lit("<"), F.col("o"), F.lit(">"))))
    return triples.select(F.concat(
        s_enc, F.lit(" <"), F.col("p"), F.lit("> "), o_enc, F.lit(" .")
    ).alias("value"))


def main(argv=None):
    ap = argparse.ArgumentParser(prog="rdf-rdfxml-spark")
    ap.add_argument("--input", required=True,
                    help="documents parquet path (repo,path,commit,lang,content)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--format", choices=["parquet", "ntriples", "rdfxml"],
                    default="parquet",
                    help="rdfxml re-serializes one RDF/XML document per "
                         "source doc (the reference writer's CLI role, "
                         "script/serialize) into parquet (doc_sha, xml)")
    ap.add_argument("--writer-attributes", choices=["none", "untyped",
                                                    "typed"],
                    default="none",
                    help="rdfxml format: property-attribute folding mode "
                         "(writer.rb prop_partition)")
    ap.add_argument("--errors-output", default=None)
    ap.add_argument("--base-uri", default="")
    ap.add_argument("--no-strict", action="store_true",
                    help="keep triples from documents with grammar errors")
    ap.add_argument("--canonicalize", action="store_true",
                    help="canonicalize XSD literal lexical forms "
                         "(reference reader option, off by default)")
    ap.add_argument("--repartition", type=int, default=None)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--resume-manifest", default=None,
                    help="enable checkpoint/resume with this manifest path")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)
    if args.resume_manifest and args.format != "parquet":
        ap.error("--resume-manifest writes parquet only, "
                 f"not --format {args.format}")

    from pyspark.sql import functions as F

    from .operators.materialize import (errors_alongside, materialize,
                                        observe_rows, resumable_run)
    from .plans.pipeline import construct_graph, default_session

    spark = default_session(app="rdf-rdfxml-spark-cli", master=args.master)
    docs = spark.read.parquet(args.input)
    if args.base_uri and "base_uri" not in docs.columns:
        docs = docs.withColumn("base_uri", F.lit(args.base_uri))
    opts = dict(strict=not args.no_strict, repartition=args.repartition,
                canonicalize=args.canonicalize)

    t0 = time.time()
    if args.resume_manifest:
        stats = resumable_run(spark, docs, args.output, args.resume_manifest,
                              n_buckets=args.buckets,
                              errors_path=args.errors_output, **opts)
        n = stats["triples_written"]
        print(f"Resume run: {stats['units_done']}/{stats['units_total']} "
              f"units this invocation.")
    else:
        g = construct_graph(docs, **opts)
        with errors_alongside(g, args.errors_output):
            if args.format == "parquet":
                n = materialize(g.triples, args.output,
                                n_buckets=args.buckets)
            else:
                # the throughput line counts statements, as the reference does
                t, obs = observe_rows(g.triples)
                if args.format == "rdfxml":
                    from .writer.serialize import write_rdfxml
                    write_rdfxml(t, group_cols=("doc_sha",),
                                 attributes=args.writer_attributes,
                                 base_uri=args.base_uri or None) \
                        .write.mode("overwrite").parquet(args.output)
                else:
                    _nt_lines(t).write.mode("overwrite").text(args.output)
                n = obs.get["n"]
    secs = time.time() - t0
    # parity with /root/reference/script/parse:42
    print(f"Parsed {n} statements in {secs:.2f} seconds @ "
          f"{n / secs:.1f} statements/second.")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
