"""stream_neardup state-store bound under 10x docs/buckets (round-5
verdict next-round #6 — the sessionize proof's twin for the near-dup
state operator).

``stream_neardup_flags`` keeps ONE (first_doc, first_ts, last_ts) row
per live (band_id, band_hash) bucket, GC'd by event-time timeout
``horizon`` past the bucket's last event. The scale question: peak
state rows must track the number of buckets LIVE inside the watermark
horizon — a function of ingest RATE — not the total bucket cardinality
or stream length; otherwise an unbounded crawl stream OOMs the store.

Corpus: two legs over the sf0.1 documents table. 1x = 5k docs (plus
20% near-in-time duplicates) spread over ~30 h, horizon 1 h. 10x = ten
alphabet-rotated replicas (distinct shingles → distinct buckets) in
DISJOINT 32 h windows: 10x docs, 10x buckets, 10x stream span — same
instantaneous rate. Each leg is driven file-per-microbatch
(maxFilesPerTrigger=1, availableNow) so watermarks advance and
event-time timeouts fire; per batch the stateOperators metrics record
state rows total / updated / removed.

Pass criteria (printed + asserted):
  * peak state rows track the LIVE-horizon bucket count: the 10x leg's
    peak stays within ~2x the 1x leg's peak despite 10x the buckets;
  * timeouts actually remove state (numRowsRemoved > 0);
  * the flag set EQUALS the batch epoch rule (per bucket, order by
    (ts, doc_id); an arrival > horizon after the bucket's last event
    opens a new epoch; every non-first row of an epoch is flagged with
    dup_of = the epoch's first doc) — the event-time-deterministic
    semantics are batching-invariant on both legs.

Usage: PYSPARK_SUBMIT_ARGS="--driver-memory 8g pyspark-shell" \
         python tools/stream_neardup_state_proof.py
  (~4 min; quiet host; the driver heap is a launch-time setting)
Evidence lands in BASELINE.md (round-6 section) +
perf_data/stream_neardup_state_10x.json.
"""

from __future__ import annotations

import json
import os
import shutil
import string
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
HORIZON_S = 3600
N_FILES = 10
BASE_TS = 1700000000


def main():
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from rdf_rdfxml_spark.operators.sketch import minhash_bands
    from rdf_rdfxml_spark.plans.pipeline import default_session
    from rdf_rdfxml_spark.streaming.stream import stream_neardup_flags

    spark = default_session(
        app="neardup-state-proof",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        shuffle_partitions=16)
    # keep every batch's progress: the 10x leg runs 100 microbatches and
    # the default recent-progress buffer also holds 100 — one short and
    # the peak could clip silently
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "250")
    spark.sparkContext.setLogLevel("ERROR")

    base = os.path.join(tempfile.gettempdir(), "rdfxml_spark_scratch",
                        "neardup_proof")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)

    docs0 = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
             .select("doc_id", "text"))
    az = string.ascii_lowercase

    def build_leg_corpus(replicate: int):
        """Each replica: docs arrive one per ~21 s (5k docs ≈ 30 h),
        plus every 5th doc re-ingested 2 min later under a new id (the
        in-horizon duplicate the flags exist for). Replica r rotates
        the alphabet (disjoint buckets) and shifts by 32 h (disjoint
        windows)."""
        parts = []
        for r in range(replicate):
            rot = az[r:] + az[:r]
            rep = docs0.selectExpr(
                f"doc_id + {r} * 10000000 AS doc_id",
                f"translate(text, '{az}', '{rot}') AS text",
                f"CAST({BASE_TS} + {r} * {32 * 3600} + doc_id * 21 "
                "AS TIMESTAMP) AS ingested_at")
            dup = docs0.filter("doc_id % 5 = 0").selectExpr(
                f"doc_id + {r} * 10000000 + 1000000 AS doc_id",
                f"translate(text, '{az}', '{rot}') AS text",
                f"CAST({BASE_TS} + {r} * {32 * 3600} + doc_id * 21 + 120 "
                "AS TIMESTAMP) AS ingested_at")
            parts.append(rep.unionByName(dup))
        alld = parts[0]
        for p in parts[1:]:
            alld = alld.unionByName(p)
        return alld.persist()

    def batch_epoch_rule(alld):
        """The documented event-time semantics, computed in batch SQL:
        per bucket, (ts, doc_id) order; epoch breaks at gaps > horizon;
        non-first rows of an epoch flag against the epoch's first doc
        (rows repeating the first doc are not flagged)."""
        bands = minhash_bands(
            alld.select("doc_id", "text", "ingested_at"),
            passthrough="ingested_at")
        b = bands.selectExpr("doc_id", "band_id", "band_hash",
                             "CAST(unix_timestamp(ingested_at) AS LONG)"
                             " AS ts")
        w = (Window.partitionBy("band_id", "band_hash")
             .orderBy("ts", "doc_id"))
        e = (b.withColumn("prev_ts", F.lag("ts").over(w))
             .withColumn("brk", F.expr(
                 f"CASE WHEN prev_ts IS NULL OR ts > prev_ts + "
                 f"{HORIZON_S} THEN 1 ELSE 0 END"))
             .withColumn("epoch", F.sum("brk").over(
                 w.rowsBetween(Window.unboundedPreceding, 0))))
        we = Window.partitionBy("band_id", "band_hash", "epoch")
        flags = (e.withColumn("first_doc", F.expr(
            "min_by(doc_id, struct(ts, doc_id))").over(we))
            .filter("doc_id != first_doc")
            .selectExpr("doc_id", "band_id", "first_doc AS dup_of"))
        return {(r["doc_id"], r["band_id"], r["dup_of"])
                for r in flags.collect()}

    def run_leg(label: str, replicate: int) -> dict:
        src, out, ckpt = (os.path.join(base, f"{label}_{d}")
                          for d in ("in", "out", "ckpt"))
        alld = build_leg_corpus(replicate)
        n_docs = alld.count()
        # ts-ordered files (mtime order = event-time order). Files scale
        # with the stream SPAN so each microbatch covers the same
        # event-time window on both legs: state GC fires at batch
        # boundaries, so a batch spanning 10x the event time would hold
        # 10x the horizon population live at once — that would measure
        # the batching, not the operator (first cut measured exactly
        # that: peak ratio 4.3 with a fixed file count).
        n_files = N_FILES * replicate
        bounds = (alld.selectExpr(
            f"ntile({n_files}) OVER (ORDER BY ingested_at) AS b",
            "ingested_at")
            .groupBy("b").agg(F.max("ingested_at").alias("hi"))
            .orderBy("b").collect())
        lo = None
        for row in bounds:
            part = alld.filter(
                (F.col("ingested_at") <= row["hi"])
                & (F.lit(True) if lo is None
                   else (F.col("ingested_at") > lo)))
            part.coalesce(1).write.mode("append").parquet(src)
            lo = row["hi"]
            time.sleep(0.05)
        stream = (spark.readStream.schema(alld.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        t0 = time.time()
        q = (stream_neardup_flags(stream, horizon_seconds=HORIZON_S)
             .writeStream.option("checkpointLocation", ckpt)
             .format("parquet").option("path", out)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        wall = round(time.time() - t0, 2)
        batches = []
        for p in q.recentProgress:
            for op in p.get("stateOperators", []):
                batches.append({"batch": p["batchId"],
                                "state_rows": op["numRowsTotal"],
                                "updated": op["numRowsUpdated"],
                                "removed": op["numRowsRemoved"]})
        peak = max(b["state_rows"] for b in batches)
        removed_total = sum(b["removed"] for b in batches)
        got = {(r["doc_id"], r["band_id"], r["dup_of"])
               for r in spark.read.parquet(out).collect()}
        want = batch_epoch_rule(alld)
        alld.unpersist()
        assert removed_total > 0, f"{label}: timeouts never removed state"
        assert got == want, (
            f"{label}: stream flags != batch epoch rule "
            f"({len(got)} vs {len(want)})")
        return {"n_docs": n_docs, "wall_s": wall,
                "n_batches": len(batches),
                "peak_state_rows": peak,
                "final_state_rows": batches[-1]["state_rows"],
                "state_removed_total": removed_total,
                "flags": len(got),
                "flags_match_batch_rule": True,
                "batches": batches}

    legs = {"1x": run_leg("1x", 1), "10x": run_leg("10x", 10)}
    p1, p10 = (legs[k]["peak_state_rows"] for k in ("1x", "10x"))
    result = {"horizon_s": HORIZON_S, "legs": legs,
              "peak_ratio_10x_over_1x": round(p10 / p1, 2)}
    print(json.dumps(result, indent=1))
    assert p10 < 2 * p1, (
        f"10x buckets must not 10x the state peak: {p10} vs 1x {p1}")
    spark.stop()
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
