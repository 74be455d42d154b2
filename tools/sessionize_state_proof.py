"""Sessionize state-store bound under 10x key cardinality (round-4
verdict next-round #7).

``sessionize_stream`` (applyInPandasWithState, EventTimeTimeout) is
oracle-green at sf0.01, but its STATE GROWTH was unmeasured. The scale
question: state rows must track the number of sessions OPEN inside the
(gap + watermark) event-time window — a function of event RATE — not
the total key cardinality or the stream length; otherwise an unbounded
crawl stream OOMs the state store.

Corpus: two legs. 1x = sf0.1 events as-is (1,500 users, 100k events,
30 days). 10x = ten replicas with disjoint user ids AND disjoint time
windows (replica r shifted r x 31 days): 15,000 keys, 1M events,
310 days — same instantaneous concurrency as 1x. Each leg is written as
ts-ordered files and driven one file per micro-batch
(maxFilesPerTrigger=1, availableNow) so the watermark advances batch by
batch and event-time timeouts fire. Recorded per batch: state rows
total / updated / removed (Spark stateOperators metrics).

Pass criteria (printed + asserted):
  * peak state rows track CONCURRENCY, not cardinality: the 10x leg's
    peak stays within ~2x the 1x leg's peak despite 10x the keys and
    10x the stream length (the bound that stops an unbounded crawl
    stream from OOMing the store);
  * timeouts actually remove state (numRowsRemoved > 0);
  * emitted sessions + still-open state == the batch sessionizer's
    session count on the same corpus (exact conservation, both legs).

A first-cut design (replicas sharing the 30-day window) measured peak
state 13,675 = 0.91 x keys — correctly so: every user WAS live inside
one watermark+batch-span horizon. State is bounded by keys active per
horizon, which that corpus made equal to all of them; the time-shifted
corpus separates the two quantities.

Usage: PYSPARK_SUBMIT_ARGS="--driver-memory 8g pyspark-shell" \
         python tools/sessionize_state_proof.py
  (~2 min; quiet host; the driver heap is a launch-time setting)
Evidence lands in BASELINE.md (round-5 section).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICATE = 10
N_FILES = 30


def main():
    from pyspark.sql import functions as F
    from rdf_rdfxml_spark.plans.pipeline import default_session
    from rdf_rdfxml_spark.streaming.sessionize import (
        sessionize_batch, sessionize_stream,
    )

    spark = default_session(
        app="sessionize-state-proof",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    base = os.path.join(tempfile.gettempdir(), "rdfxml_spark_scratch",
                        "sessionize_proof")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")

    def run_leg(label: str, replicate: int, n_files: int) -> dict:
        src, out, ckpt = (os.path.join(base, f"{label}_{d}")
                          for d in ("in", "out", "ckpt"))
        reps = [ev.selectExpr(
            f"user_id + {10000 * r} AS user_id",
            f"CAST(ts + make_interval(0,0,0,{31 * r},0,0,0) "
            "AS TIMESTAMP) AS ts",
            "value") for r in range(replicate)]
        allev = reps[0]
        for r in reps[1:]:
            allev = allev.unionByName(r)
        allev = allev.persist()
        n_events = allev.count()
        n_users = allev.select("user_id").distinct().count()

        # ts-ordered files: one ntile bucket per file, appended in order
        # so file mtimes follow event time (the stream lists by mtime)
        bounds = (allev.selectExpr("ts").orderBy("ts")
                  .selectExpr(f"ntile({n_files}) OVER (ORDER BY ts) AS b",
                              "ts")
                  .groupBy("b").agg(F.max("ts").alias("hi"))
                  .orderBy("b").collect())
        lo = None
        for row in bounds:
            part = allev.filter(
                (F.col("ts") <= row["hi"])
                & (F.lit(True) if lo is None else (F.col("ts") > lo)))
            part.coalesce(1).write.mode("append").parquet(src)
            lo = row["hi"]
            time.sleep(0.05)  # distinct mtimes

        stream = (spark.readStream.schema(allev.select(
            "user_id", "ts", "value").schema)
            .option("maxFilesPerTrigger", 1).parquet(src))
        t0 = time.time()
        q = (sessionize_stream(stream).writeStream
             .option("checkpointLocation", ckpt)
             .format("parquet").option("path", out)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        wall = round(time.time() - t0, 2)

        batches = []
        for p in q.recentProgress:
            for op in p.get("stateOperators", []):
                batches.append({
                    "batch": p["batchId"],
                    "rows_in": p.get("numInputRows"),
                    "state_rows": op["numRowsTotal"],
                    "updated": op["numRowsUpdated"],
                    "removed": op["numRowsRemoved"]})
        peak = max(b["state_rows"] for b in batches)
        final_state = batches[-1]["state_rows"]
        removed_total = sum(b["removed"] for b in batches)
        emitted = spark.read.parquet(out).count()
        batch_sessions = sessionize_batch(
            allev.selectExpr("user_id", "ts", "value",
                             "CAST(0 AS LONG) AS event_id")).count()
        allev.unpersist()
        leg = {
            "n_events": n_events, "n_users": n_users, "wall_s": wall,
            "n_batches": len(batches), "peak_state_rows": peak,
            "final_state_rows": final_state,
            "state_removed_total": removed_total,
            "emitted_sessions": emitted,
            "batch_sessions": batch_sessions,
            "peak_state_over_users": round(peak / n_users, 3),
            "batches": batches,
        }
        assert removed_total > 0, "timeouts never removed state"
        assert emitted + final_state == batch_sessions, (
            f"{label}: conservation failed: "
            f"{emitted} + {final_state} != {batch_sessions}")
        return leg

    legs = {"1x": run_leg("1x", 1, N_FILES),
            "10x": run_leg("10x", REPLICATE, N_FILES)}
    p1, p10 = (legs[k]["peak_state_rows"] for k in ("1x", "10x"))
    result = {"legs": legs,
              "peak_ratio_10x_over_1x": round(p10 / p1, 2)}
    print(json.dumps(result, indent=1))
    assert p10 < 2 * p1, (
        f"10x keys must not 10x the state peak: {p10} vs 1x {p1}")
    spark.stop()
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
