"""Per-partition metrics (SURVEY.md §2.4 D6).

The reference's only instrument is the CLI throughput line
(script/parse:42). Here metrics are a DataFrame aggregation over the
extraction output — cheap (map-side partial agg) and queryable, and the
max/median task-skew ratio is exactly the evidence the two-cluster-size
scaling gate needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_metrics(extracted: DataFrame) -> DataFrame:
    """(partition_id, docs, triples, errors) per physical partition."""
    return (extracted
            .withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(F.countDistinct("doc_sha").alias("docs"),
                 F.sum((F.col("rec") == "triple").cast("long")).alias("triples"),
                 F.sum((F.col("rec") == "error").cast("long")).alias("errors")))


def skew_ratio(extracted: DataFrame) -> float:
    """max/median docs-per-partition — balance check for the repartition
    strategy (BASELINE.md protocol step 5)."""
    pm = partition_metrics(extracted).select("docs").collect()
    counts = sorted(r["docs"] for r in pm)
    if not counts:
        return 0.0
    median = counts[len(counts) // 2]
    return counts[-1] / max(median, 1)
