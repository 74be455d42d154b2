"""Materialization + checkpoint/resume (SURVEY.md §2.4 D4/D5).

Triples are written as Parquet partitioned by a hash bucket of the subject
(``bucket=B``, ``pmod(xxhash64(s), n_buckets)``): subject-co-located
partitions make downstream graph joins (s↔s merges, star queries)
partition-prunable, and hashing avoids the skew a ``repo`` partition would
have at 10¹²-file scale (one giant repo ≠ one giant partition). Every
write rebalances on its partition columns (the REBALANCE hint) just before
``partitionBy``, so a ``bucket=B`` directory holds one file per AQE-sized
partition rather than one per upstream scan task: AQE sizes the
partitions (``advisoryPartitionSizeInBytes``) and splits an oversized
bucket into files near that size. File size therefore comes from AQE; the
bucket count sets only the pruning grain. :func:`materialize` is the one
triples writer (CLI, resume, streaming); it returns the rows written,
counted by an ``Observation`` on the write job.

Resume protocol (D5): documents are assigned to deterministic work units
``unit = (first 60 bits of sha256(content)) mod n_units`` — a pure function
of content that DuckDB can also compute, so the driver gate can verify the
assignment and the left_anti pending-set relationally. A manifest table records
completed units; on restart, pending work = ``left_anti`` join against the
manifest. Output nests ``unit=U/bucket=B`` (errors ``unit=U``) under dynamic
partition overwrite, and a batch's units are recorded only after its data
commits. Blank-node ids and doc_sha lineage are deterministic functions of
content (D1), so a re-run rewrites a unit's partitions with the same rows:
after a crash at any point, the re-run leaves exactly the one-shot output.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def observe_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row counter that rides on its next action (no second
    pass); read ``obs.get["n"]`` once that action has run."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def _write(df: DataFrame, path: str, mode: str, n_units: int | None,
           *cols: str) -> None:
    if n_units:   # resume layout: overwrite only the units df carries
        df = df.withColumn("unit", unit_expr(F.col("doc_sha"), n_units))
        cols = ("unit",) + cols
    # one file per partition directory per AQE-sized partition; never a
    # fixed count, which would make one task per bucket at any scale
    w = df.hint("rebalance", *cols).write.mode(mode).option(
        "partitionOverwriteMode", "dynamic" if n_units else "static")
    (w.partitionBy(*cols) if cols else w).parquet(path)


def materialize(triples: DataFrame, path: str, *, n_buckets: int = 256,
                mode: str = "overwrite", n_units: int | None = None) -> int:
    """Write ``bucket=B`` parquet partitions (``unit=U/bucket=B`` with
    ``n_units``, ``U`` the row's work unit); returns the rows written."""
    out, obs = observe_rows(triples.withColumn(
        "bucket", F.pmod(F.xxhash64("s"), F.lit(n_buckets)).cast("int")))
    _write(out, path, mode, n_units, "bucket")
    return int(obs.get["n"])


@contextmanager
def errors_alongside(g, errors_path: str | None, *,
                     mode: str = "overwrite", n_units: int | None = None):
    """The ``with`` body writes ``g.triples``; then ``g.errors`` goes to
    ``errors_path`` (``unit=U`` with ``n_units``) in :func:`materialize`'s
    ``mode``. With an errors path the extraction is persisted across both
    writes, so each document is parsed once; without one nothing is
    cached."""
    if errors_path is None:
        yield
        return
    g.extracted.persist()
    try:
        yield
        _write(g.errors, errors_path, mode, n_units)
    finally:
        g.extracted.unpersist()


def unit_expr(sha_col, n_units: int):
    """Work-unit id from a sha256 hex column: first 15 hex chars (60 bits,
    fits BIGINT exactly in Spark and DuckDB) mod ``n_units``. Engine-
    portable on purpose — the resume protocol is oracle-checked."""
    return F.pmod(
        F.conv(F.substring(sha_col, 1, 15), 16, 10).cast("bigint"),
        F.lit(n_units)).cast("int")


def assign_units(documents: DataFrame, n_units: int) -> DataFrame:
    return documents.withColumn(
        "unit", unit_expr(F.sha2(F.col("content"), 256), n_units))


def pending_units(spark: SparkSession, documents_with_units: DataFrame,
                  manifest_path: str) -> DataFrame:
    """Documents whose work unit is not yet recorded complete."""
    try:
        manifest = spark.read.parquet(manifest_path).select("unit")
    except Exception:
        return documents_with_units
    return documents_with_units.join(manifest, "unit", "left_anti")


def record_units(spark: SparkSession, units: list[int],
                 manifest_path: str) -> None:
    """Append ``units`` to the manifest (one ``unit int`` column; manifests
    that also carry an older ``completed_at`` column still resume, since
    :func:`pending_units` reads ``unit`` alone)."""
    spark.createDataFrame([(int(u),) for u in units], "unit int") \
        .write.mode("append").parquet(manifest_path)


def resumable_run(spark: SparkSession, documents: DataFrame,
                  output_path: str, manifest_path: str, *, n_units: int = 64,
                  units_per_batch: int = 16, n_buckets: int = 16,
                  errors_path: str | None = None, **graph_opts) -> dict:
    """Process pending units in deterministic batches through the one
    pipeline entry (``construct_graph(**graph_opts)`` → :func:`materialize`),
    recording each batch in the manifest after its data write commits. Safe
    to kill and restart at any point: a batch written but not recorded is
    re-run and overwrites its own unit partitions.

    Returns counters for observability.
    """
    from ..plans.pipeline import construct_graph

    pending = pending_units(spark, assign_units(documents, n_units),
                            manifest_path)
    unit_ids = sorted(
        r["unit"] for r in pending.select("unit").distinct().collect())
    triples_written = 0
    for i in range(0, len(unit_ids), units_per_batch):
        batch_units = unit_ids[i:i + units_per_batch]
        g = construct_graph(pending.filter(F.col("unit").isin(batch_units)),
                            **graph_opts)
        with errors_alongside(g, errors_path, n_units=n_units):
            triples_written += materialize(g.triples, output_path,
                                           n_buckets=n_buckets,
                                           n_units=n_units)
        record_units(spark, batch_units, manifest_path)
    return {"units_total": len(unit_ids), "units_done": len(unit_ids),
            "triples_written": triples_written}
