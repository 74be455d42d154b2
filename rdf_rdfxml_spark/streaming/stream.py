"""Structured Streaming front-end (SURVEY.md §2.5 — streaming disposition).

The reference is strictly batch (whole-document DOM, reader.rb:161), so
streaming here means *incremental ingest of new documents*: a
``readStream`` over the documents table feeding the batch pipeline entry
(``construct_graph`` → ``materialize``) via ``foreachBatch``, with the
stream checkpoint keeping restarts from re-ingesting committed files.

Also provides the watermarked windowed aggregation over the ``events``
table — the standard late-data pattern (oracle-checked on the static
table as ``events_windowed`` in ``__spark_entry__``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import arrowcols
from ..operators.materialize import errors_alongside, materialize
from ..plans.pipeline import construct_graph
from ..schema import DOCUMENTS_SCHEMA


def stream_documents(spark: SparkSession, input_path: str,
                     schema=DOCUMENTS_SCHEMA,
                     max_files_per_trigger: int = 16) -> DataFrame:
    """File-source stream of document rows (new parquet files appear as the
    upstream crawler lands them)."""
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_path))


def stream_construct(docs_stream: DataFrame, output_path: str,
                     checkpoint_path: str, *, errors_path: str | None = None,
                     n_buckets: int = 16, **graph_opts):
    """documents stream → triples parquet (and error rows to
    ``errors_path``), via foreachBatch of the batch pipeline entry
    ``construct_graph(**graph_opts)`` → :func:`materialize`: one code path
    for batch and streaming, so a document gives the same rows on both."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        g = construct_graph(batch_df, **graph_opts)
        with errors_alongside(g, errors_path, mode="append"):
            materialize(g.triples, output_path, n_buckets=n_buckets,
                        mode="append")

    return (docs_stream.writeStream
            .option("checkpointLocation", checkpoint_path)
            .foreachBatch(process)
            .trigger(availableNow=True))


def windowed_event_counts(events: DataFrame, *, watermark: str = "2 hours",
                          window: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window aggregation (late rows beyond the
    watermark are dropped deterministically). Works on both a static and a
    streaming ``events`` DataFrame."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                 .alias("value_cents"))
            .select(F.unix_timestamp(F.col("w.start")).alias("window_start"),
                    "event_type", "n", "value_cents"))


def stream_neardup_flags(docs_stream: DataFrame, *,
                         watermark: str = "1 hour",
                         horizon_seconds: int = 3600,
                         ts_col: str = "ingested_at",
                         n_hashes: int = 64, n_bands: int = 8,
                         shingle: int = 5) -> DataFrame:
    """Streaming NEAR-dup detection at ingest: MinHash band hashes are
    computed document-locally in-stream (the same mapInArrow stage as
    batch, ``minhash_bands`` with the ingest timestamp passed through),
    then ``applyInPandasWithState`` keyed by ``(band_id, band_hash)``
    keeps the FIRST document seen per band bucket within the watermark
    horizon and flags every later arrival sharing the bucket.

    Output rows ``(doc_id, band_id, dup_of)``: ``doc_id`` shares a
    signature band with the earlier-ingested ``dup_of``. A document may
    be flagged on several bands — downstream consumers ``distinct()``
    or verify (exact jaccard) as in the batch pipeline; this stage's job
    is bounded-state candidate generation on an unbounded crawl stream
    (the streaming twin of ``minhash_candidates``; state per bucket is
    one (doc_id, ts) pair, dropped by event-time timeout).

    Single-batch semantics (availableNow over a static corpus) equal the
    batch rule "every doc except the bucket minimum, paired with the
    minimum, ordering by (ts, doc_id)" — which is SQL-expressible, so
    the driver oracle can check this path end-to-end.

    Horizon expiry is EVENT-TIME-DETERMINISTIC, enforced inside the
    state function (round-4 verdict nit #3): a bucket whose last event is
    more than ``horizon_seconds`` before the next arrival starts a new
    epoch — the newcomer becomes the bucket's first document and is NOT
    paired across the gap — regardless of how arrivals fall into
    microbatches. The state timeout is only garbage collection: relying
    on it for semantics would make expiry depend on whether a no-data
    microbatch happened to advance the watermark before the next arrival
    (a key that receives data in the same batch as its would-be timeout
    is handed its old state, not hasTimedOut).
    """
    from ..operators.sketch import minhash_bands

    bands = minhash_bands(
        docs_stream.select("doc_id", "text", F.col(ts_col)),
        n_hashes=n_hashes, n_bands=n_bands, shingle=shingle,
        passthrough=ts_col).withWatermark(ts_col, watermark)
    return _band_state_flags(bands, "band_hash", id_col="doc_id",
                             id_type="long", ts_col=ts_col,
                             horizon_seconds=horizon_seconds)


def _band_state_flags(bands: DataFrame, band_col: str, *, id_col: str,
                      id_type: str, ts_col: str,
                      horizon_seconds: int) -> DataFrame:
    """The band→state tail of every streaming near-dup flagger: group
    ``bands`` by ``(band_id, band_col)`` and run the shared epoch state
    function (:func:`_neardup_update_fn`) under an event-time timeout.
    Output rows ``(id_col, band_id, dup_of)``; ``id_type`` is the SQL
    type of the id (``long`` or ``string``)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    update = _neardup_update_fn(horizon_seconds, ts_col, id_col,
                                int if id_type == "long" else str)
    return (bands.groupBy("band_id", band_col)
            .applyInPandasWithState(
                update, f"{id_col} {id_type}, band_id int, dup_of {id_type}",
                f"first_doc {id_type}, first_ts long, last_ts long",
                "append", GroupStateTimeout.EventTimeTimeout))


def _signature_bands(stream: DataFrame, signature, *, id_col: str,
                     id_type: str, src_col: str, ts_col: str, n_bands: int,
                     width: int, watermark: str) -> DataFrame:
    """Per-row band emission of the signature-based flaggers (media and
    embedding): ``signature(cell)`` runs on each row's ``src_col`` value
    inside one in-stream mapInArrow stage (an exception drops the row —
    isolation), and the signature is split into ``n_bands`` contiguous
    ``width``-bit band values, one output row per band."""
    import pyarrow as pa

    def fn(it):
        ids_col = (arrowcols.int64s if id_type == "long"
                   else arrowcols.strings)
        for rb in it:
            ids = rb.column(rb.schema.get_field_index(id_col))
            cells = rb.column(rb.schema.get_field_index(src_col))
            ts = rb.column(rb.schema.get_field_index(ts_col))
            out_id, out_band, out_val, out_idx = [], [], [], []
            for k in range(rb.num_rows):
                try:
                    h = signature(cells[k].as_py())
                except Exception:   # isolation: bad item -> no signature
                    continue
                item = ids[k].as_py()
                for b in range(n_bands):
                    out_id.append(item)
                    out_band.append(b)
                    out_val.append((h >> (b * width)) % (1 << width))
                    out_idx.append(k)
            yield pa.RecordBatch.from_arrays(
                [ids_col(out_id), arrowcols.int32s(out_band),
                 arrowcols.int64s(out_val),
                 ts.take(arrowcols.int32s(out_idx))],
                names=[id_col, "band_id", "band_value", ts_col])

    return (stream.select(id_col, src_col, F.col(ts_col))
            .mapInArrow(fn, schema=f"{id_col} {id_type}, band_id int, "
                                   f"band_value long, {ts_col} timestamp")
            .withWatermark(ts_col, watermark))


def _neardup_update_fn(horizon_seconds: int, ts_col: str, id_col: str,
                       id_py):
    """The shared per-bucket epoch state function for streaming near-dup
    (text MinHash buckets AND media Hamming-band buckets): keep the
    first id seen per bucket within the event-time horizon, flag later
    arrivals, expire epochs EVENT-TIME-DETERMINISTICALLY (see
    :func:`stream_neardup_flags`'s docstring for the full semantics).
    ``id_py`` converts the pandas cell to the state's Python id type
    (``int`` for doc ids, ``str`` for media ids — ordering within a
    timestamp tie is the natural order of that type, mirrored by the
    oracles' ``MIN``)."""
    import pandas as pd

    def update(key, pdfs, state):
        band_id = int(key[0])
        if state.hasTimedOut:
            state.remove()
            return
        rows = []
        for pdf in pdfs:
            for d, ts in zip(pdf[id_col], pdf[ts_col]):
                rows.append((int(ts.timestamp()), id_py(d)))
        rows.sort()
        if state.exists:
            first_doc, first_ts, last_ts = state.get
        else:
            first_ts, first_doc = rows[0]
            last_ts = first_ts
        flagged = []
        for ts, d in rows:
            if ts > last_ts + horizon_seconds:
                # horizon passed with no bucket activity: expired — the
                # newcomer opens a new epoch, no pair across the gap
                first_doc, first_ts = d, ts
            elif d != first_doc:
                flagged.append((d, band_id, first_doc))
            last_ts = max(last_ts, ts)
        state.update((first_doc, first_ts, last_ts))
        # GC: retire the bucket horizon_seconds past its last event
        # (event-time clock — deterministic on replay; must stay ahead
        # of the watermark)
        state.setTimeoutTimestamp(
            max((last_ts + horizon_seconds) * 1000,
                state.getCurrentWatermarkMs() + 1))
        if flagged:
            yield pd.DataFrame(flagged,
                               columns=[id_col, "band_id", "dup_of"])

    return update


def stream_image_neardup_flags(media_stream: DataFrame, *,
                               watermark: str = "1 hour",
                               horizon_seconds: int = 3600,
                               ts_col: str = "ingested_at",
                               n_bands: int = 4,
                               payload_col: str = "payload") -> DataFrame:
    """Streaming IMAGE near-dup at ingest (round 7 — the streaming twin
    of :func:`~rdf_rdfxml_spark.operators.multimodal
    .image_neardup_candidates`): decode + 48-bit dHash + Hamming band
    split run in ONE in-stream ``mapInArrow`` stage (pixels never leave
    the stage; per-item decode failures are dropped, the stream never
    dies), then the SAME epoch-deterministic stateful flagger as the
    text path, keyed by ``(band_id, band_value)``.

    Output rows ``(media_id, band_id, dup_of)``: ``media_id`` shares a
    dHash band with the earlier-ingested ``dup_of``. Single-batch
    (availableNow) semantics equal the relational rule "every item
    except the bucket minimum by (ts, media_id), paired with the
    minimum" — SQL-expressible, so the driver oracle checks this path.
    State per live bucket is one (media_id, ts) pair; the pigeonhole
    property of the batch operator carries over per epoch (any pair
    within Hamming distance n_bands−1 ingested inside one horizon
    shares a band bucket and is flagged)."""
    from ..operators.multimodal import image_signature48
    return stream_media_neardup_flags(
        media_stream, image_signature48,
        watermark=watermark, horizon_seconds=horizon_seconds,
        ts_col=ts_col, n_bands=n_bands, payload_col=payload_col)


def stream_audio_neardup_flags(media_stream: DataFrame, *,
                               watermark: str = "1 hour",
                               horizon_seconds: int = 3600,
                               ts_col: str = "ingested_at",
                               n_bands: int = 4,
                               payload_col: str = "payload") -> DataFrame:
    """Streaming AUDIO near-dup at ingest: the gain-invariant 48-bit
    spectral fingerprint through the real decode path, same machinery
    and semantics as :func:`stream_image_neardup_flags`."""
    from ..operators.multimodal import audio_signature48
    return stream_media_neardup_flags(
        media_stream, audio_signature48,
        watermark=watermark, horizon_seconds=horizon_seconds,
        ts_col=ts_col, n_bands=n_bands, payload_col=payload_col)


def stream_video_neardup_flags(media_stream: DataFrame, *,
                               watermark: str = "1 hour",
                               horizon_seconds: int = 3600,
                               ts_col: str = "ingested_at",
                               n_bands: int = 4, every: int = 2,
                               payload_col: str = "payload") -> DataFrame:
    """Streaming VIDEO near-dup at ingest: the frame-majority dHash
    signature (real frame-splitting decode) through the generic media
    engine — completes the streaming near-dup matrix across every
    modality the engine decodes."""
    from ..operators.multimodal import video_signature48
    return stream_media_neardup_flags(
        media_stream, lambda p: video_signature48(p, every=every),
        watermark=watermark, horizon_seconds=horizon_seconds,
        ts_col=ts_col, n_bands=n_bands, payload_col=payload_col)


def stream_media_neardup_flags(media_stream: DataFrame, signature, *,
                               watermark: str = "1 hour",
                               horizon_seconds: int = 3600,
                               ts_col: str = "ingested_at",
                               n_bands: int = 4, bits: int = 48,
                               payload_col: str = "payload") -> DataFrame:
    """Generic streaming media near-dup engine: ``signature(payload) ->
    <=``bits``-bit int`` runs per item inside the in-stream mapInArrow
    stage (exceptions drop the item — isolation), bands split by
    contiguous bit ranges, then the shared epoch-deterministic stateful
    flagger keyed by ``(band_id, band_value)``."""
    bands = _signature_bands(
        media_stream, lambda p: signature(bytes(p or b"")),
        id_col="media_id", id_type="string", src_col=payload_col,
        ts_col=ts_col, n_bands=n_bands, width=bits // n_bands,
        watermark=watermark)
    return _band_state_flags(bands, "band_value", id_col="media_id",
                             id_type="string", ts_col=ts_col,
                             horizon_seconds=horizon_seconds)


def stream_decontaminate_flags(docs_stream: DataFrame, eval_grams, *,
                               n: int = 8, id_col: str = "doc_id",
                               text_col: str = "text") -> DataFrame:
    """STATELESS streaming decontamination: each arriving document is
    flagged with its count of DISTINCT blocked token n-grams, at ingest,
    with ZERO streaming state.

    The batch operator (operators/decontam.py) joins against a broadcast
    blocklist; the streaming arm goes one step further: benchmark suites
    are model-sized (MBs — the same argument as ANN centroids), so the
    distinct eval n-grams are DRIVER-collected and shipped once per
    executor as a broadcast variable, and the whole per-document
    computation happens inside one in-stream mapInArrow projection. No
    watermark, no state store, no shuffle — exactly-once comes free
    from the file-source checkpoint, and a restart replays only unseen
    files.

    Tokenization matches the batch/oracle rule (``lower`` → single-space
    split → drop empties → space-joined n-grams). The in-stage fold uses
    Python ``str.lower``, which agrees with SQL ``lower`` on the ASCII
    corpus the gate runs (documented seam — exotic locale-sensitive
    codepoints could diverge; the blocklist itself is built by the SQL
    side, so both engines' oracles stay self-consistent).

    Per-document isolation (CLAUDE.md): null/absent text folds to zero
    tokens; nothing in the stage can raise on hostile input.

    Output: ``(doc_id, n_hit_ngrams)`` for EVERY document (0 = clean),
    so the stream is a pure enrichment; filtering ``n_hit_ngrams > 0``
    reproduces the batch operator's contaminated set exactly.
    """
    import pyarrow as pa

    spark = docs_stream.sparkSession
    bl = spark.sparkContext.broadcast(frozenset(eval_grams))

    def fn(it):
        blocked = bl.value
        for rb in it:
            ids = rb.column(rb.schema.get_field_index(id_col))
            texts = rb.column(rb.schema.get_field_index(text_col))
            out_id, out_n = [], []
            for k in range(rb.num_rows):
                tx = texts[k].as_py() or ""
                toks = [t for t in tx.lower().split(" ") if t]
                if len(toks) >= n:
                    hits = len({" ".join(toks[j:j + n])
                                for j in range(len(toks) - n + 1)}
                               & blocked)
                else:
                    hits = 0
                out_id.append(ids[k].as_py())
                out_n.append(hits)
            yield pa.RecordBatch.from_arrays(
                [arrowcols.int64s(out_id), arrowcols.int64s(out_n)],
                names=[id_col, "n_hit_ngrams"])

    return (docs_stream.select(id_col, text_col)
            .mapInArrow(fn, schema=f"{id_col} long, n_hit_ngrams long"))


def stream_embedding_neardup_flags(emb_stream: DataFrame, planes, *,
                                   watermark: str = "1 hour",
                                   horizon_seconds: int = 3600,
                                   ts_col: str = "ingested_at",
                                   n_bands: int = 4,
                                   id_col: str = "vec_id",
                                   vec_col: str = "embedding") -> DataFrame:
    """Streaming EMBEDDING near-dup: random-hyperplane sign-bit
    signature (bit i set iff ``dot(v, planes[i]) >= 0``) computed in
    the in-stream Arrow stage against DRIVER-held plane vectors
    (model-sized, like ANN centroids — broadcast once per executor),
    then contiguous bit-bands into the shared epoch-deterministic state
    function. With text MinHash + image/audio/video Hamming bands this
    covers every near-dup modality in streaming.

    Cross-engine exactness: the dot is a SEQUENTIAL left-fold
    (``s += a*b`` term by term), the same IEEE op order as DuckDB's
    ``list_dot_product`` and the Spark HOF fold the batch ANN oracles
    already pin — so the oracle reproduces every sign bit. The raw dot
    (not cosine) decides the bit: same sign, and no 0/0 NaN seam for
    zero vectors (dot 0 -> bit set, both engines).

    State shape: one (first_id, ts) epoch per live (band_id,
    band_value) bucket — bounded by the band-value space and the
    event-time horizon, never by corpus size; each arrival emits at
    most n_bands flags, so output is linear in arrivals even when a
    band bucket is enormous (no pair explosion by construction).
    """
    n_bits = len(planes)
    assert n_bits % n_bands == 0
    bl = emb_stream.sparkSession.sparkContext.broadcast(
        [[float(x) for x in p] for p in planes])

    def sign_bits(v) -> int:
        sig = 0
        for i, p in enumerate(bl.value):
            s = 0.0
            for a, b in zip(v or [], p):  # sequential fold — see doc
                s += float(a) * float(b)
            if s >= 0.0:
                sig |= 1 << i
        return sig

    bands = _signature_bands(
        emb_stream, sign_bits, id_col=id_col, id_type="long",
        src_col=vec_col, ts_col=ts_col, n_bands=n_bands,
        width=n_bits // n_bands, watermark=watermark)
    return _band_state_flags(bands, "band_value", id_col=id_col,
                             id_type="long", ts_col=ts_col,
                             horizon_seconds=horizon_seconds)
