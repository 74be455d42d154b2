"""Streaming, multimodal plumbing, P/R scoring, CLI driver."""
import subprocess
import sys
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from rdf_rdfxml_spark.operators.multimodal import (
    decode_image, extract_features, synth_media,
)
from rdf_rdfxml_spark.operators.score import pr_score
from rdf_rdfxml_spark.plans.pipeline import construct_graph
from rdf_rdfxml_spark.sources.fixtures import corpus
from rdf_rdfxml_spark.streaming.stream import (
    stream_construct, stream_documents, windowed_event_counts,
)

INPUT_COLS = ("repo", "path", "commit", "lang", "content", "base_uri")
REPO = Path(__file__).resolve().parents[1]


def _docs_df(spark, rows):
    return spark.createDataFrame([{k: r[k] for k in INPUT_COLS}
                                  for r in rows])


# --- streaming ---------------------------------------------------------------

def test_stream_construct_available_now(spark, tmp_path):
    rows = [r for r in corpus(2) if not r["negative"]]
    # one statement written twice: a set, so one row on every path
    rows.append({"repo": "r", "path": "repeat.rdf", "commit": "c",
                 "lang": "rdfxml", "base_uri": "", "content": (
                     '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/'
                     '22-rdf-syntax-ns#" xmlns:ex="http://e/">'
                     '<rdf:Description rdf:about="http://a/"><ex:p>v</ex:p>'
                     '<ex:p>v</ex:p></rdf:Description></rdf:RDF>')})
    src = str(tmp_path / "in")
    _docs_df(spark, rows).drop("base_uri").write.parquet(src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = stream_construct(stream_documents(spark, src, max_files_per_trigger=2),
                         out, ckpt).start()
    q.awaitTermination(120)
    triples = spark.read.parquet(out)
    batch = construct_graph(_docs_df(spark, rows)).triples
    assert triples.count() == batch.count()
    # restart with no new files: no duplicates (checkpoint held)
    q2 = stream_construct(stream_documents(spark, src), out, ckpt).start()
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == batch.count()


def test_windowed_event_counts_static(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # watermark on a static DF is a no-op; check rollup consistency
    w = windowed_event_counts(e)
    total = w.agg(F.sum("n")).first()[0]
    assert total == e.count()


# --- multimodal ---------------------------------------------------------------

def test_decode_stub_contract():
    # compressed-format payloads remain a declared seam...
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...payload")
    # ...with a deterministic fake decoder for plumbing tests
    a = decode_image(b"payload", fake=True)
    b = decode_image(b"payload", fake=True)
    assert a.shape == (8, 8, 3) and a.dtype.name == "uint8"
    assert (a == b).all()  # deterministic


def test_decode_ppm_and_bmp_real():
    import numpy as np
    from rdf_rdfxml_spark.operators.multimodal import (
        DecodeError, decode_bmp, decode_ppm, encode_ppm,
    )
    img = np.arange(5 * 3 * 3, dtype=np.uint8).reshape(3, 5, 3)
    assert (decode_ppm(encode_ppm(img)) == img).all()
    # PPM with a header comment
    assert (decode_image(b"P6\n# c\n5 3\n255\n" + img.tobytes()) == img).all()
    with pytest.raises(DecodeError):
        decode_ppm(b"P6\n5 3\n255\n\x00\x00")  # truncated raster
    # hand-built 2x2 bottom-up 24-bit BMP: rows padded to 4 bytes
    px_bgr = bytes([3, 2, 1, 6, 5, 4]) + b"\x00\x00" \
        + bytes([9, 8, 7, 12, 11, 10]) + b"\x00\x00"
    header = (b"BM" + (54 + len(px_bgr)).to_bytes(4, "little")
              + b"\x00" * 4 + (54).to_bytes(4, "little")
              + (40).to_bytes(4, "little")
              + (2).to_bytes(4, "little", signed=True)
              + (2).to_bytes(4, "little", signed=True)
              + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
              + b"\x00" * 24)
    got = decode_bmp(header + px_bgr)
    # bottom-up: file row 0 is the image's bottom row; BGR→RGB swapped
    assert got.tolist() == [[[7, 8, 9], [10, 11, 12]],
                            [[1, 2, 3], [4, 5, 6]]]
    # compression field lives at file offset 30
    bad = header[:30] + (8).to_bytes(4, "little") + header[34:]
    with pytest.raises(DecodeError):
        decode_bmp(bad + px_bgr)  # comp != BI_RGB


def test_extract_features_spark_real_ppm(spark):
    # synth_media now carries real encoded PPM payloads → the default
    # (non-fake) decode path runs end-to-end
    media = synth_media(spark, 32)
    rows = extract_features(media).collect()
    assert len(rows) == 32
    assert all(r["error"] is None for r in rows)
    assert all(len(r["feature"]) == 128 for r in rows)  # 64 bytes hex
    # same payload → same feature (deterministic across partitions)
    again = {r["media_id"]: r["feature"]
             for r in extract_features(media.repartition(8)).collect()}
    assert all(again[r["media_id"]] == r["feature"] for r in rows)


def test_extract_features_errors_isolated(spark):
    from pyspark.sql import functions as F
    media = synth_media(spark, 4).withColumn(
        "payload",
        F.when(F.col("media_id") == "m0001",
               F.lit(bytearray(b"\x89PNG no codec")))     # unknown format
        .when(F.col("media_id") == "m0002",
              F.lit(bytearray(b"P6\n8 8\n255\n\x00")))    # truncated PPM
        .otherwise(F.col("payload")))
    rows = {r["media_id"]: r for r in extract_features(media).collect()}
    assert rows["m0001"]["feature"] is None
    assert "NotImplementedError" in rows["m0001"]["error"]
    assert rows["m0002"]["feature"] is None
    assert "DecodeError" in rows["m0002"]["error"]
    assert rows["m0000"]["error"] is None  # healthy items unaffected
    assert rows["m0003"]["error"] is None


# --- P/R scoring ---------------------------------------------------------------

def test_pr_score_perfect_and_degraded(spark):
    rows = [r for r in corpus(2) if not r["negative"]]
    g = construct_graph(_docs_df(spark, rows)).triples.cache()
    perfect = pr_score(g, g).first()
    assert perfect["precision"] == 1.0 and perfect["recall"] == 1.0
    # drop whole documents from golden (per-doc canonical forms stay
    # intact) → recall 1, precision < 1
    some_docs = [r["doc_sha"] for r in
                 g.select("doc_sha").distinct().limit(5).collect()]
    golden_subset = g.filter(~F.col("doc_sha").isin(some_docs))
    r = pr_score(g, golden_subset).first()
    assert r["recall"] == 1.0 and r["precision"] < 1.0
    # bnode relabel-invariance: rename our bnode ids, score still perfect
    renamed = (g.withColumn(
        "s", F.when(F.col("s_kind") == "bnode",
                    F.concat(F.lit("zz"), F.col("s"))).otherwise(F.col("s")))
        .withColumn(
        "o", F.when(F.col("o_kind") == "bnode",
                    F.concat(F.lit("zz"), F.col("o"))).otherwise(F.col("o"))))
    r2 = pr_score(renamed, g).first()
    assert r2["precision"] == 1.0 and r2["recall"] == 1.0


# --- CLI -----------------------------------------------------------------------

def test_cli_end_to_end(spark, tmp_path):
    src = str(tmp_path / "docs")
    rows = [r for r in corpus(1)]
    _docs_df(spark, rows).write.parquet(src)
    out = str(tmp_path / "triples")
    err = str(tmp_path / "errors")
    proc = subprocess.run(
        [sys.executable, "-m", "rdf_rdfxml_spark.cli", "--input", src,
         "--output", out, "--errors-output", err, "--master", "local[4]",
         "--buckets", "4"],
        capture_output=True, text=True, cwd=REPO, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "statements/second." in proc.stdout
    assert spark.read.parquet(out).count() > 0
    assert spark.read.parquet(err).count() > 0  # negative fixtures

    # resume forwards every pipeline flag: its output equals the library
    # pipeline run with the same options
    out_r, err_r = str(tmp_path / "resumed"), str(tmp_path / "resumed_err")
    proc = subprocess.run(
        [sys.executable, "-m", "rdf_rdfxml_spark.cli", "--input", src,
         "--output", out_r, "--errors-output", err_r, "--master", "local[4]",
         "--buckets", "4", "--resume-manifest", str(tmp_path / "manifest"),
         "--canonicalize", "--no-strict", "--repartition", "2"],
        capture_output=True, text=True, cwd=REPO, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "Resume run:" in proc.stdout
    g = construct_graph(spark.read.parquet(src), strict=False,
                        canonicalize=True)
    t_cols = ["s", "s_kind", "p", "o", "o_kind", "o_lang", "o_dt", "doc_sha"]
    e_cols = ["doc_sha", "repo", "path", "commit", "error"]
    for got, want, cols in ((out_r, g.triples, t_cols),
                            (err_r, g.errors, e_cols)):
        assert (Counter(map(tuple, spark.read.parquet(got).select(*cols)
                            .collect()))
                == Counter(map(tuple, want.select(*cols).collect())))
    assert any(p.name.startswith("unit=") for p in (tmp_path / "resumed")
               .iterdir())

    # resume writes parquet only: other formats are refused, not ignored
    proc = subprocess.run(
        [sys.executable, "-m", "rdf_rdfxml_spark.cli", "--input", src,
         "--output", str(tmp_path / "nt"), "--format", "ntriples",
         "--resume-manifest", str(tmp_path / "manifest2")],
        capture_output=True, text=True, cwd=REPO, timeout=300)
    assert proc.returncode == 2
    assert "--resume-manifest" in proc.stderr


def test_dist_zip_importable(tmp_path):
    """The spark-submit --py-files artifact must be zipimport-complete:
    the zip is REBUILT first (a stale artifact hid lazily-imported
    modules once), then every package module the zip lists — including
    the lazy-imported codec ones — loads from the zip alone (a
    missing module would only surface as an executor-side ImportError
    on a real cluster)."""
    import subprocess as sp
    import sys as _sys

    sys.path.insert(0, str(REPO / "tools"))
    import package as pkg
    zip_path = tmp_path / "rdf_rdfxml_spark.zip"
    pkg.build(zip_path)
    r = sp.run(
        [_sys.executable, "-c",
         f"import sys; sys.path.insert(0, {str(zip_path)!r}); "
         "import importlib, pkgutil; "
         "import rdf_rdfxml_spark as m; "
         "assert m.__file__.startswith(sys.path[0]), m.__file__; "
         "names = [i.name for i in pkgutil.walk_packages("
         "m.__path__, 'rdf_rdfxml_spark.')]; "
         "assert 'rdf_rdfxml_spark.functions.xmldom' in names, names; "
         "[importlib.import_module(n) for n in names]; "
         "from rdf_rdfxml_spark.functions import xmldom; "
         "t, e = m.parse_rdfxml('<x/>', doc_key='z'); "
         "el = xmldom.parse_document('<a/>'); "
         "print('OK', len(e))"],
        capture_output=True, text=True, cwd=REPO,
        env={"PATH": "/usr/bin:/bin", "PYTHONPATH": ""})
    assert r.returncode == 0, r.stderr
    assert r.stdout.strip().startswith("OK")


def test_sample_frames_real(spark):
    # containers rotate PPM-sequence (even ids) / raw MJPEG (odd ids) —
    # decode_image handles each sampled frame either way
    from rdf_rdfxml_spark.operators.multimodal import (
        decode_image, sample_frames, split_ppm_frames, synth_video,
    )
    vids = synth_video(spark, 4, frames=12)
    rows = sample_frames(vids, every=4).collect()
    by_vid = {}
    for r in rows:
        assert r["error"] is None
        by_vid.setdefault(r["media_id"], []).append(r)
    assert set(by_vid) == {"v0000", "v0001", "v0002", "v0003"}
    for vid, rs in by_vid.items():
        assert sorted(r["frame_index"] for r in rs) == [0, 4, 8]
        for r in rs:
            img = decode_image(bytes(r["frame"]))
            assert img.shape == (6, 8, 3)
    # MJPEG frames really are JPEG
    assert all(bytes(r["frame"])[:3] == b"\xff\xd8\xff"
               for r in by_vid["v0001"])
    # sampled frame bytes match a local split of the same payload
    payload = bytes({r["media_id"]: r for r in vids.collect()}
                    ["v0000"]["payload"])
    local = split_ppm_frames(payload)
    got0 = [bytes(r["frame"]) for r in sorted(
        by_vid["v0000"], key=lambda r: r["frame_index"])]
    assert got0 == [local[0], local[4], local[8]]
    # corrupt container → per-item error row
    bad = vids.withColumn(
        "payload", F.when(F.col("media_id") == "v0001",
                          F.lit(bytearray(b"NOTPPM")))
        .otherwise(F.col("payload")))
    errs = [r for r in sample_frames(bad).collect()
            if r["media_id"] == "v0001"]
    assert len(errs) == 1 and "DecodeError" in errs[0]["error"]


def test_audio_features_real_wav(spark):
    import numpy as np
    from rdf_rdfxml_spark.operators.multimodal import (
        audio_features, decode_wav, encode_wav, synth_audio,
    )
    # local round-trip first
    samples = (np.sin(np.arange(800) / 10) * 10000).astype(np.int16)
    payload = encode_wav(samples.reshape(-1, 2), 16000)
    dec, rate = decode_wav(payload)
    assert rate == 16000 and dec.shape == (400, 2)
    assert (dec.reshape(-1) == samples).all()
    # Spark stage over the synthetic corpus
    rows = {r["media_id"]: r
            for r in audio_features(synth_audio(spark, 6)).collect()}
    assert len(rows) == 6
    assert all(r["error"] is None for r in rows.values())
    assert all(r["duration_ms"] == 50 and r["sample_rate"] == 8000
               and r["channels"] == 1 for r in rows.values())
    # a sine at 12000 amplitude has rms ≈ 12000/sqrt(2) ≈ 8485
    assert 8000 < rows["a0000"]["rms"] < 9000
    # non-WAV payload isolated
    from pyspark.sql import functions as F
    bad = synth_audio(spark, 2).withColumn(
        "payload", F.when(F.col("media_id") == "a0001",
                          F.lit(bytearray(b"ID3mp3data")))
        .otherwise(F.col("payload")))
    got = {r["media_id"]: r for r in audio_features(bad).collect()}
    assert "DecodeError" in got["a0001"]["error"]
    assert got["a0000"]["error"] is None


def test_decode_png_roundtrip_and_filters():
    """Real PNG decoder (stdlib zlib): encoder round trip, then every
    scanline filter type decoded against a hand-filtered payload built
    from the spec formulas (independent forward direction)."""
    import zlib

    import numpy as np

    from rdf_rdfxml_spark.operators.multimodal import (
        PNG_SIG, DecodeError, decode_image, decode_png, encode_png,
    )
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(9, 13, 3), dtype=np.uint8)
    assert (decode_png(encode_png(img)) == img).all()
    assert (decode_image(encode_png(img)) == img).all()  # dispatch

    # hand-build a PNG whose rows use filters 0..4 (spec §6 forward
    # transforms), expect the decoder to reconstruct the original
    def chunk(t, d):
        return (len(d).to_bytes(4, "big") + t + d
                + (zlib.crc32(t + d) & 0xFFFFFFFF).to_bytes(4, "big"))

    h, w, ch = 5, 6, 3
    px = rng.integers(0, 256, size=(h, w * ch), dtype=np.uint8).astype(int)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raw = b""
    for y, f in enumerate([0, 1, 2, 3, 4]):
        row = px[y]
        prev = px[y - 1] if y else np.zeros(w * ch, dtype=int)
        filt = np.empty(w * ch, dtype=int)
        for x in range(w * ch):
            a = row[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if f == 0:
                filt[x] = row[x]
            elif f == 1:
                filt[x] = (row[x] - a) % 256
            elif f == 2:
                filt[x] = (row[x] - b) % 256
            elif f == 3:
                filt[x] = (row[x] - ((a + b) >> 1)) % 256
            else:
                filt[x] = (row[x] - paeth(a, b, c)) % 256
        raw += bytes([f]) + bytes(filt.astype(np.uint8))
    ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, 2, 0, 0, 0]))
    payload = (PNG_SIG + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    assert (decode_png(payload) == px.reshape(h, w, ch)).all()

    # grayscale (ct=0) broadcasts to 3 channels; RGBA (ct=6) drops alpha
    gray = rng.integers(0, 256, size=(4, 5), dtype=np.uint8)
    graw = b"".join(b"\x00" + bytes(gray[y]) for y in range(4))
    gihdr = ((5).to_bytes(4, "big") + (4).to_bytes(4, "big")
             + bytes([8, 0, 0, 0, 0]))
    gp = (PNG_SIG + chunk(b"IHDR", gihdr)
          + chunk(b"IDAT", zlib.compress(graw)) + chunk(b"IEND", b""))
    got = decode_png(gp)
    assert got.shape == (4, 5, 3) and (got[:, :, 0] == gray).all() \
        and (got[:, :, 1] == gray).all()
    rgba = rng.integers(0, 256, size=(3, 4, 4), dtype=np.uint8)
    araw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(3))
    aihdr = ((4).to_bytes(4, "big") + (3).to_bytes(4, "big")
             + bytes([8, 6, 0, 0, 0]))
    ap = (PNG_SIG + chunk(b"IHDR", aihdr)
          + chunk(b"IDAT", zlib.compress(araw)) + chunk(b"IEND", b""))
    assert (decode_png(ap) == rgba[:, :, :3]).all()

    # hostile payloads fail loud-but-typed (per-item isolation upstream)
    import pytest as _pt
    good = encode_png(img)
    _pt.raises(DecodeError, decode_png, b"\x89PNGnope")
    _pt.raises(DecodeError, decode_png, good[:20])          # truncated
    bad_crc = bytearray(good)
    bad_crc[-5] ^= 0xFF  # corrupt IEND CRC
    _pt.raises(DecodeError, decode_png, bytes(bad_crc))
    deflate_junk = (PNG_SIG + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", b"not-deflate")
                    + chunk(b"IEND", b""))
    _pt.raises(DecodeError, decode_png, deflate_junk)


def test_pii_scrub_semantics(spark):
    from rdf_rdfxml_spark.operators.curation import pii_scrub
    df = spark.createDataFrame(
        [(1, "mail me at alice.smith+x@sub.example.co.uk or "
             "bob@ex.org, call 555-123-4567, host 192.168.0.12"),
         (2, "no pii here"),
         (3, "not-an-ip 999.999 and half-phone 555-1234")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert (rows[1]["n_emails"], rows[1]["n_phones"], rows[1]["n_ips"]) \
        == (2, 1, 1)
    assert (rows[2]["n_emails"], rows[2]["n_phones"], rows[2]["n_ips"]) \
        == (0, 0, 0)
    assert rows[3]["n_phones"] == 0 and rows[3]["n_ips"] == 0
    # scrubbed text really lost the PII (md5 of the fully-redacted string)
    import hashlib
    want = hashlib.md5(
        b"mail me at [EMAIL] or [EMAIL], call [PHONE], host [IP]"
    ).hexdigest()
    assert rows[1]["scrubbed_md5"] == want


def test_repetition_stats_semantics(spark):
    from rdf_rdfxml_spark.operators.curation import repetition_stats
    df = spark.createDataFrame(
        [(1, "spam spam spam spam"),            # max repetition
         (2, "all words here are distinct ok"),  # none
         (3, "solo")],                           # 1 word: no 2grams
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert rows[1]["dup_word_frac"] == 0.75
    assert rows[1]["dup_2gram_frac"] == round(1 - 1 / 3, 4)
    assert rows[1]["top_word_frac"] == 1.0
    assert rows[1]["keep"] is False
    assert rows[2]["dup_word_frac"] == 0.0
    assert rows[2]["top_word_frac"] == round(1 / 6, 4)
    assert rows[3]["n_words"] == 1 and rows[3]["dup_2gram_frac"] == 0.0


def test_stream_neardup_cross_batch_state(spark, tmp_path):
    """The property an availableNow single batch can't prove: a near-dup
    arriving in a LATER micro-batch must be flagged against the first
    occurrence held in bucket state from an EARLIER batch
    (maxFilesPerTrigger=1 forces one batch per file)."""
    import datetime as dt
    from rdf_rdfxml_spark.streaming.stream import stream_neardup_flags
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    original = ("a genuinely distinctive document about knowledge graph "
                "construction with spark catalyst plans and arrow batches "
                "plus salted joins and adaptive execution for the win")
    neardup = original.replace("catalyst", "catalist")
    unrelated = " ".join(f"tok{i}zz" for i in range(40))
    src = str(tmp_path / "nd_in")
    schema_str = "doc_id long, text string, ingested_at timestamp"
    # batch 1: the original + an unrelated doc
    spark.createDataFrame(
        [(1, original, t0), (2, unrelated, t0)], schema_str
    ).coalesce(1).write.parquet(src)
    # batch 2 (separate file): the near-dup, five minutes later
    spark.createDataFrame(
        [(3, neardup, t0 + dt.timedelta(minutes=5))], schema_str
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = str(tmp_path / "nd_out")
    ckpt = str(tmp_path / "nd_ckpt")
    q = (stream_neardup_flags(stream).writeStream
         .option("checkpointLocation", ckpt)
         .format("parquet").option("path", out)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = spark.read.parquet(out).collect()
    flagged = {(r["doc_id"], r["dup_of"]) for r in got}
    assert flagged == {(3, 1)}, flagged          # cross-batch flag only
    assert len(got) >= 1                          # >=1 shared band
    # the near-dup shares most bands with the original (j ~= 0.95)
    assert len({r["band_id"] for r in got}) >= 4


def test_write_rdfxml_grouped_fast_path(spark):
    """``write_rdfxml(grouped=True)`` — the zero-shuffle corpus-rewrite
    path — must produce the identical per-document XML as the
    repartition+sort path when its contiguity contract holds (triples
    straight from extraction, multiple input partitions)."""
    from rdf_rdfxml_spark.operators.extract import extract
    from rdf_rdfxml_spark.writer.serialize import write_rdfxml
    rdfns = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    docs = spark.createDataFrame(
        [(f'<rdf:RDF xmlns:rdf="{rdfns}" xmlns:v="http://example.org/v#">'
          f'<rdf:Description rdf:about="http://example.org/{i}">'
          f'<v:p xml:lang="en">text {i}</v:p>'
          f'<v:q rdf:resource="http://example.org/o{i % 7}"/>'
          f'</rdf:Description></rdf:RDF>', "http://example.org/")
         for i in range(50)],
        "content string, base_uri string").repartition(4)
    t = extract(docs).filter("rec='triple'").select(
        "doc_sha", "s", "s_kind", "p", "o", "o_kind", "o_lang", "o_dt")
    fast = {r["doc_sha"]: r["xml"]
            for r in write_rdfxml(t, grouped=True).collect()}
    slow = {r["doc_sha"]: r["xml"] for r in write_rdfxml(t).collect()}
    assert len(fast) == 50
    assert fast == slow


def test_stream_neardup_horizon_expiry(spark, tmp_path):
    """Watermark-expiry path end-to-end (round-4 verdict nit #3 /
    round-5 #4): a near-dup arriving more than ``horizon_seconds`` after
    the bucket's last event must NOT be paired across the gap — the
    bucket epoch expires and the newcomer becomes the new first
    document, pairing only with later in-horizon arrivals. Driven as
    checkpointed availableNow rounds whose ts span crosses the 1 h
    horizon (the configuration the gated oracle never exercises), with a
    watermark-advancing filler round in between so the state-store GC
    timeout also fires."""
    import datetime as dt
    from rdf_rdfxml_spark.streaming.stream import stream_neardup_flags
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    text = ("a genuinely distinctive document about knowledge graph "
            "construction with spark catalyst plans and arrow batches "
            "plus salted joins and adaptive execution for the win")
    filler = " ".join(f"tok{i}zz" for i in range(40))
    src = str(tmp_path / "exp_in")
    out = str(tmp_path / "exp_out")
    ckpt = str(tmp_path / "exp_ckpt")
    schema_str = "doc_id long, text string, ingested_at timestamp"
    schema = spark.createDataFrame([], schema_str).schema

    progress = []

    def run_round(rows):
        spark.createDataFrame(rows, schema_str).coalesce(1) \
            .write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (stream_neardup_flags(stream).writeStream
             .option("checkpointLocation", ckpt)
             .format("parquet").option("path", out)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        progress.append([p for p in q.recentProgress if p])

    filler2 = " ".join(f"yy{i}qq" for i in range(40))
    # round 1: doc 1 at T0 (+ filler establishing other buckets)
    run_round([(1, text, t0), (2, filler, t0)])
    # round 2: unrelated doc (no shared buckets) 3 hours later —
    # advances the watermark to T0+2h, past round 1's GC timeouts (T0+1h)
    run_round([(3, filler2, t0 + dt.timedelta(hours=3))])
    # round 3: docs 4 and 5 share doc 1's text, 3h+ after it (past the
    # horizon) but 10 s apart from each other (inside it)
    run_round([(4, text, t0 + dt.timedelta(hours=3, seconds=20)),
               (5, text, t0 + dt.timedelta(hours=3, seconds=30))])

    got = spark.read.parquet(out).collect()
    flagged = {(r["doc_id"], r["dup_of"]) for r in got}
    # no pair across the expired gap; the new epoch pairs internally
    assert all(d != 1 for _, d in flagged), flagged
    assert (5, 4) in flagged, flagged
    assert {(5, 4)} == flagged, flagged

    # GC: state rows for the expired epoch were removed by the event-time
    # timeout — the final round's live state covers only the current
    # epoch's buckets (docs 3/4/5), not every bucket ever seen (round 1's
    # 16 bucket rows must be gone: with 8 bands per doc, keeping them
    # would put the final total at 24+).
    def state_rows(plist):
        ns = [op["numRowsTotal"] for p in plist
              for op in p.get("stateOperators", [])]
        return ns[-1] if ns else None

    r1, r3 = state_rows(progress[0]), state_rows(progress[2])
    assert r1 and r1 > 0
    assert r3 is not None and r3 <= r1, (r1, r3)  # expired buckets gone


def test_decode_gif_real():
    """GIF decoder: palette-exact round trips (incl. 256-color and
    many-CLEAR streams), plus a hand-packed LZW stream exercising the
    KwKwK dictionary-growth case (code == next table slot) that the
    literal-only test encoder never emits."""
    import numpy as np

    from rdf_rdfxml_spark.operators.multimodal import (
        DecodeError, decode_gif, decode_image, encode_gif,
    )
    rng = np.random.default_rng(3)
    img = (rng.integers(0, 4, size=(11, 7, 1), dtype=np.uint8)
           .repeat(3, axis=2) * 60)
    assert (decode_gif(encode_gif(img)) == img).all()
    assert (decode_image(encode_gif(img)) == img).all()  # dispatch
    vals = np.arange(256, dtype=np.uint8)
    img256 = np.stack([vals, vals[::-1], (vals * 7) % 256],
                      axis=1).reshape(16, 16, 3).astype(np.uint8)
    assert (decode_gif(encode_gif(img256)) == img256).all()
    big = rng.integers(0, 256, size=(40, 50),
                       dtype=np.uint8)[..., None].repeat(3, 2)
    assert (decode_gif(encode_gif(big)) == big).all()  # many LZW clears

    # hand-packed stream, mcs=2 (clear=4, end=5), codes [4,1,6,1,5]:
    # code 6 == len(table) → KwKwK (entry = prev + prev[0]) → pixels 1,1,1,1
    pal = bytes([0, 0, 0, 10, 20, 30, 0, 0, 0, 0, 0, 0])
    payload = (b"GIF87a" + (2).to_bytes(2, "little")
               + (2).to_bytes(2, "little")
               + bytes([0x81, 0, 0]) + pal          # 4-entry global table
               + b"\x2c\x00\x00\x00\x00"
               + (2).to_bytes(2, "little") + (2).to_bytes(2, "little")
               + b"\x00" + bytes([2])               # mcs=2
               + bytes([2, 140, 83])                # one 2-byte sub-block
               + b"\x00\x3b")
    got = decode_gif(payload)
    assert got.shape == (2, 2, 3) and (got == [10, 20, 30]).all()

    import pytest as _pt
    _pt.raises(DecodeError, decode_gif, b"GIF87a")
    _pt.raises(DecodeError, decode_gif, encode_gif(img)[:30])
    _pt.raises(DecodeError, decode_gif, b"not a gif at all")
    # >256 colors can't be palettized losslessly
    grad = np.arange(1024, dtype=np.int32).reshape(32, 32)
    rich = np.stack([grad % 256, grad // 4 % 256, grad // 16 % 256],
                    axis=2).astype(np.uint8)
    _pt.raises(DecodeError, encode_gif, rich)


def test_compressed_audio_codecs():
    """G.711 mu-law/A-law and IMA ADPCM inside WAV: spec anchor values,
    companding-bounded roundtrips, and container dispatch."""
    import numpy as np

    from rdf_rdfxml_spark.operators.multimodal import (
        DecodeError, _alaw_decode, _ima_adpcm_decode, _mulaw_decode,
        decode_wav, encode_wav_compressed,
    )
    # anchors from the G.711 tables
    mu = _mulaw_decode(np.array([0xFF, 0x7F, 0x80, 0x00], dtype=np.uint8))
    assert mu.tolist() == [0, 0, 32124, -32124]
    al = _alaw_decode(np.array([0x55, 0xD5, 0x2A, 0xAA], dtype=np.uint8))
    assert al.tolist() == [-8, 8, -32256, 32256]

    rng = np.random.default_rng(5)
    s = rng.integers(-30000, 30000, size=4000).astype(np.int16)
    for codec, tol in (("mulaw", 0.04), ("alaw", 0.04)):
        wav = encode_wav_compressed(s.reshape(-1, 1), 8000, codec)
        got, rate = decode_wav(wav)
        assert rate == 8000 and got.shape == (4000, 1)
        rel = (np.abs(got[:, 0].astype(int) - s.astype(int))
               / np.maximum(np.abs(s.astype(int)), 256))
        assert rel.max() <= tol  # 8-bit companding quantization bound

    # ADPCM: differential codec, check on a smooth signal
    t = np.arange(6000)
    sig = (8000 * np.sin(t / 30) + 3000 * np.sin(t / 7)).astype(np.int16)
    wav = encode_wav_compressed(sig.reshape(-1, 1), 16000, "adpcm")
    got, rate = decode_wav(wav)
    assert rate == 16000
    n = min(len(got), len(sig))
    err = np.abs(got[:n, 0].astype(int) - sig[:n].astype(int))
    assert err.mean() < 100  # tracks the signal
    # compression is real: 4 bits/sample vs 16
    assert len(wav) < len(sig) * 2 * 0.3

    # declared limits fail loudly
    import pytest as _pt
    bad = bytearray(encode_wav_compressed(sig.reshape(-1, 1), 16000,
                                          "adpcm"))
    bad[22] = 2  # claim stereo ADPCM
    _pt.raises(DecodeError, decode_wav, bytes(bad))
    _pt.raises(DecodeError, _ima_adpcm_decode, b"", 4)


def test_mjpeg_frame_split_and_decode():
    """Raw MJPEG container: frame boundaries found safely (byte stuffing
    means a bare FFD9 only ever ends a frame), every sampled frame
    decodes with the baseline JPEG codec."""
    import numpy as np

    from rdf_rdfxml_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from rdf_rdfxml_spark.operators.multimodal import (
        DecodeError, split_mjpeg_frames, split_video_frames,
    )
    rng = np.random.default_rng(8)
    imgs = [rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
            for _ in range(5)]
    payload = b"".join(encode_jpeg(im, quality=90) for im in imgs)
    fs = split_mjpeg_frames(payload)
    assert len(fs) == 5
    for f, im in zip(fs, imgs):
        dec = decode_jpeg(f)
        assert dec.shape == (6, 8, 3)
        assert np.abs(dec.astype(int) - im.astype(int)).mean() < 60
    assert split_video_frames(payload) == fs       # dispatch
    import pytest as _pt
    _pt.raises(DecodeError, split_mjpeg_frames, payload[:-2])  # no EOI
    _pt.raises(DecodeError, split_mjpeg_frames, b"junk" + payload)


def test_mjpeg_split_survives_marker_payload_ffd9():
    """A bare FF D9 inside a marker SEGMENT (not entropy data) must not
    terminate the frame: byte stuffing only protects entropy-coded data,
    so a DQT quant value 255 followed by 0xD9 — or, as built here, a COM
    segment containing FF D9 — defeats a raw find() scan (round-3
    ADVICE). The segment-walking splitter reads past it."""
    import numpy as np

    from rdf_rdfxml_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from rdf_rdfxml_spark.operators.multimodal import split_mjpeg_frames
    rng = np.random.default_rng(9)
    imgs = [rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
            for _ in range(3)]

    def with_trap(jpg: bytes) -> bytes:
        # inject a COM segment whose payload spells FF D9 right after SOI
        com = b"\xff\xfe" + (2 + 4).to_bytes(2, "big") + b"x\xff\xd9y"
        return jpg[:2] + com + jpg[2:]

    payload = b"".join(with_trap(encode_jpeg(im, quality=90))
                       for im in imgs)
    fs = split_mjpeg_frames(payload)
    assert len(fs) == 3
    for f, im in zip(fs, imgs):
        dec = decode_jpeg(f)
        assert dec.shape == (6, 8, 3)
        assert np.abs(dec.astype(int) - im.astype(int)).mean() < 60


def test_image_decoders_bound_hostile_expansion():
    """Decompression bombs raise DecodeError BEFORE allocating the
    expanded output (round-3 ADVICE): PNG inflate is capped at the
    declared raster size, GIF LZW stops once output exceeds w*h, and
    absurd declared dimensions hit the MAX_PIXELS cap up front."""
    import zlib

    import numpy as np
    import pytest

    from rdf_rdfxml_spark.operators.multimodal import (
        DecodeError, decode_gif, decode_png, encode_gif, encode_png,
    )

    def chunk(t, d):
        return (len(d).to_bytes(4, "big") + t + d
                + (zlib.crc32(t + d) & 0xFFFFFFFF).to_bytes(4, "big"))

    # 2x2 RGB PNG whose IDAT inflates to ~10 MB (a ~50000:1 bomb)
    ihdr = ((2).to_bytes(4, "big") + (2).to_bytes(4, "big")
            + bytes([8, 2, 0, 0, 0]))
    bomb = zlib.compress(b"\x00" * 10_000_000, 9)
    payload = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", bomb) + chunk(b"IEND", b""))
    with pytest.raises(DecodeError, match="inflates past"):
        decode_png(payload)

    # declared dimensions beyond the pixel cap fail before allocation
    huge = ((60000).to_bytes(4, "big") + (60000).to_bytes(4, "big")
            + bytes([8, 2, 0, 0, 0]))
    payload = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", huge)
               + chunk(b"IDAT", zlib.compress(b"")) + chunk(b"IEND", b""))
    with pytest.raises(DecodeError, match="pixel|cap"):
        decode_png(payload)

    # GIF: shrink the declared raster of a real 4x4 image to 2x2 — the
    # LZW stream now over-produces and must stop at the bound
    img = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    g = bytearray(encode_gif(img))
    # image descriptor starts after header(6)+screen(7)+global color table
    i = 13 + 3 * (2 << (g[10] & 0x07)) if g[10] & 0x80 else 13
    assert g[i] == 0x2C
    g[i + 5:i + 7] = (2).to_bytes(2, "little")
    g[i + 7:i + 9] = (2).to_bytes(2, "little")
    with pytest.raises(DecodeError, match="exceeds raster"):
        decode_gif(bytes(g))


def test_xsd_rejects_nonascii_digits():
    """Non-ASCII Unicode digits are not valid XSD lexical forms — they
    pass through unchanged instead of being 'canonicalized' (round-3
    ADVICE: bare \\d and str.isdigit both accept them)."""
    from rdf_rdfxml_spark.functions.xsd import XSD, canonicalize_literal
    for value in ("١٢٣", "0٣", "١.5", "+٣"):
        for dt in ("integer", "decimal", "double"):
            assert canonicalize_literal(value, XSD + dt) == value
    # ASCII forms still canonicalize
    assert canonicalize_literal("007", XSD + "integer") == "7"
    assert canonicalize_literal("00.50", XSD + "decimal") == "0.5"


def test_cli_rdfxml_format(spark, tmp_path):
    """--format rdfxml: the CLI re-serializes one RDF/XML document per
    source doc through the writer stage (the reference writer's CLI
    role) and the output re-parses to the same per-doc triple counts."""
    import subprocess
    import sys

    src = str(tmp_path / "docs")
    rows = [r for r in corpus(1) if not r["negative"]]
    _docs_df(spark, rows).write.parquet(src)
    out = str(tmp_path / "xml")
    proc = subprocess.run(
        [sys.executable, "-m", "rdf_rdfxml_spark.cli", "--input", src,
         "--output", out, "--format", "rdfxml", "--no-strict",
         "--master", "local[4]"],
        capture_output=True, text=True, cwd=REPO, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "statements/second." in proc.stdout
    got = spark.read.parquet(out)
    assert set(got.columns) == {"doc_sha", "xml"}
    n_docs = got.count()
    assert n_docs > 0
    # every emitted document re-parses cleanly
    from rdf_rdfxml_spark import parse_rdfxml
    for r in got.collect()[:20]:
        triples, errors = parse_rdfxml(r["xml"], doc_key=r["doc_sha"])
        assert not errors and triples


def test_png_adam7_interlace_decode():
    """Adam7-interlaced PNG reconstructs pixel-exactly: a hand-built
    interlaced payload (7 passes, filter-0 rows) must decode equal to
    the plain encoding of the same image."""
    import zlib

    import numpy as np

    from rdf_rdfxml_spark.operators.multimodal import (
        _ADAM7, decode_png,
    )

    def chunk(t, d):
        return (len(d).to_bytes(4, "big") + t + d
                + (zlib.crc32(t + d) & 0xFFFFFFFF).to_bytes(4, "big"))

    rng = np.random.default_rng(21)
    for h, w in [(9, 13), (8, 8), (1, 5), (3, 2), (16, 17)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        raw = b""
        for x0, y0, dx, dy in _ADAM7:
            sub = img[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            for row in sub:
                raw += b"\x00" + row.tobytes()
        ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
                + bytes([8, 2, 0, 0, 1]))  # interlace=1
        payload = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                   + chunk(b"IDAT", zlib.compress(raw))
                   + chunk(b"IEND", b""))
        assert (decode_png(payload) == img).all(), (h, w)


def test_gif_interlace_decode():
    """Interlaced GIF: encode the image with rows pre-ordered into the
    four passes and the interlace flag set — decode must reorder back to
    the original."""
    import numpy as np

    from rdf_rdfxml_spark.operators.multimodal import (
        decode_gif, encode_gif,
    )
    rng = np.random.default_rng(22)
    for h, w in [(11, 7), (8, 8), (3, 4), (17, 5)]:
        img = (rng.integers(0, 4, size=(h, w, 1), dtype=np.uint8)
               .repeat(3, axis=2) * 60)
        order = ([*range(0, h, 8)] + [*range(4, h, 8)]
                 + [*range(2, h, 4)] + [*range(1, h, 2)])
        g = bytearray(encode_gif(img[order]))
        i = 13 + 3 * (2 << (g[10] & 0x07)) if g[10] & 0x80 else 13
        assert g[i] == 0x2C
        g[i + 9] |= 0x40  # set the interlace flag
        assert (decode_gif(bytes(g)) == img).all(), (h, w)


def test_flac_roundtrip_and_compression():
    """FLAC encode/decode: lossless round trips across channel counts,
    block sizes and predictor orders; a sine actually COMPRESSES under
    the fixed predictor (the codec is real, not a container)."""
    import numpy as np

    from rdf_rdfxml_spark.operators.flac import decode_flac, encode_flac
    rng = np.random.default_rng(31)
    for n, ch, order in [(1000, 1, 2), (2048, 2, 1), (555, 2, -1),
                         (100, 1, 0), (3000, 2, 4), (1, 1, 2)]:
        s = rng.integers(-2000, 2000, size=(n, ch)).astype(np.int32)
        dec, rate, bps = decode_flac(encode_flac(s, 8000,
                                                 fixed_order=order))
        assert rate == 8000 and bps == 16
        assert (dec == s).all(), (n, ch, order)
    t = np.arange(4000) / 8000.0
    sine = (np.sin(2 * np.pi * 440 * t) * 12000).astype(np.int32)
    payload = encode_flac(sine.reshape(-1, 1), 8000, fixed_order=2)
    assert (decode_flac(payload)[0].reshape(-1) == sine).all()
    assert len(payload) < sine.size * 2 * 0.8  # beats raw PCM16 by >20%


def test_flac_stereo_decorrelation_and_lpc():
    """Hand-built frames exercise the decode paths our encoder does not
    emit: mid/side + left/side channel assignments and an LPC subframe
    (coefficients [2,-1], shift 0 — numerically equals the fixed order-2
    predictor, so expected output is known exactly)."""
    import numpy as np

    import rdf_rdfxml_spark.operators.flac as FL

    def build(ch_code, subframes, blocksize, bps=16, rate_code=4):
        bw = FL._BitWriter()
        bw.write(0x3FFE, 14)
        bw.write(0, 2)
        bw.write(7, 4)            # blocksize: 16-bit at end - 1
        bw.write(rate_code, 4)    # 8000 Hz
        bw.write(ch_code, 4)
        bw.write(4, 3)            # 16 bps
        bw.write(0, 1)
        bw.write(0, 8)            # frame number 0
        bw.write(blocksize - 1, 16)
        bw.align()
        bw.write(FL._crc8(bytes(bw.out)), 8)
        for vals, sub_bps in subframes:
            bw.write(0, 1)
            bw.write(1, 6)        # VERBATIM
            bw.write(0, 1)
            for v in vals:
                bw.write(int(v) & ((1 << sub_bps) - 1), sub_bps)
        bw.align()
        bw.write(FL._crc16(bytes(bw.out)), 16)
        return bytes(bw.out)

    def stream(frame, channels):
        si = ((((((0 << 16 | 16) << 16 | 16) << 48 | 0) << 20 | 8000)
               << 3 | (channels - 1)) << 5 | 15) << 36 | 0
        si <<= 128
        return (b"fLaC" + bytes([0x80, 0, 0, 34]) + si.to_bytes(34, "big")
                + frame)

    rng = np.random.default_rng(33)
    L = rng.integers(-5000, 5000, size=16).astype(np.int64)
    R = rng.integers(-5000, 5000, size=16).astype(np.int64)
    # mid/side (ch_code 10): mid = (L+R)>>1, side = L-R (side is bps+1)
    mid, side = (L + R) >> 1, L - R
    dec, rate, _ = FL.decode_flac(stream(
        build(10, [(mid, 16), (side, 17)], 16), 2))
    assert rate == 8000
    assert (dec[:, 0] == L).all() and (dec[:, 1] == R).all()
    # left/side (ch_code 8): side = L - R
    dec, _, _ = FL.decode_flac(stream(
        build(8, [(L, 16), (L - R, 17)], 16), 2))
    assert (dec[:, 0] == L).all() and (dec[:, 1] == R).all()
    # side/right (ch_code 9)
    dec, _, _ = FL.decode_flac(stream(
        build(9, [(L - R, 17), (R, 16)], 16), 2))
    assert (dec[:, 0] == L).all() and (dec[:, 1] == R).all()

    # LPC subframe equal to fixed order-2: coefs [2, -1], shift 0
    s = np.cumsum(rng.integers(-50, 50, size=32)).astype(np.int64)
    bw = FL._BitWriter()
    bw.write(0x3FFE, 14)
    bw.write(0, 2)
    bw.write(7, 4)
    bw.write(4, 4)
    bw.write(0, 4)                # 1 channel
    bw.write(4, 3)
    bw.write(0, 1)
    bw.write(0, 8)
    bw.write(len(s) - 1, 16)
    bw.align()
    bw.write(FL._crc8(bytes(bw.out)), 8)
    bw.write(0, 1)
    bw.write(0x20 | (2 - 1), 6)   # LPC, order 2
    bw.write(0, 1)
    for v in s[:2]:
        bw.write(int(v) & 0xFFFF, 16)
    bw.write(15 - 1, 4)           # qlp precision 15
    bw.write(0, 5)                # shift 0
    bw.write(2 & 0x7FFF, 15)      # coef 2
    bw.write(-1 & 0x7FFF, 15)     # coef -1
    resid = [int(s[i] - (2 * s[i - 1] - s[i - 2])) for i in range(2, len(s))]
    bw.write(0, 2)
    bw.write(0, 4)
    bw.write(6, 4)                # rice param 6
    for r in resid:
        v = (abs(r) << 1) - (1 if r < 0 else 0)
        q, rem = v >> 6, v & 63
        for _ in range(q):
            bw.write(0, 1)
        bw.write(1, 1)
        bw.write(rem, 6)
    bw.align()
    bw.write(FL._crc16(bytes(bw.out)), 16)
    dec, _, _ = FL.decode_flac(stream(bytes(bw.out), 1))
    assert (dec.reshape(-1) == s).all()


def test_flac_typed_error_fuzz():
    """Bit flips over a FLAC payload stay inside DecodeError (CRCs catch
    most; structure errors the rest)."""
    import numpy as np

    from rdf_rdfxml_spark.operators.flac import decode_flac, encode_flac
    from rdf_rdfxml_spark.operators.multimodal import DecodeError
    rng = np.random.default_rng(34)
    s = rng.integers(-999, 999, size=(400, 2)).astype(np.int32)
    payload = encode_flac(s, 8000)
    for _ in range(300):
        b = bytearray(payload)
        j = int(rng.integers(4, len(b)))
        b[j] ^= 1 << int(rng.integers(0, 8))
        try:
            decode_flac(bytes(b))
        except DecodeError:
            pass
        except Exception as e:  # noqa: BLE001
            raise AssertionError(
                f"untyped escape at byte {j}: {type(e).__name__}: {e}")


def test_audio_features_flac_in_rotation(spark):
    """synth_audio item 4 is native FLAC — the distributed feature UDF
    must decode it through the dispatch with no error rows."""
    from rdf_rdfxml_spark.operators.multimodal import (
        audio_features, synth_audio,
    )
    rows = {r["media_id"]: r
            for r in audio_features(synth_audio(spark, 10)).collect()}
    assert rows["a0004"]["error"] is None
    assert rows["a0009"]["error"] is None
    assert rows["a0004"]["duration_ms"] == 50
    assert rows["a0004"]["sample_rate"] == 8000
    # FLAC (lossless) rms must EQUAL the PCM item's rms for the same tone
    # family amplitude (~12000/sqrt(2))
    assert 8000 < rows["a0004"]["rms"] < 9000


def test_flac_lpc_encoder_roundtrip_and_wins():
    """Levinson-Durbin LPC encoding: exact lossless round trip (the
    residual mirrors the decoder's integer predictor), and on a resonant
    signal LPC compresses meaningfully better than the fixed
    order-2 predictor."""
    import numpy as np

    from rdf_rdfxml_spark.operators.flac import decode_flac, encode_flac
    rng = np.random.default_rng(41)
    t = np.arange(6000) / 8000.0
    sig = (np.sin(2 * np.pi * 440 * t) * 9000
           + np.sin(2 * np.pi * 523 * t) * 2500
           + rng.normal(0, 20, t.size)).astype(np.int32).reshape(-1, 1)
    pf = encode_flac(sig, 8000, fixed_order=2)
    pl = encode_flac(sig, 8000, fixed_order=2, lpc_order=8)
    assert (decode_flac(pf)[0] == sig).all()
    assert (decode_flac(pl)[0] == sig).all()
    assert len(pl) < 0.9 * len(pf)  # LPC beats fixed by >10% here
    # stereo + noise: selection must never break losslessness
    s2 = rng.integers(-3000, 3000, size=(1500, 2)).astype(np.int32)
    assert (decode_flac(encode_flac(s2, 8000, lpc_order=8))[0] == s2).all()


def test_flac_many_frames_utf8_frame_numbers():
    """Frame indices past every UTF-8 length boundary round-trip: the
    encoder's frame-number writer must emit the minimal multi-byte
    sequence (2048 needs 3 bytes — a 2-byte lead holds only 11 bits).
    Regression for the chunk loop that exited before the residue fit the
    lead byte, producing streams every spec decoder rejects."""
    import numpy as np

    from rdf_rdfxml_spark.operators.flac import decode_flac, encode_flac
    rng = np.random.default_rng(47)
    # blocksize 16 → 2100 frames crosses 0x80 (2-byte) and 2048 (3-byte)
    s = rng.integers(-500, 500, size=(2100 * 16, 1)).astype(np.int32)
    dec, rate, bps = decode_flac(encode_flac(s, 8000, blocksize=16,
                                             fixed_order=1))
    assert (dec == s).all()


def test_flac_bad_partition_order_typed_error():
    """A CRC-valid frame whose blocksize is not divisible by 2^porder
    (or whose partitions don't exceed the predictor order) must raise
    the typed DecodeError, not an untyped IndexError downstream."""
    import numpy as np
    import pytest

    import rdf_rdfxml_spark.operators.flac as FL

    class _Bits:
        def __init__(self, vals):
            self.vals = list(vals)

        def read(self, n):
            return self.vals.pop(0)

        def read_signed(self, n):
            return self.vals.pop(0)

        def unary(self):
            return self.vals.pop(0)

    # blocksize 100 with porder 3 (8 partitions): 100 % 8 != 0
    with pytest.raises(FL.DecodeError):
        FL._decode_residual(_Bits([0, 3]), 100, 2)
    # psize (1024>>10 = 1) must EXCEED the predictor order (2)
    with pytest.raises(FL.DecodeError):
        FL._decode_residual(_Bits([0, 10]), 1024, 2)


def test_ogg_flac_roundtrip_and_validation():
    """Ogg-encapsulated FLAC (round 5, closing a declared codec seam):
    lossless round trip through real RFC 3533 pages — including tiny
    pages that force packet continuation across page boundaries — the
    non-zlib Ogg CRC-32 rejecting corruption, sequence-gap detection,
    and mapping-header validation, all under the typed-error contract."""
    import numpy as np
    import pytest

    from rdf_rdfxml_spark.operators.flac import (
        decode_flac, decode_ogg_flac, encode_ogg_flac,
    )
    from rdf_rdfxml_spark.operators.multimodal import (
        DecodeError, _decode_audio_checked,
    )
    rng = np.random.default_rng(53)
    s = rng.integers(-2000, 2000, size=(5000, 2)).astype(np.int32)
    p = encode_ogg_flac(s, 8000, lpc_order=4)
    dec, rate, bps = decode_ogg_flac(p)
    assert rate == 8000 and bps == 16 and (dec == s).all()
    # container dispatch (the UDF entry point)
    samp, rate2 = _decode_audio_checked(p)
    assert rate2 == 8000 and (samp == s).all()
    # 2-segment pages force every frame to span pages (continued flag)
    p2 = encode_ogg_flac(s, 8000, blocksize=256, max_segs_per_page=2)
    assert p2.count(b"OggS") > 10
    assert (decode_ogg_flac(p2)[0] == s).all()
    # the native decoder must NOT silently accept the Ogg stream
    with pytest.raises(DecodeError):
        decode_flac(p)
    # CRC corruption, truncation, page-sequence gap → typed errors
    bad = bytearray(p)
    bad[100] ^= 0xFF
    with pytest.raises(DecodeError):
        decode_ogg_flac(bytes(bad))
    with pytest.raises(DecodeError):
        decode_ogg_flac(p[:40])
    pages = [m for m in range(len(p2)) if p2[m:m + 4] == b"OggS"]
    gap = p2[:pages[2]] + p2[pages[3]:]   # drop one whole page
    with pytest.raises(DecodeError):
        decode_ogg_flac(gap)
    with pytest.raises(DecodeError):
        decode_ogg_flac(b"OggS" + bytes(60))


def test_flac_24bit_stereo():
    """bps=24 stereo round trip at 44.1 kHz — STREAMINFO/bps plumbing
    beyond the 16-bit default."""
    import numpy as np

    from rdf_rdfxml_spark.operators.flac import decode_flac, encode_flac
    rng = np.random.default_rng(43)
    s = rng.integers(-(1 << 22), 1 << 22, size=(800, 2)).astype(np.int32)
    dec, rate, bps = decode_flac(encode_flac(s, 44100, bps=24,
                                             lpc_order=4))
    assert rate == 44100 and bps == 24
    assert (dec == s).all()


def test_ogg_flac_roundtrip_property():
    """Property sweep: Ogg-FLAC round-trips losslessly across random
    lengths, channel counts, block sizes and page-segment caps
    (including caps that force cross-page packet continuation)."""
    import numpy as np

    from rdf_rdfxml_spark.operators.flac import (
        decode_ogg_flac, encode_ogg_flac,
    )
    rng = np.random.default_rng(61)
    for _ in range(12):
        n = int(rng.integers(1, 4000))
        ch = int(rng.integers(1, 3))
        bs = int(rng.choice([64, 256, 1024]))
        cap = int(rng.choice([2, 7, 255]))
        s = rng.integers(-3000, 3000, size=(n, ch)).astype(np.int32)
        p = encode_ogg_flac(s, 8000, blocksize=bs, max_segs_per_page=cap,
                            fixed_order=int(rng.integers(0, 3)))
        dec, rate, bps = decode_ogg_flac(p)
        assert rate == 8000 and (dec == s).all(), (n, ch, bs, cap)


def test_dhash48_properties():
    """Pure dHash invariants: non-negative <=48-bit; EXACTLY invariant
    under uniform brightness shift (comparisons unchanged, no clipping);
    far apart for unrelated images."""
    import numpy as np
    from rdf_rdfxml_spark.operators.multimodal import dhash48
    rng = np.random.default_rng(5)
    img = rng.integers(16, 225, size=(24, 32, 3), dtype=np.uint8)
    h = dhash48(img)
    assert 0 <= h < (1 << 48)
    bright = (img.astype(np.int16) + 6).clip(0, 255).astype(np.uint8)
    assert dhash48(bright) == h
    other = rng.integers(16, 225, size=(24, 32, 3), dtype=np.uint8)
    assert bin(h ^ dhash48(other)).count("1") > 8


def test_image_neardup_pipeline(spark):
    """Distributed dHash + Hamming-LSH over the synthetic near-dup
    corpus: every base's 3 lossless re-encoded variants pair up within
    radius 3 (pigeonhole recall is exact at radius <= n_bands-1); no
    cross-base pairs; partition-invariant; hostile payloads isolate."""
    from rdf_rdfxml_spark.operators.multimodal import (
        image_dhash, image_neardup_candidates, synth_neardup_media,
    )
    media = synth_neardup_media(spark, 48)
    pairs = {(r["a"], r["b"]): r["hamming"]
             for r in image_neardup_candidates(media).collect()}
    assert len(pairs) == 48                  # 16 bases x C(3,2) pairs
    for (a, b), ham in pairs.items():
        assert int(a[1:]) % 16 == int(b[1:]) % 16   # same base only
        assert 0 <= ham <= 3
    repart = {(r["a"], r["b"]): r["hamming"] for r in
              image_neardup_candidates(media.repartition(13)).collect()}
    assert repart == pairs                   # partition-invariant
    # hostile payload -> error row, never an exception
    hostile = media.limit(2).withColumn(
        "payload", F.lit(bytearray(b"not an image")))
    rows = image_dhash(hostile).collect()
    assert all(r["dhash"] is None and r["error"] for r in rows)


def test_audio_fingerprint_properties():
    """Pure fingerprint invariants: non-negative <=48-bit; EXACTLY
    invariant under float gain (the temporal-derivative comparisons
    scale uniformly); far apart for unrelated signals."""
    import numpy as np
    from rdf_rdfxml_spark.operators.multimodal import audio_fingerprint48
    rng = np.random.default_rng(31)
    t = np.arange(960) / 8000
    wave = (4000 * np.sin(2 * np.pi * 440 * t)
            + 2500 * np.sin(2 * np.pi * 1200 * t)
            + rng.normal(0, 100, t.shape))
    pcm = wave.astype(np.int16).reshape(-1, 1)
    h = audio_fingerprint48(pcm, 8000)
    assert 0 <= h < (1 << 48)
    assert audio_fingerprint48((wave * 1.5).astype(np.float64)
                               .reshape(-1, 1), 8000) == h
    other = rng.normal(0, 3000, t.shape).astype(np.int16).reshape(-1, 1)
    assert bin(h ^ audio_fingerprint48(other, 8000)).count("1") > 8


def test_audio_neardup_pipeline(spark):
    """Distributed fingerprint + Hamming-LSH over the synthetic audio
    near-dup corpus (WAV/FLAC/Ogg-FLAC re-encodes): gain variants pair
    at hamming 0; same-base pairs only; partition-invariant; hostile
    payloads isolate."""
    from rdf_rdfxml_spark.operators.multimodal import (
        audio_fingerprints, audio_neardup_candidates,
        synth_neardup_audio,
    )
    media = synth_neardup_audio(spark, 36)
    pairs = {(r["a"], r["b"]): r["hamming"]
             for r in audio_neardup_candidates(media).collect()}
    assert len(pairs) >= 24                  # 12 gain pairs + most noise
    for (a, b), ham in pairs.items():
        assert int(a[1:]) % 12 == int(b[1:]) % 12   # same base only
        assert 0 <= ham <= 3
    # every base's gain variant is found at hamming 0
    gain_pairs = {(f"s{b:04d}", f"s{b + 12:04d}") for b in range(12)}
    assert all(pairs.get(p) == 0 for p in gain_pairs)
    repart = {(r["a"], r["b"]): r["hamming"] for r in
              audio_neardup_candidates(media.repartition(13)).collect()}
    assert repart == pairs
    hostile = media.limit(2).withColumn(
        "payload", F.lit(bytearray(b"not audio")))
    rows = audio_fingerprints(hostile).collect()
    assert all(r["afp"] is None and r["error"] for r in rows)

def test_hamming_lsh_mega_bucket_guard(spark):
    """Round-7 gate for the round-6 scale-killer: a degenerate
    population (1,000 identical signatures — the thousands-of-identical-
    logos pathology) must NOT reach the band self-join as one quadratic
    bucket (m²/2 ≈ 500k pairs on one reducer). With ``max_bucket`` the
    mob's buckets are excluded while genuinely-near pairs elsewhere
    survive; the dropped-bucket counters expose exactly what was cut."""
    from rdf_rdfxml_spark.operators.multimodal import (
        _hamming_lsh_pairs, hamming_band_bucket_stats,
    )
    mob_hash = 0xABCDEF123456                # 1,000 identical signatures
    rows = [("m%04d" % i, mob_hash) for i in range(1000)]
    rows += [("k0", 0x000F00000001), ("k1", 0x000F00000003)]  # hamming 1
    sig = spark.createDataFrame(rows, "media_id string, dhash long")

    pairs = {(r["a"], r["b"]): r["hamming"]
             for r in _hamming_lsh_pairs(sig, "dhash", 48, n_bands=4,
                                         radius=3, max_bucket=100)
             .collect()}
    assert pairs == {("k0", "k1"): 1}        # mob fully excluded

    stats = hamming_band_bucket_stats(sig, "dhash", 48, n_bands=4,
                                      max_bucket=100).collect()
    dropped = [r for r in stats if r["dropped"]]
    assert len(dropped) == 4                 # all 4 mob bands flagged
    assert all(r["n_items"] == 1000 for r in dropped)
    kept = [r for r in stats if not r["dropped"]]
    assert all(r["n_items"] <= 100 for r in kept)
    # cap disabled -> nothing dropped (counters stay honest)
    stats_off = hamming_band_bucket_stats(sig, "dhash", 48, n_bands=4,
                                          max_bucket=None).collect()
    assert not any(r["dropped"] for r in stats_off)


def test_image_neardup_cap_through_public_api(spark):
    """The cap is reachable from the public operator: 12 byte-identical
    images with max_bucket=8 yield zero candidate pairs (the exact-dup
    equality pass is the declared catcher for that cluster), while the
    default cap leaves the standard corpus result unchanged."""
    from rdf_rdfxml_spark.operators.multimodal import (
        MEDIA_SCHEMA, encode_ppm, image_neardup_candidates,
    )
    import numpy as np
    rng = np.random.default_rng(11)
    img = rng.integers(0, 255, size=(16, 16, 3), dtype=np.uint8)
    payload = encode_ppm(img)
    rows = [("c%02d" % i, "image", "image/x-portable-pixmap",
             bytearray(payload), None, None) for i in range(12)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    assert image_neardup_candidates(media, max_bucket=8).count() == 0
    assert (image_neardup_candidates(media, max_bucket=None).count()
            == 12 * 11 // 2)

def test_video_neardup_pipeline(spark):
    """Round 7: distributed frame-majority signature + capped
    Hamming-LSH over the synthetic near-dup video corpus — every base's
    three container re-encodes (PPM-seq / lossy MJPEG / animated WebP)
    pair up within radius 3; no cross-base pairs; partition-invariant;
    hostile payloads isolate as error rows."""
    from rdf_rdfxml_spark.operators.multimodal import (
        synth_neardup_video, video_neardup_candidates, video_signatures,
    )
    media = synth_neardup_video(spark, 24)
    pairs = {(r["a"], r["b"]): r["hamming"]
             for r in video_neardup_candidates(media).collect()}
    assert len(pairs) == 24                  # 8 bases x C(3,2) pairs
    for (a, b), ham in pairs.items():
        assert int(a[1:]) % 8 == int(b[1:]) % 8     # same base only
        assert 0 <= ham <= 3
    # lossless pair (PPM vs animated WebP of identical pixels) at 0
    for base in range(8):
        assert pairs[(f"w{base:04d}", f"w{base + 16:04d}")] == 0
    repart = {(r["a"], r["b"]): r["hamming"] for r in
              video_neardup_candidates(media.repartition(13)).collect()}
    assert repart == pairs                   # partition-invariant
    hostile = media.limit(2).withColumn(
        "payload", F.lit(bytearray(b"not a video")))
    rows = video_signatures(hostile).collect()
    assert all(r["vhash"] is None and r["error"] for r in rows)

def test_stream_image_neardup_hostile_isolation(spark, tmp_path):
    """Round 7: the in-stream decode stage drops undecodable payloads
    (no signature, no flags) without killing the stream, and the good
    items still pair; epoch semantics are the SHARED _neardup_update_fn
    already driven by test_stream_neardup_horizon_expiry."""
    from rdf_rdfxml_spark.operators.multimodal import (
        MEDIA_SCHEMA, synth_neardup_media,
    )
    from rdf_rdfxml_spark.streaming.stream import (
        stream_image_neardup_flags,
    )
    media = synth_neardup_media(spark, 6, 2)  # 2 bases x 3 variants
    hostile = spark.createDataFrame(
        [("z9999", "image", "image/png", bytearray(b"not an image"),
          None, None)], MEDIA_SCHEMA)
    both = media.unionByName(hostile).selectExpr(
        "media_id", "payload",
        "timestamp_seconds(1700000000 + CAST(substring(media_id, 2, 4) "
        "AS INT)) AS ingested_at")
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    both.write.parquet(in_dir)
    stream = spark.readStream.schema(both.schema).parquet(in_dir)
    q = (stream_image_neardup_flags(stream)
         .writeStream.option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True)
         .start(out_dir, format="parquet", outputMode="append"))
    q.awaitTermination()
    rows = spark.read.parquet(out_dir).collect()
    assert rows, "good items must still flag"
    ids = {r["media_id"] for r in rows} | {r["dup_of"] for r in rows}
    assert "z9999" not in ids                  # hostile item dropped
    for r in rows:                            # same base only
        assert int(r["media_id"][1:]) % 2 == int(r["dup_of"][1:]) % 2

def test_hamming_cap_soundness_property(spark):
    """Cap soundness on seeded random skewed corpora: capped candidate
    pairs are a SUBSET of uncapped pairs, and every pair the cap drops
    has EVERY shared band sitting in an over-cap bucket — no pair with
    any under-cap shared band is ever lost (the exact statement of the
    guarantee in _hamming_lsh_pairs's docstring)."""
    import numpy as np
    from rdf_rdfxml_spark.operators.multimodal import _hamming_lsh_pairs
    rng = np.random.default_rng(123)
    cap, n_bands, radius, bits = 20, 4, 3, 48
    width = bits // n_bands
    rows = []
    mob = int(rng.integers(0, 1 << 48))          # degenerate mob sigs
    k = 0
    for i in range(260):
        r = rng.random()
        if r < 0.3:
            h = mob
        elif r < 0.5:                            # near-dup twin pair
            base = int(rng.integers(0, 1 << 48))
            rows.append(("m%04d" % k, base)); k += 1
            h = base ^ (1 << int(rng.integers(0, 48)))
        else:
            h = int(rng.integers(0, 1 << 48))
        rows.append(("m%04d" % k, h)); k += 1
    sig = spark.createDataFrame(rows, "media_id string, dhash long")

    def pairs(max_bucket):
        return {(r["a"], r["b"]) for r in
                _hamming_lsh_pairs(sig, "dhash", bits, n_bands=n_bands,
                                   radius=radius, max_bucket=max_bucket)
                .collect()}

    capped, uncapped = pairs(cap), pairs(None)
    assert capped <= uncapped and capped       # subset, non-trivial
    # reconstruct bucket populations in plain python
    from collections import Counter
    h_of = dict(rows)
    buckets = Counter((b, (h >> (b * width)) % (1 << width))
                      for _, h in rows for b in range(n_bands))
    for a, b in uncapped - capped:             # every dropped pair:
        shared = [bb for bb in range(n_bands)
                  if (h_of[a] >> (bb * width)) % (1 << width)
                  == (h_of[b] >> (bb * width)) % (1 << width)]
        assert shared and all(
            buckets[(bb, (h_of[a] >> (bb * width)) % (1 << width))] > cap
            for bb in shared), (a, b)

def test_sampling_determinism_and_growth_stability(spark):
    """Round 7 sampling invariants: decisions are partition-invariant
    and repeatable; the holdout split of existing docs is UNCHANGED when
    the corpus grows (id-keyed hash); an unlisted stratum falls to the
    default rate; a different salt draws an independent sample."""
    from rdf_rdfxml_spark.operators.sampling import (
        holdout_split, stratified_sample,
    )
    docs = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3]) for i in range(600)],
        "doc_id long, lang string")
    rates = {"a": 0.5, "b": 0.1}
    kept1 = {r["doc_id"] for r in stratified_sample(
        docs, rates, stratum_col="lang", default_rate=0.0).collect()}
    kept2 = {r["doc_id"] for r in stratified_sample(
        docs.repartition(13), rates, stratum_col="lang",
        default_rate=0.0).collect()}
    assert kept1 == kept2 and kept1            # deterministic
    assert not any(d % 3 == 2 for d in kept1)  # stratum 'c' -> default 0
    a_kept = sum(1 for d in kept1 if d % 3 == 0)
    b_kept = sum(1 for d in kept1 if d % 3 == 1)
    assert 60 <= a_kept <= 140 and b_kept <= 50   # rates in the ballpark
    other = {r["doc_id"] for r in stratified_sample(
        docs, rates, stratum_col="lang", default_rate=0.0,
        salt="sample:v2").collect()}
    assert other != kept1                      # independent under resalt

    split1 = {r["doc_id"]: r["split"]
              for r in holdout_split(docs, 0.1).collect()}
    grown = docs.unionByName(spark.createDataFrame(
        [(i, "a") for i in range(600, 900)], "doc_id long, lang string"))
    split2 = {r["doc_id"]: r["split"]
              for r in holdout_split(grown, 0.1).collect()}
    assert all(split2[d] == s for d, s in split1.items())  # growth-stable
    frac = sum(1 for s in split2.values() if s == "heldout") / len(split2)
    assert 0.05 <= frac <= 0.16


def test_decontaminate_flags_shared_ngrams(spark):
    """Round 7 decontamination: a doc sharing an 8-gram with the eval
    set is flagged with the exact distinct-gram count; clean docs and
    sub-n docs emit no row; the left_anti composition is the clean
    corpus; result is partition-invariant."""
    from rdf_rdfxml_spark.operators.decontam import decontaminate
    ev = "q w e r t y u i o p"              # 10 tokens -> 3 8-grams
    docs = spark.createDataFrame(
        [(1, "zz " + ev + " zz"),           # contains all 3 eval 8-grams
         (2, "q w e r t y u i nope"),       # shares exactly 1 (toks 1-8)
         (3, "totally clean text with many distinct words here ok"),
         (4, "q w e r t y u"),              # 7 tokens: sub-n, never flagged
         (5, "Q W E R T Y U I o p")],       # case-folded -> all 3 again
        "doc_id long, text string")
    eval_texts = spark.createDataFrame([(0, ev)], "eval_id long, text string")
    got = {r["doc_id"]: r["n_hit_ngrams"]
           for r in decontaminate(docs, eval_texts, n=8).collect()}
    assert got == {1: 3, 2: 1, 5: 3}
    got13 = {r["doc_id"]: r["n_hit_ngrams"]
             for r in decontaminate(docs.repartition(13), eval_texts,
                                    n=8).collect()}
    assert got13 == got
    clean = decontaminate(docs, eval_texts, n=8)
    survivors = {r["doc_id"] for r in
                 docs.join(clean, "doc_id", "left_anti").collect()}
    assert survivors == {3, 4}


def test_pack_token_chunks_matches_bruteforce(spark):
    """Round 7 packing: the two-level prefix scan equals the plain
    cumsum on sparse ids, empty docs, and boundary-straddling docs —
    with a small bucket_size so multiple buckets are really exercised."""
    import random
    from rdf_rdfxml_spark.operators.packing import pack_token_chunks
    rng = random.Random(7)
    rows, ids = [], sorted(rng.sample(range(0, 500), 40))
    for i in ids:                            # sparse, uneven buckets
        k = rng.choice([0, 1, 3, 7, 12, 25])
        rows.append((i, " ".join(f"w{j}" for j in range(k))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["start_offset"],
                         r["first_chunk"], r["last_chunk"], r["n_chunks"])
           for r in pack_token_chunks(docs, context_len=16,
                                      bucket_size=3).collect()}
    off = 0
    for i, text in rows:                     # brute-force reference
        n = len([t for t in text.split(" ") if t])
        first = off // 16
        last = (off + n - 1) // 16 if n else first
        assert got[i] == (n, off, first, last, last - first + 1), i
        off += n
    assert len(got) == len(rows)


def test_chunk_manifest_matches_bruteforce(spark):
    """Round 7 manifest: the chunk->docs inversion equals a brute-force
    token-stream walk; every interior chunk carries exactly context_len
    tokens; empty docs feed no chunk."""
    import random
    from rdf_rdfxml_spark.operators.packing import chunk_manifest
    rng = random.Random(11)
    rows = []
    for i in sorted(rng.sample(range(0, 300), 30)):
        k = rng.choice([0, 1, 2, 5, 9, 17, 40])   # 40 straddles 16-chunks
        rows.append((i, " ".join(f"w{j}" for j in range(k))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["chunk_id"]: (r["n_docs"], r["chunk_tokens"],
                           r["min_doc_id"], r["max_doc_id"])
           for r in chunk_manifest(docs, context_len=16,
                                   bucket_size=3).collect()}
    # brute force: walk the concatenated stream
    want = {}
    off = 0
    for i, text in rows:
        n = len([t for t in text.split(" ") if t])
        if n == 0:
            continue
        for c in range(off // 16, (off + n - 1) // 16 + 1):
            toks = min(off + n, (c + 1) * 16) - max(off, c * 16)
            nd, tt, mn, mx = want.get(c, (0, 0, i, i))
            want[c] = (nd + 1, tt + toks, min(mn, i), max(mx, i))
        off += n
    assert got == want
    last_chunk = max(got)
    for c, (_, toks, _, _) in got.items():
        if c != last_chunk:
            assert toks == 16, c                 # interior chunks full
    assert sum(t for _, t, _, _ in got.values()) == off  # total tokens


def test_stream_decontaminate_matches_batch_and_survives_nulls(spark, tmp_path):
    """Round 7 streaming decontamination: the stateless in-stream flag
    stage equals the batch operator's contaminated set (same counts),
    emits a zero row for clean docs, and a null text never kills the
    stream."""
    from rdf_rdfxml_spark.operators.decontam import (
        decontaminate, eval_ngram_set,
    )
    from rdf_rdfxml_spark.streaming.stream import (
        stream_decontaminate_flags,
    )
    ev = "q w e r t y u i o p"
    docs = spark.createDataFrame(
        [(1, "zz " + ev + " zz"),
         (2, "q w e r t y u i nope"),
         (3, "totally clean text with many distinct words here ok"),
         (4, None),                          # hostile: null text
         (5, "Q W E R T Y U I o p")],
        "doc_id long, text string")
    eval_texts = spark.createDataFrame([(0, ev)],
                                       "eval_id long, text string")
    grams = [r["gram"] for r in eval_ngram_set(eval_texts, n=8).collect()]
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs.write.parquet(in_dir)
    stream = spark.readStream.schema(docs.schema).parquet(in_dir)
    q = (stream_decontaminate_flags(stream, grams, n=8)
         .writeStream.option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start(out_dir, format="parquet", outputMode="append"))
    q.awaitTermination()
    got = {r["doc_id"]: r["n_hit_ngrams"]
           for r in spark.read.parquet(out_dir).collect()}
    assert got == {1: 3, 2: 1, 3: 0, 4: 0, 5: 3}   # enrichment: all rows
    batch = {r["doc_id"]: r["n_hit_ngrams"]
             for r in decontaminate(docs, eval_texts, n=8).collect()}
    assert {d: c for d, c in got.items() if c > 0} == batch


def test_mix_plan_integer_exact(spark):
    """Round 7 mix plan: sqrt-temperature weights match exact Python
    integer math; ppm sums to ~1e6; sqrt up-weights the small stratum
    vs its linear share."""
    import math
    from rdf_rdfxml_spark.operators.sampling import mix_plan
    rows = []
    sizes = {"big": (40, 30), "mid": (10, 12), "tiny": (3, 4)}
    i = 0
    for lang, (n, k) in sizes.items():
        for _ in range(n):
            rows.append((i, lang, " ".join(f"t{j}" for j in range(k))))
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["stratum"]: r for r in
           mix_plan(docs, stratum_col="lang", alpha="sqrt",
                    token_budget=1_000_000).collect()}
    ntok = {lang: n * k for lang, (n, k) in sizes.items()}
    wint = {s: math.floor(math.sqrt(nt) * 1000.0) for s, nt in ntok.items()}
    tot = sum(wint.values())
    for s, (n, k) in sizes.items():
        r = got[s]
        assert (r["n_docs"], r["n_tokens"]) == (n, ntok[s])
        assert r["weight_ppm"] == wint[s] * 1_000_000 // tot, s
        assert r["alloc_tokens"] == 1_000_000 * wint[s] // tot, s
    assert 1_000_000 - 3 <= sum(r["weight_ppm"] for r in got.values()) \
        <= 1_000_000
    # temperature effect: tiny stratum's ppm share > its token share
    tiny_share = ntok["tiny"] * 1_000_000 // sum(ntok.values())
    assert got["tiny"]["weight_ppm"] > tiny_share


def test_ivf_vp8_keyframe_roundtrip_and_inter_guard():
    import numpy as np
    from rdf_rdfxml_spark.operators.multimodal import (
        DecodeError, decode_image, encode_ivf, split_ivf_frames,
    )
    rng = np.random.default_rng(11)
    imgs = [rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
            for _ in range(4)]
    fs = split_ivf_frames(encode_ivf(imgs))
    assert len(fs) == 4
    assert all(decode_image(f).shape == (6, 8, 3) for f in fs)
    # the inter-frame guard must raise loudly, never mis-decode
    bad = bytearray(encode_ivf(imgs))
    bad[32 + 12] |= 1  # flip frame-tag type bit of frame 0
    import pytest
    with pytest.raises(DecodeError, match="inter-coded"):
        split_ivf_frames(bytes(bad))
    with pytest.raises(DecodeError, match="unsupported"):
        split_ivf_frames(b"DKIF" + b"\x00" * 4 + b"VP90" + b"\x00" * 20)


def test_y4m_roundtrip_444_exact_and_420_upsample():
    import numpy as np
    from rdf_rdfxml_spark.operators.multimodal import (
        _rgb_to_yuv, _yuv_to_rgb, decode_image, encode_y4m,
        split_y4m_frames,
    )
    rng = np.random.default_rng(13)
    imgs = [rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
            for _ in range(3)]
    # C444 carries full-resolution planes: output equals the pure
    # YUV roundtrip of each frame (conversion is the only loss)
    fs = split_y4m_frames(encode_y4m(imgs, chroma="444"))
    for img, f in zip(imgs, fs):
        want = _yuv_to_rgb(*_rgb_to_yuv(img))
        assert (decode_image(f) == want).all()
    # C420 decimates then replicates chroma: structure parses (counts,
    # dims) and a chroma-FLAT frame — where decimation loses nothing —
    # round-trips as exactly as C444 does
    fs = split_y4m_frames(encode_y4m(imgs, chroma="420jpeg"))
    assert len(fs) == 3
    assert all(decode_image(f).shape == (6, 8, 3) for f in fs)
    flat = np.full((6, 8, 3), (200, 64, 32), dtype=np.uint8)
    f420 = split_y4m_frames(encode_y4m([flat], chroma="420jpeg"))[0]
    want = _yuv_to_rgb(*_rgb_to_yuv(flat))
    assert (decode_image(f420) == want).all()
