"""Multimodal (image/audio/video) column operators.

Beyond the reference's surface (BASELINE.json north star): media travel
as opaque ``binary`` columns with typed metadata structs; decode /
feature-extraction / resize / frame-sampling run as Arrow-batched pandas
iterators over ``mapInPandas`` — the only layer in this engine where
Python touches row data, because codecs are Python-side by nature.

The container has no image/audio libraries, so the actual codec step is
gated: with PIL/soundfile present the real decode runs; without them a
clearly-marked deterministic fake (seeded by the content hash) stands in
so the Spark-side plumbing — schema, batch shape, partition sizing,
UDF signatures — is real and testable end-to-end. Swap ``_decode_*``
for real codecs in production; nothing else changes.

Scale notes:
- binary payloads never shuffle except where the operator's semantics
  require it (feature extraction is map-only);
- ``repartition_for_payloads`` sizes partitions by total payload bytes,
  not row count — 1000 × 10 MB images is 10 GB in one task otherwise;
- Arrow batch size is the memory knob: each codec pins
  ``maxRecordsPerBatch`` so that rows × payload fits the executor's
  Python worker.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

try:  # codec gate: real decode if available
    from PIL import Image  # noqa: F401
    HAS_PIL = True
except ImportError:
    HAS_PIL = False

IMAGE_META_SCHEMA = StructType([
    StructField("format", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("channels", IntegerType()),
])

IMAGE_TABLE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("data", BinaryType()),
    StructField("meta", IMAGE_META_SCHEMA),
])

DECODED_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("mean_intensity", DoubleType()),
    StructField("decode_ok", IntegerType()),
])

FRAME_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("frame_index", IntegerType()),
    StructField("frame_data", BinaryType()),
])


def _content_rng_values(data: bytes, n: int) -> list[float]:
    """Deterministic pseudo-values in [0,1) derived from content bytes —
    the STAND-IN for real decoded statistics (not a real decode)."""
    out: list[float] = []
    counter = 0
    while len(out) < n:
        h = hashlib.sha256(data + counter.to_bytes(4, "little")).digest()
        for i in range(0, 32, 8):
            out.append(int.from_bytes(h[i:i + 8], "little") / 2**64)
            if len(out) >= n:
                break
        counter += 1
    return out


def repartition_for_payloads(df: DataFrame, data_col: str = "data",
                             target_bytes: int = 128 << 20) -> DataFrame:
    """Repartition so each task handles ~target_bytes of payload.
    Row-count partitioning is wrong for media: payload sizes vary by
    1000×. One count+sum pass decides the partition count."""
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.length(data_col)).alias("bytes")).first()
    total = row["bytes"] or 0
    nparts = max(1, int(total / target_bytes) + 1)
    return df.repartition(nparts)


def decode_images(df: DataFrame, id_col: str = "media_id",
                  data_col: str = "data") -> DataFrame:
    """Decode → (dims, channels, mean intensity). Real decode under PIL;
    deterministic fake otherwise (flagged by ``decode_ok``: 1 = real,
    0 = stand-in)."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        for pdf in batches:
            rows = []
            for mid, data in zip(pdf[id_col], pdf[data_col]):
                data = bytes(data) if data is not None else b""
                if HAS_PIL:
                    try:
                        import numpy as np
                        from PIL import Image as PILImage

                        img = PILImage.open(io.BytesIO(data))
                        arr = np.asarray(img, dtype="float64")
                        rows.append((mid, img.width, img.height,
                                     arr.shape[2] if arr.ndim == 3 else 1,
                                     float(arr.mean()), 1))
                        continue
                    except Exception:
                        pass
                v = _content_rng_values(data, 3)
                rows.append((mid, int(v[0] * 1024) + 1, int(v[1] * 1024) + 1,
                             3, v[2] * 255.0, 0))
            yield pd.DataFrame(rows, columns=[
                id_col, "width", "height", "channels", "mean_intensity",
                "decode_ok"])

    return df.select(id_col, data_col).mapInPandas(run, DECODED_SCHEMA)


def extract_features(df: DataFrame, id_col: str = "media_id",
                     data_col: str = "data", dim: int = 16) -> DataFrame:
    """Content → dense feature vector (array<double>). The embedding
    model is a deterministic content-hash fake (the real model is a
    production swap-in); the batching/schema/shuffle contract is real —
    output joins directly against the similarity operators."""
    schema = StructType([
        StructField(id_col, LongType()),
        StructField("feature", ArrayType(DoubleType())),
    ])
    spark = df.sparkSession
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [(mid, _content_rng_values(bytes(d) if d is not None else b"", dim))
                    for mid, d in zip(pdf[id_col], pdf[data_col])]
            yield pd.DataFrame(rows, columns=[id_col, "feature"])

    return df.select(id_col, data_col).mapInPandas(run, schema)


def image_header_meta(df: DataFrame, id_col: str = "media_id",
                      data_col: str = "data",
                      jpeg_scan_bytes: int = 65536) -> DataFrame:
    """REAL container-header metadata — NO codec, NO Python: format and
    pixel dimensions parsed from the public byte layouts of PNG (RFC
    2083 §3: IHDR width/height big-endian at offsets 16/20), GIF
    (GIF87a/89a: logical-screen width/height little-endian at 6/8) and
    JPEG (ISO/IEC 10918 marker stream: walk segments to the first SOFn
    and read height/width from its fixed positions), entirely in JVM
    expressions over a bounded hex window.  Unlike ``decode_images``
    this is NOT a stand-in: the numbers are the true container values,
    which is what a 100 TB multimodal curation pass filters on
    (resolution/aspect gates) BEFORE paying any decode.

    Per row: ``(id, format, width, height, header_ok)``; unknown or
    truncated containers report format NULL / header_ok false.  The
    JPEG walk is a fixed 32-step ``aggregate`` fold over the first
    ``jpeg_scan_bytes`` (an EXIF APP1 can legally be 64 KB — one
    segment, one step; raise the window for pathological multi-APP
    files).  Scale shape: one map-side projection, ``hex()`` of a
    BOUNDED prefix (never the full payload), no shuffle, no Python
    worker — this is the operator the decode stand-ins cannot be.

    The hex window is STAGED through a projection boundary (r13 opt,
    the quality_features staging lesson): every ``byte_at`` otherwise
    re-embeds ``hex(substring(payload))`` — and with it the caller's
    whole payload expression — once per byte access (~40× per row in
    the marker walk; the staged column evaluates it once per row and
    shrank the media_headers plan ~10×)."""
    df = df.withColumn("__hx",
                       F.hex(F.substring(F.col(data_col), 1,
                                         int(jpeg_scan_bytes))))
    hx = F.col("__hx")
    hxlen = F.length(hx)

    def byte_at(pos):  # 1-based byte index (int) -> int value
        return F.conv(F.substring(hx, F.lit(int(pos)) * 2 - 1, 2),
                      16, 10).cast("int")

    # ---- PNG: fixed offsets (signature + full IHDR dims present) ----
    is_png = ((F.substring(hx, 1, 16) == "89504E470D0A1A0A")
              & (hxlen >= 48))
    png_w = F.conv(F.substring(hx, 33, 8), 16, 10).cast("int")
    png_h = F.conv(F.substring(hx, 41, 8), 16, 10).cast("int")

    # ---- GIF: little-endian u16 at bytes 7/9 ----
    is_gif = (F.substring(hx, 1, 12).isin("474946383761", "474946383961")
              & (hxlen >= 20))
    gif_w = byte_at(7) + byte_at(8) * 256
    gif_h = byte_at(9) + byte_at(10) * 256

    # ---- JPEG: bounded marker walk to the first SOFn ----
    # The 32-step fold parses as ONE SQL string (r14, the audio walk's
    # single-parse treatment) — identical arithmetic, pinned by the
    # synthesized-container round-trip tests and the driver oracle.
    is_jpeg = F.substring(hx, 1, 4) == "FFD8"

    def s_byte(p: str) -> str:
        return (f"CAST(conv(substring(__hx, ({p}) * 2 - 1, 2), 16, 10)"
                " AS INT)")

    def s_u16(p: str) -> str:
        return f"({s_byte(p)} * 256 + {s_byte(f'{p} + 1')})"

    nil = "CAST(NULL AS INT)"
    # fold state: (pos, w, h); pos = -1 once finished (found or bad)
    init = f"named_struct('pos', CAST(3 AS INT), 'w', {nil}, 'h', {nil})"
    mk1, mk2 = s_byte("acc.pos"), s_byte("acc.pos + 1")
    seg_len = s_u16("acc.pos + 2")
    done = "(acc.w IS NOT NULL OR acc.pos < 0)"
    bad = (f"((acc.pos * 2 + 3) > length(__hx) OR {mk1} <> 255"
           f" OR ({seg_len}) IS NULL)")
    # SOFn = C0-CF minus C4 (DHT), C8 (JPG ext), CC (DAC)
    is_sof = (f"({mk2} >= 192 AND {mk2} <= 207 AND {mk2} <> 196"
              f" AND {mk2} <> 200 AND {mk2} <> 204)")
    stop = "named_struct('pos', CAST(-1 AS INT), 'w', acc.w, 'h', acc.h)"
    found = (f"named_struct('pos', CAST(-1 AS INT),"
             f" 'w', {s_u16('acc.pos + 7')}, 'h', {s_u16('acc.pos + 5')})")
    # fill bytes (FF FF ...) advance 1; standalone RST/SOI/EOI
    # markers (D0-D9) have no length field and advance 2
    nxt = (f"CASE WHEN {mk2} = 255 THEN acc.pos + 1"
           f" WHEN {mk2} >= 208 AND {mk2} <= 217 THEN acc.pos + 2"
           f" ELSE acc.pos + 2 + {seg_len} END")
    walk = (f"named_struct('pos', CAST(({nxt}) AS INT),"
            f" 'w', {nil}, 'h', {nil})")
    step = (f"CASE WHEN {done} THEN acc"
            f" WHEN {bad} THEN {stop}"
            f" WHEN {is_sof} THEN {found}"
            f" ELSE {walk} END")
    # stage the fold STRUCT through a projection boundary (r13 opt, same
    # lesson as the hex window): width, height and header_ok reference
    # the walk state four times, and aggregate() is CodegenFallback-
    # interpreted with no subexpression elimination — unstaged, every
    # reference re-ran the whole 32-step marker walk per row
    df = df.withColumn("__jst",
                       F.expr(f"aggregate(sequence(1, 32), {init},"
                              f" (acc, x) -> {step})"))
    jpeg_state = F.col("__jst")
    jpg_w, jpg_h = jpeg_state["w"], jpeg_state["h"]

    fmt = (F.when(is_png, F.lit("png"))
           .when(is_gif, F.lit("gif"))
           .when(is_jpeg, F.lit("jpeg")))
    width = (F.when(is_png, png_w).when(is_gif, gif_w)
             .when(is_jpeg, jpg_w).cast("int"))
    height = (F.when(is_png, png_h).when(is_gif, gif_h)
              .when(is_jpeg, jpg_h).cast("int"))
    return df.select(
        F.col(id_col), fmt.alias("format"),
        width.alias("width"), height.alias("height"),
        (fmt.isNotNull() & width.isNotNull()
         & height.isNotNull()).alias("header_ok"))


def resize_images(df: DataFrame, width: int, height: int,
                  id_col: str = "media_id", data_col: str = "data") -> DataFrame:
    """Resize payloads. REAL only under PIL; otherwise raises — a resize
    has no honest fake (the bytes must change meaningfully)."""
    if not HAS_PIL:
        raise NotImplementedError(
            "resize_images requires PIL; container has no image codecs. "
            "The mapInPandas plumbing is identical to decode_images.")

    schema = StructType([
        StructField(id_col, LongType()),
        StructField("data", BinaryType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        from PIL import Image as PILImage

        for pdf in batches:
            rows = []
            for mid, d in zip(pdf[id_col], pdf[data_col]):
                img = PILImage.open(io.BytesIO(bytes(d)))
                out = io.BytesIO()
                img.resize((width, height)).save(out, format=img.format or "PNG")
                rows.append((mid, out.getvalue()))
            yield pd.DataFrame(rows, columns=[id_col, "data"])

    return df.select(id_col, data_col).mapInPandas(run, schema)


def sample_frames(df: DataFrame, every_n: int = 10, frame_size: int = 1024,
                  id_col: str = "media_id", data_col: str = "data") -> DataFrame:
    """Video frame sampling: one output row per sampled frame (1→many
    via the pandas iterator). Without a real container parser the
    "frames" are fixed-stride byte slices — a deterministic stand-in
    that preserves the fan-out shape, schema, and memory profile."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, d in zip(pdf[id_col], pdf[data_col]):
                data = bytes(d) if d is not None else b""
                n_frames = max(1, len(data) // frame_size)
                for fi in range(0, n_frames, every_n):
                    rows.append((mid, fi,
                                 data[fi * frame_size:(fi + 1) * frame_size]))
            yield pd.DataFrame(rows, columns=[id_col, "frame_index", "frame_data"])

    return df.select(id_col, data_col).mapInPandas(run, FRAME_SCHEMA)


def audio_header_meta(df: DataFrame, id_col: str = "media_id",
                      data_col: str = "data",
                      scan_bytes: int = 4096) -> DataFrame:
    """REAL WAV (RIFF) header metadata — NO codec, NO Python: sample
    rate, channels, bit depth and duration parsed from the public RIFF
    layout (little-endian ``fmt ``/``data`` chunks behind the
    ``RIFF....WAVE`` preamble) in pure JVM expressions, the audio twin
    of :func:`image_header_meta`.  The chunk walk is a bounded 8-step
    fold, so LIST/INFO/fact chunks before ``fmt `` are stepped over
    (word-aligned: odd chunk sizes pad one byte); duration is
    ``data-chunk bytes / byte rate`` — the true container duration,
    available without touching a single sample.  Per row: ``(id,
    format, sample_rate, channels, bits_per_sample, duration_s,
    header_ok)``; non-RIFF/truncated payloads report header_ok false.
    Same scale shape as the image parser: one map-side projection over
    a bounded hex prefix, no shuffle — and the hex window is STAGED
    through a projection boundary so the chunk walk's ~50 byte reads
    share one ``hex(substring(payload))`` evaluation per row instead of
    re-embedding the caller's payload expression each (r13 opt; see
    :func:`image_header_meta`)."""
    df = df.withColumn("__hx",
                       F.hex(F.substring(F.col(data_col), 1,
                                         int(scan_bytes))))
    hx = F.col("__hx")
    hxlen = F.length(hx)

    is_riff_wave = ((F.substring(hx, 1, 8) == "52494646")        # 'RIFF'
                    & (F.substring(hx, 17, 8) == "57415645")     # 'WAVE'
                    & (hxlen >= 24))

    # fold state: pos, sample_rate, channels, bits, byte_rate, data_size.
    # The whole 8-step fold parses as ONE SQL string instead of ~400
    # py4j Column calls (the r13 single-parse treatment applied to the
    # walk — measured ~180 ms of pure driver build per call); the
    # parsed tree evaluates the identical arithmetic, pinned by the
    # synthesized-container round-trip tests and the driver oracle.
    def s_byte(p: str) -> str:
        return (f"CAST(conv(substring(__hx, ({p}) * 2 - 1, 2), 16, 10)"
                " AS BIGINT)")

    def s_u16(p: str) -> str:
        return f"({s_byte(p)} + {s_byte(f'{p} + 1')} * 256)"

    def s_u32(p: str) -> str:
        return (f"({s_byte(p)} + {s_byte(f'{p} + 1')} * 256"
                f" + {s_byte(f'{p} + 2')} * 65536"
                f" + {s_byte(f'{p} + 3')} * 16777216)")

    def s_state(pos, sr, ch, bits, br, ds):
        return (f"named_struct('pos', CAST({pos} AS BIGINT),"
                f" 'sr', {sr}, 'ch', {ch}, 'bits', {bits},"
                f" 'br', {br}, 'ds', {ds})")

    nil = "CAST(NULL AS BIGINT)"
    init = s_state(13, nil, nil, nil, nil, nil)
    cid = "substring(__hx, (acc.pos) * 2 - 1, 8)"
    size = s_u32("acc.pos + 4")
    # word-aligned advance: odd chunk sizes pad one byte
    nxt = f"(acc.pos + 8 + {size} + pmod({size}, 2))"
    done = ("((acc.sr IS NOT NULL AND acc.ds IS NOT NULL)"
            " OR acc.pos < 0)")
    # id+size span bytes pos..pos+7 → hex chars through 2(pos+7)
    bad = f"((acc.pos * 2 + 14) > length(__hx) OR ({size}) IS NULL)"
    stop = s_state(-1, "acc.sr", "acc.ch", "acc.bits", "acc.br", "acc.ds")
    take_fmt = s_state(nxt, s_u32("acc.pos + 12"), s_u16("acc.pos + 10"),
                       s_u16("acc.pos + 22"), s_u32("acc.pos + 16"),
                       "acc.ds")
    # 'data' payload may dwarf the window — capture size and jump;
    # if fmt was already seen the next step's `done` short-circuits
    take_data = s_state(nxt, "acc.sr", "acc.ch", "acc.bits", "acc.br",
                        size)
    walk = s_state(nxt, "acc.sr", "acc.ch", "acc.bits", "acc.br",
                   "acc.ds")
    step = (f"CASE WHEN {done} THEN acc"
            f" WHEN {bad} THEN {stop}"
            f" WHEN {cid} = '666D7420' THEN {take_fmt}"   # 'fmt '
            f" WHEN {cid} = '64617461' THEN {take_data}"  # 'data'
            f" ELSE {walk} END")
    # stage the fold STRUCT through a projection boundary too (r13 opt,
    # same lesson as the hex window): the output columns reference the
    # walk state 8 times, and aggregate() is CodegenFallback-interpreted
    # with no subexpression elimination — unstaged, every reference
    # re-ran the whole 8-step chunk walk per row
    df = df.withColumn("__st",
                       F.expr(f"aggregate(sequence(1, 8), {init},"
                              f" (acc, x) -> {step})"))
    st = F.col("__st")
    ok = (is_riff_wave & st["sr"].isNotNull() & st["ds"].isNotNull()
          & (st["br"] > 0))
    dur = F.try_divide(st["ds"].cast("double"), st["br"].cast("double"))
    return df.select(
        F.col(id_col),
        F.when(is_riff_wave, F.lit("wav")).alias("format"),
        F.when(is_riff_wave, st["sr"]).cast("int").alias("sample_rate"),
        F.when(is_riff_wave, st["ch"]).cast("int").alias("channels"),
        F.when(is_riff_wave, st["bits"]).cast("int")
        .alias("bits_per_sample"),
        F.when(ok, dur).alias("duration_s"),
        F.coalesce(ok, F.lit(False)).alias("header_ok"))


AUDIO_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("sample_rate", IntegerType()),
    StructField("duration_s", DoubleType()),
    StructField("rms_level", DoubleType()),
    StructField("peak_level", DoubleType()),
    StructField("decode_ok", IntegerType()),
])


def decode_audio(df: DataFrame, id_col: str = "media_id",
                 data_col: str = "data") -> DataFrame:
    """Audio decode → (sample_rate, duration, RMS/peak level). The audio
    codecs (soundfile/librosa) are not in this container, so the decode
    is a DETERMINISTIC STAND-IN (content-hash derived, ``decode_ok=0``);
    the Spark-side plumbing — binary column in, Arrow batch shapes,
    typed metadata out — is the real contract a codec drops into (swap
    the body of the per-row branch, keep the schema)."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rates = [8000, 16000, 22050, 44100, 48000]
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf[id_col], pdf[data_col]):
                data = bytes(data) if data is not None else b""
                v = _content_rng_values(data, 4)
                rows.append((mid, rates[int(v[0] * len(rates))],
                             round(v[1] * 600.0, 3),
                             round(v[2] * 0.5, 6),
                             round(min(1.0, v[2] * 0.5 + v[3] * 0.5), 6), 0))
            yield pd.DataFrame(rows, columns=[
                id_col, "sample_rate", "duration_s", "rms_level",
                "peak_level", "decode_ok"])

    return df.select(id_col, data_col).mapInPandas(run, AUDIO_SCHEMA)
