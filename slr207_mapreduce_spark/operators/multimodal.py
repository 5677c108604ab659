"""Multimodal column operators (BASELINE.json north_star).

Contract: image/audio/video payloads are opaque ``binary`` columns with a
typed metadata struct alongside; decode / feature-extract / resize /
frame-sample run as Arrow-batched pandas functions over ``mapInPandas`` —
the only Spark-idiomatic shape for per-blob Python work (vectorized batch
transfer, no per-row pickling, partition-parallel).

Codec status: every registered query decodes REAL bytes — PNG, GIF/LZW,
baseline JPEG (operators/jpeg.py), PCM WAV, G.711 mu-law, P6 PPM, the RAWV
frame container, and MJPEG-in-AVI all have from-spec encoders/decoders in
this package, so feature extraction / resize / frame indexing run over
genuine container bytes end-to-end (r08 VERDICT item 5 retired the last
md5-derived stand-ins). No external image library is used; swapping a
library codec into any of the mapInPandas paths changes only the inner
python function.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Typed metadata carried next to every blob (never inside it).
BLOB_META_SCHEMA = StructType(
    [
        StructField("media_type", StringType()),  # image/png, audio/wav, ...
        StructField("source_uri", StringType()),
        StructField("n_bytes", LongType()),
    ]
)

IMAGE_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def with_blob_column(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Demo blob table: UTF-8 payload bytes + metadata struct. In production
    this is the parquet/iceberg table of raw media bytes."""
    return docs.select(
        "doc_id",
        F.encode(F.col(text_col), "UTF-8").alias("payload").cast(BinaryType()),
        F.struct(
            F.lit("text/plain").alias("media_type"),
            F.concat(F.lit("mem://doc/"), F.col("doc_id")).alias("source_uri"),
            F.length(F.encode(F.col(text_col), "UTF-8")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def ppm_image_features(blob_df: DataFrame) -> DataFrame:
    """FULL-decode feature extraction over real P6 PPM payloads: parse the
    header (positional — see decode_ppm), materialize the pixel array, and
    emit exact per-channel sums + dims + payload size. This is the
    feature-extraction stage of a media pipeline over genuine container
    bytes; constant memory per Arrow batch, nothing but (doc_id, features)
    ever leaves the scan stage (replaces the retired md5-stub path —
    r08 VERDICT item 5)."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in IMAGE_FEATURE_SCHEMA.fields}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                img = decode_ppm(raw).astype("int64")
                rows["doc_id"].append(doc_id)
                rows["height"].append(img.shape[0])
                rows["width"].append(img.shape[1])
                rows["n_bytes"].append(len(raw))
                rows["sum_r"].append(int(img[:, :, 0].sum()))
                rows["sum_g"].append(int(img[:, :, 1].sum()))
                rows["sum_b"].append(int(img[:, :, 2].sum()))
            yield pd.DataFrame(rows)

    return blob_df.select("doc_id", "payload").mapInPandas(
        feats, schema=IMAGE_FEATURE_SCHEMA
    )


THUMBNAIL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("in_w", IntegerType()),
        StructField("in_h", IntegerType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def thumbnail_nearest(img, target: int):
    """PIL-``thumbnail`` geometry over a REAL decoded image, then a real
    nearest-neighbor resample: scale = min(t/w, t/h) in IEEE f64,
    out = max(1, floor(dim * scale)) — bit-identical to the SQL oracle's
    DOUBLE arithmetic — and source index (i*h)//oh, (j*w)//ow in exact
    integer math. Distinct from resize_nearest_fit, whose geometry is the
    all-integer dim*target//max(w,h) form."""
    import math

    import numpy as np

    h, w, _ = img.shape
    scale = min(float(target) / w, float(target) / h)
    ow = max(1, int(math.floor(w * scale)))
    oh = max(1, int(math.floor(h * scale)))
    yi = (np.arange(oh, dtype="int64") * h) // oh
    xi = (np.arange(ow, dtype="int64") * w) // ow
    return img[yi][:, xi]


def ppm_thumbnail_features(blob_df: DataFrame, target: int = 4) -> DataFrame:
    """REAL decode + float-geometry thumbnail: parse each P6 payload,
    shrink it with PIL's thumbnail arithmetic (IEEE f64 scale, floor,
    1-px clamp), and emit exact per-channel sums over the resampled
    pixels, so the geometry AND the resample are both oracle-checked."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in THUMBNAIL_SCHEMA.fields}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = decode_ppm(bytes(payload))
                small = thumbnail_nearest(img, target).astype("int64")
                rows["doc_id"].append(doc_id)
                rows["in_h"].append(img.shape[0])
                rows["in_w"].append(img.shape[1])
                rows["out_h"].append(small.shape[0])
                rows["out_w"].append(small.shape[1])
                rows["sum_r"].append(int(small[:, :, 0].sum()))
                rows["sum_g"].append(int(small[:, :, 1].sum()))
                rows["sum_b"].append(int(small[:, :, 2].sum()))
            yield pd.DataFrame(rows)

    return blob_df.select("doc_id", "payload").mapInPandas(
        feats, schema=THUMBNAIL_SCHEMA
    )


FRAME_INDEX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("byte_offset", LongType()),
        StructField("frame_bytes", LongType()),
        StructField("frame_uri", StringType()),
    ]
)


def iter_frame_index(payload: bytes):
    """Yield (frame_idx, byte_offset, frame_bytes) by walking a RAWV
    container's length prefixes WITHOUT decoding any frame — the demuxer
    index scan a seek-based sampler runs first. byte_offset addresses the
    frame's PPM bytes within the payload."""
    if payload[:4] != b"RAWV":
        raise ValueError("not a RAWV frame stream")
    if len(payload) < 8:
        raise ValueError("truncated RAWV header")
    (n_frames,) = struct.unpack("<I", payload[4:8])
    pos = 8
    for idx in range(n_frames):
        if pos + 4 > len(payload):
            raise ValueError("truncated RAWV length prefix")
        (ln,) = struct.unpack("<I", payload[pos : pos + 4])
        pos += 4
        if pos + ln > len(payload):
            raise ValueError("truncated RAWV frame body")
        yield idx, pos, ln
        pos += ln
    if pos != len(payload):
        raise ValueError("trailing bytes after last frame")


def video_frame_index(blob_df: DataFrame) -> DataFrame:
    """Frame MANIFEST extraction: one row per contained frame with its
    byte offset and size, read from the real container framing only (no
    pixel decode — the cheap first pass that plans which byte ranges a
    sampler will fetch; replaces the retired length-heuristic stub).
    The container walk runs cohort-vectorized over the whole Arrow batch
    (r11b, same lockstep as the frame-sample path); irregular payloads
    replay through the scalar walker, which owns the documented
    ValueError contract."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            ln = np.array([len(p) for p in payloads], dtype="int64")
            off = np.zeros(len(payloads), dtype="int64")
            np.cumsum(ln[:-1], out=off[1:])
            buf = np.frombuffer(b"".join(payloads), dtype="uint8")
            ids = pdf["doc_id"].to_numpy()
            fdoc, fj, foff, fln, bad = _rawv_walk(buf, off, ln)
            order = np.lexsort((fj, fdoc))
            fdoc, fj, foff, fln = fdoc[order], fj[order], foff[order], fln[order]
            rel_off = foff - off[fdoc]  # scalar yields payload-relative offsets
            frame_ids = ids[fdoc].astype("int64")
            out = pd.DataFrame(
                {
                    "doc_id": frame_ids,
                    "frame_idx": fj.astype("int32"),
                    "byte_offset": rel_off,
                    "frame_bytes": fln,
                    "_pos": fdoc,
                }
            )
            # one pass over the already-sorted arrays (r11 ADVICE item 4 —
            # the previous Series-concat chain allocated three temporary
            # string Series per batch and stringified frame_ids twice)
            out["frame_uri"] = [
                f"rawv://{d}#{j}@{o}"
                for d, j, o in zip(frame_ids, fj, rel_off)
            ]
            if bad.any():
                fb = {k.name: [] for k in FRAME_INDEX_SCHEMA.fields}
                fb["_pos"] = []
                for s in np.nonzero(bad)[0]:
                    for idx, o, l in iter_frame_index(payloads[s]):
                        fb["doc_id"].append(int(ids[s]))
                        fb["frame_idx"].append(idx)
                        fb["byte_offset"].append(o)
                        fb["frame_bytes"].append(l)
                        fb["frame_uri"].append(f"rawv://{int(ids[s])}#{idx}@{o}")
                        fb["_pos"].append(s)
                out = pd.concat([out, pd.DataFrame(fb)], ignore_index=True)
                out = out.sort_values(
                    ["_pos", "frame_idx"], kind="mergesort"
                ).reset_index(drop=True)
            out = out.drop(columns="_pos")
            out["frame_idx"] = out["frame_idx"].astype("int32")
            out["byte_offset"] = out["byte_offset"].astype("int64")
            out["frame_bytes"] = out["frame_bytes"].astype("int64")
            yield out[[f.name for f in FRAME_INDEX_SCHEMA.fields]]

    return blob_df.select("doc_id", "payload").mapInPandas(
        feats, schema=FRAME_INDEX_SCHEMA
    )


# --- REAL codec: PCM WAV (pure stdlib + numpy — no soundfile needed) -----
#
# The container lacks PIL/soundfile, but RIFF/WAVE PCM is a 44-byte header
# over raw little-endian samples — fully decodable with struct + numpy. This
# upgrades the audio path from "plumbing with a stubbed codec" to a REAL
# byte-level encode → decode → feature pipeline: the registered query
# synthesizes genuine WAV blobs, parses them back, and the DuckDB oracle
# recomputes the features from the closed-form sample generator — any
# header-layout or byte-order bug breaks the hash match.

import struct


def encode_wav_pcm16(samples, rate: int) -> bytes:
    """Mono 16-bit PCM WAV bytes (RIFF little-endian) from an int16 array."""
    import numpy as np

    data = np.asarray(samples, dtype="<i2").tobytes()
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
    return hdr + fmt + b"data" + struct.pack("<I", len(data)) + data


def decode_wav_pcm16(payload: bytes):
    """(sample_rate, int16 numpy array) from mono PCM WAV bytes; validates
    the RIFF/fmt layout loudly instead of guessing."""
    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    if len(payload) < 44:
        raise ValueError("truncated WAV header")
    (size, fmt_tag, channels, rate, _br, _ba, bits) = struct.unpack(
        "<IHHIIHH", payload[16:36]
    )
    if (size, fmt_tag, channels, bits) != (16, 1, 1, 16):
        raise ValueError(f"unsupported WAV layout: {(size, fmt_tag, channels, bits)}")
    if payload[36:40] != b"data":
        raise ValueError("missing data chunk")
    (n_bytes,) = struct.unpack("<I", payload[40:44])
    if n_bytes % 2 or len(payload) < 44 + n_bytes:
        # a declared chunk longer than the bytes present silently decoded
        # to FEWER samples before (r10 fuzz) — that's data loss, not leniency
        raise ValueError("truncated WAV data chunk")
    return rate, np.frombuffer(payload[44 : 44 + n_bytes], dtype="<i2")


def fan_out_for_kernel(keys: DataFrame) -> DataFrame:
    """Round-robin the narrow key projection feeding a Python-kernel
    (codec) stage out to the session's full parallelism.

    The codec pipelines are CPU-bound per ROW, not per byte: a key-only
    scan of the documents table is a few MB, so the size-based split
    planner hands it to a handful of partitions — and the expensive
    mapInPandas kernel above it inherits that under-parallelism (measured:
    the sf1 MJPEG pipeline ran 12-wide on 32 cores). Shuffling the keys is
    ~8 bytes/row, ~free; the kernel stage becomes embarrassingly parallel.
    Delegates to operators/skew.py::parallelize_narrow_scan, whose guards
    (partition count AND parquet row-group count vs defaultParallelism)
    make this a no-op wherever the scan is already wide — so at scale no
    extra exchange appears."""
    from slr207_mapreduce_spark.operators.skew import parallelize_narrow_scan

    return parallelize_narrow_scan(keys)


def synth_wav_blobs(docs: DataFrame, rate: int = 8000) -> DataFrame:
    """(doc_id, payload): real WAV bytes for the deterministic test signal
    s_i = ((doc_id*31 + i*17) % 2048) - 1024 over n = 160 + doc_id % 41
    samples — closed-form, so an SQL oracle can recompute every feature."""
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 160 + d % 41
                i = np.arange(n, dtype="int64")
                s = ((d * 31 + i * 17) % 2048) - 1024
                out.append(encode_wav_pcm16(s.astype("<i2"), rate))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": out})

    return fan_out_for_kernel(docs.select("doc_id")).mapInPandas(gen, schema=schema)


WAV_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("peak_abs", LongType()),
        StructField("sum_abs", LongType()),
    ]
)


def wav_features(blob_df: DataFrame) -> DataFrame:
    """REAL decode: parse each WAV payload and emit exact integer features
    (Arrow-batched mapInPandas, constant memory per batch)."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = {"doc_id": [], "sample_rate": [], "n_samples": [], "peak_abs": [], "sum_abs": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, s = decode_wav_pcm16(bytes(payload))
                a = np.abs(s.astype("int64"))
                rows["doc_id"].append(doc_id)
                rows["sample_rate"].append(rate)
                rows["n_samples"].append(len(s))
                rows["peak_abs"].append(int(a.max()) if len(a) else 0)
                rows["sum_abs"].append(int(a.sum()))
            yield pd.DataFrame(rows)

    return blob_df.select("doc_id", "payload").mapInPandas(
        feats, schema=WAV_FEATURE_SCHEMA
    )


WAV_ANALYSIS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("zcr", LongType()),
        StructField("sum_sq", LongType()),
        StructField("n_loud", LongType()),
    ]
)


def wav_analysis_features(blob_df: DataFrame, loud_threshold: int = 512) -> DataFrame:
    """REAL audio ANALYSIS over the decode path — the classic
    voice-activity trio a speech pipeline computes per clip: zero
    crossings (count of adjacent sample pairs with strictly opposite
    signs — the textbook noisiness/pitch proxy), exact integer energy
    (sum of squares; int16 squares overflow int16, so the kernel widens
    to int64 BEFORE multiplying), and the loud-frame count
    (|s| >= threshold). All integers, so the whole feature set is
    DuckDB-replayable sample-for-sample."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = {k.name: [] for k in WAV_ANALYSIS_SCHEMA.fields}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _, s = decode_wav_pcm16(bytes(payload))
                a = s.astype("int64")
                rows["doc_id"].append(doc_id)
                rows["n_samples"].append(len(a))
                rows["zcr"].append(int(np.count_nonzero(a[:-1] * a[1:] < 0)))
                rows["sum_sq"].append(int((a * a).sum()))
                rows["n_loud"].append(int(np.count_nonzero(np.abs(a) >= loud_threshold)))
            yield pd.DataFrame(rows)

    return blob_df.select("doc_id", "payload").mapInPandas(
        feats, schema=WAV_ANALYSIS_SCHEMA
    )


# --- REAL codec: G.711 mu-law companded audio (ITU-T G.711, from spec) ---
#
# Closes the "audio is uncompressed PCM only" gap the same way GIF/JPEG
# closed images: a genuine standard COMPRESSED audio format implemented
# from the specification, no library. mu-law is 8-bit logarithmic
# companding (sign + 3-bit segment + 4-bit mantissa over a 14-bit
# magnitude, bias 33, clip 8158) — STATELESS per sample, so unlike ADPCM
# its decode(encode(x)) is a closed-form integer function of x that a SQL
# oracle replays exactly, per sample, with bit arithmetic. The container
# is a real RIFF/WAVE with format tag 7 (WAVE_FORMAT_MULAW, 8 bits/sample)
# — the actual on-disk shape of telephony corpora.

_ULAW_BIAS = 33  # 14-bit-domain bias (ITU G.711 / CCITT reference)
_ULAW_CLIP = 8158  # max 14-bit magnitude before bias


def mulaw_compress(samples):
    """int16 array -> uint8 mu-law codes, vectorized, spec arithmetic:
    drop to 14-bit (arithmetic >> 2), clip magnitude to 8158, add bias 33,
    segment = floor(log2(m)) - 5 via exact integer thresholds, mantissa =
    the 4 bits below the segment's leading bit, complement the result."""
    import numpy as np

    s = np.asarray(samples, dtype=np.int64)
    x = s >> 2  # arithmetic shift == floor(s/4): int16 -> 14-bit domain
    neg = x < 0
    m = np.minimum(np.where(neg, -x, x), _ULAW_CLIP) + _ULAW_BIAS
    # m in [33, 8191]: segment by exact power-of-two thresholds (no float)
    seg = np.searchsorted(
        np.array([64, 128, 256, 512, 1024, 2048, 4096]), m, side="right"
    )
    mant = (m >> (seg + 1)) & 0xF
    u = (np.where(neg, 0x80, 0) | (seg << 4) | mant) ^ 0xFF  # complemented
    return u.astype(np.uint8)


def mulaw_expand(codes):
    """uint8 mu-law codes -> int16 samples (the exact inverse companding:
    magnitude = ((2*mantissa + 33) << segment) - 33, back to 16-bit *4)."""
    import numpy as np

    u = np.asarray(codes, dtype=np.int64) ^ 0xFF
    seg = (u >> 4) & 0x7
    mant = u & 0xF
    mag = (((2 * mant + _ULAW_BIAS) << seg) - _ULAW_BIAS) * 4
    return np.where(u & 0x80, -mag, mag).astype(np.int16)


def encode_wav_mulaw(samples, rate: int) -> bytes:
    """Mono mu-law WAV bytes (RIFF, format tag 7, 8 bits/sample) from an
    int16 array — compression happens here (2:1 vs PCM16)."""
    data = mulaw_compress(samples).tobytes()
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 7, 1, rate, rate, 1, 8)
    return hdr + fmt + b"data" + struct.pack("<I", len(data)) + data


def decode_wav_mulaw(payload: bytes):
    """(sample_rate, int16 numpy array) from mono mu-law WAV bytes;
    validates RIFF layout and the mu-law format tag loudly."""
    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    if len(payload) < 44:
        raise ValueError("truncated WAV header")
    (size, fmt_tag, channels, rate, _br, _ba, bits) = struct.unpack(
        "<IHHIIHH", payload[16:36]
    )
    if (size, fmt_tag, channels, bits) != (16, 7, 1, 8):
        raise ValueError(f"unsupported mu-law layout: {(size, fmt_tag, channels, bits)}")
    if payload[36:40] != b"data":
        raise ValueError("missing data chunk")
    (n_bytes,) = struct.unpack("<I", payload[40:44])
    if len(payload) < 44 + n_bytes:
        raise ValueError("truncated WAV data chunk")  # see decode_wav_pcm16
    return rate, mulaw_expand(np.frombuffer(payload[44 : 44 + n_bytes], dtype=np.uint8))


def synth_mulaw_blobs(docs: DataFrame, rate: int = 8000) -> DataFrame:
    """(doc_id, payload): real mu-law WAV bytes for the FULL-RANGE test
    signal s_i = ((doc_id*37 + i*97) % 65536) - 32768 over n = 160 +
    doc_id % 41 samples. Unlike the PCM query's +-1024 signal, this sweep
    exercises every segment 0-7 AND the clip branch (|s| up to 32768 >
    4*8158), and stays closed-form for the SQL oracle."""
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 160 + d % 41
                i = np.arange(n, dtype="int64")
                s = ((d * 37 + i * 97) % 65536) - 32768
                out.append(encode_wav_mulaw(s.astype(np.int16), rate))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": out})

    return fan_out_for_kernel(docs.select("doc_id")).mapInPandas(gen, schema=schema)


def mulaw_features(blob_df: DataFrame) -> DataFrame:
    """REAL decode: parse each mu-law WAV payload, expand to linear, emit
    exact integer features of the DECODED signal (the oracle replays
    decode(encode(s)) closed-form, so any segment/mantissa/bias/clip/
    complement bug in either direction breaks the hash match)."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = {
                "doc_id": [],
                "sample_rate": [],
                "n_samples": [],
                "peak_abs": [],
                "sum_abs": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, s = decode_wav_mulaw(bytes(payload))
                a = np.abs(s.astype("int64"))
                rows["doc_id"].append(doc_id)
                rows["sample_rate"].append(rate)
                rows["n_samples"].append(len(s))
                rows["peak_abs"].append(int(a.max()) if len(a) else 0)
                rows["sum_abs"].append(int(a.sum()))
            yield pd.DataFrame(rows)

    return blob_df.select("doc_id", "payload").mapInPandas(
        feats, schema=WAV_FEATURE_SCHEMA
    )


# --- REAL codec: binary PPM (P6) images + integer nearest resize ---------


def encode_ppm(img) -> bytes:
    """P6 PPM bytes from an (h, w, 3) uint8 array — the simplest real
    image container (ASCII header + raw RGB), needing no library."""
    import numpy as np

    a = np.asarray(img, dtype="uint8")
    h, w, c = a.shape
    if c != 3:
        raise ValueError("PPM P6 is RGB")
    return f"P6\n{w} {h}\n255\n".encode() + a.tobytes()


def decode_ppm(payload: bytes):
    """(h, w, 3) uint8 array from P6 PPM bytes; validates the header.

    The header must be parsed positionally: exactly ONE whitespace byte
    follows maxval, and the raw RGB stream may well BEGIN with bytes that
    look like whitespace (0x20, 0x0a, ...) — a split()-based parse eats
    those pixels (the classic PPM decoder bug; caught by the oracle)."""
    import numpy as np

    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos = 2
    fields = []
    for _ in range(3):
        while payload[pos : pos + 1] in (b" ", b"\t", b"\r", b"\n"):
            pos += 1
        start = pos
        while payload[pos : pos + 1] not in (b" ", b"\t", b"\r", b"\n", b""):
            pos += 1
        fields.append(int(payload[start:pos]))
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    raw = payload[pos + 1 :]  # exactly one whitespace byte after maxval
    a = np.frombuffer(raw[: w * h * 3], dtype="uint8")
    if a.size != w * h * 3:
        raise ValueError("truncated pixel data")
    return a.reshape(h, w, 3)


def resize_nearest_fit(img, target: int):
    """REAL aspect-preserving nearest-neighbor resize, all-integer
    arithmetic: out = max(1, dim*target // max(w,h)); source index for
    output (i, j) is ((i*h) // oh, (j*w) // ow) — exactly reproducible in
    SQL with integer division, which is what makes the resize itself
    oracle-checkable (not just its geometry)."""
    import numpy as np

    h, w, _ = img.shape
    m = max(w, h)
    ow, oh = max(1, w * target // m), max(1, h * target // m)
    yi = (np.arange(oh, dtype="int64") * h) // oh
    xi = (np.arange(ow, dtype="int64") * w) // ow
    return img[yi][:, xi]


def synth_ppm_blobs(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): real P6 bytes for the deterministic test image
    w = 8 + doc_id % 9, h = 6 + doc_id % 7,
    rgb(x, y) = ((doc_id + 7*p) % 256, (doc_id*3 + 5*p) % 256,
                 (doc_id*5 + 11*p) % 256) with p = y*w + x."""
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 8 + d % 9, 6 + d % 7
                p = np.arange(h * w, dtype="int64")
                img = np.stack(
                    [(d + 7 * p) % 256, (d * 3 + 5 * p) % 256, (d * 5 + 11 * p) % 256],
                    axis=1,
                ).reshape(h, w, 3)
                out.append(encode_ppm(img.astype("uint8")))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": out})

    return fan_out_for_kernel(docs.select("doc_id")).mapInPandas(gen, schema=schema)


PPM_RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def ppm_resize_features(blob_df: DataFrame, target: int = 4) -> DataFrame:
    """REAL decode + REAL resize: parse each P6 payload, nearest-fit it to
    ``target``, emit exact per-channel sums over the resized pixels."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in PPM_RESIZE_SCHEMA.fields}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = decode_ppm(bytes(payload))
                small = resize_nearest_fit(img, target).astype("int64")
                rows["doc_id"].append(doc_id)
                rows["out_h"].append(small.shape[0])
                rows["out_w"].append(small.shape[1])
                rows["sum_r"].append(int(small[:, :, 0].sum()))
                rows["sum_g"].append(int(small[:, :, 1].sum()))
                rows["sum_b"].append(int(small[:, :, 2].sum()))
            yield pd.DataFrame(rows)

    return blob_df.select("doc_id", "payload").mapInPandas(
        feats, schema=PPM_RESIZE_SCHEMA
    )


# --- REAL container: length-prefixed PPM frame stream (video path) -------
#
# No video library exists in this container, but the video PIPELINE shape —
# parse a multi-frame byte stream, sample every Nth frame, decode sampled
# frames only — is fully exercisable over a real (if simple) container:
# b"RAWV" + u32 frame count + per-frame (u32 length, P6 PPM bytes). The
# decoder seeks frame boundaries from the length prefixes, so sampling
# skips the bytes of unsampled frames exactly as a real demuxer would.


def encode_frame_stream(frames) -> bytes:
    """Container bytes from a list of (h, w, 3) uint8 frames."""
    parts = [b"RAWV", struct.pack("<I", len(frames))]
    for f in frames:
        ppm = encode_ppm(f)
        parts.append(struct.pack("<I", len(ppm)))
        parts.append(ppm)
    return b"".join(parts)


def iter_sampled_frames(payload: bytes, every_n: int):
    """Yield (frame_idx, decoded frame) for frames 0, every_n, 2*every_n…;
    unsampled frames are SKIPPED by their length prefix, never decoded.
    The container walk is iter_frame_index — ONE implementation of the
    RAWV framing (r09 review: two independent walkers would let a framing
    change land in only one of the manifest and sampling passes)."""
    for idx, off, ln in iter_frame_index(payload):
        if idx % every_n == 0:
            yield idx, decode_ppm(payload[off : off + ln])


def _synth_rawv_cohort(doc_ids):
    """Vectorized synth of the deterministic RAWV fixture for an int64
    array of doc ids (the r11 JPEG-cohort discipline: one numpy pipeline
    over every container of an Arrow batch instead of a per-doc Python
    loop, byte-identical to ``encode_frame_stream`` of the scalar fixture
    frames — pinned by tests/test_analytics_r4.py parity).

    Returns ``(buf, doc_off, doc_len)``: every container back-to-back in
    one uint8 buffer, ``buf[doc_off[i]:doc_off[i]+doc_len[i]]`` being doc
    i's exact container bytes."""
    import numpy as np

    d = np.asarray(doc_ids, dtype="int64")
    n = 5 + d % 6
    starts = np.zeros(len(d), dtype="int64")
    np.cumsum(n[:-1], out=starts[1:])
    total_frames = int(n.sum())
    did = np.repeat(d, n)
    fidx = np.arange(total_frames, dtype="int64") - np.repeat(starts, n)
    w = 4 + fidx % 3  # single-digit widths -> fixed 11-byte P6 header
    body_len = 9 * w  # h=3, 3 channels
    rec_len = 4 + 11 + body_len  # u32 prefix + header + pixels
    doc_len = 8 + np.add.reduceat(rec_len, starts)
    doc_off = np.zeros(len(d), dtype="int64")
    np.cumsum(doc_len[:-1], out=doc_off[1:])
    buf = np.zeros(int(doc_len.sum()), dtype="uint8")
    for k, ch in enumerate(b"RAWV"):
        buf[doc_off + k] = ch
    for k in range(4):  # little-endian u32 frame count
        buf[doc_off + 4 + k] = (n >> (8 * k)) & 0xFF
    grec = np.zeros(total_frames, dtype="int64")
    np.cumsum(rec_len[:-1], out=grec[1:])
    rec_off = np.repeat(doc_off + 8, n) + (grec - np.repeat(grec[starts], n))
    for k in range(4):  # little-endian u32 PPM length
        buf[rec_off + k] = ((11 + body_len) >> (8 * k)) & 0xFF
    for wv in (4, 5, 6):
        sel = w == wv
        if not sel.any():
            continue
        hdr = np.frombuffer(f"P6\n{wv} 3\n255\n".encode(), dtype="uint8")
        buf[rec_off[sel][:, None] + 4 + np.arange(11)] = hdr[None, :]
        p = np.arange(3 * wv, dtype="int64")
        ds, fs = did[sel][:, None], fidx[sel][:, None]
        body = np.empty((int(sel.sum()), 3 * wv, 3), dtype="uint8")
        body[:, :, 0] = (ds + fs + 2 * p) % 256
        body[:, :, 1] = (ds * 2 + fs + 3 * p) % 256
        body[:, :, 2] = (ds * 3 + fs + 5 * p) % 256
        dst = rec_off[sel][:, None] + 15 + np.arange(3 * 3 * wv)
        buf[dst] = body.reshape(len(dst), -1)
    return buf, doc_off, doc_len


def _rawv_walk(buf, doc_off, doc_len):
    """Lockstep RAWV container walk for all streams in ``buf`` at once —
    an HONEST re-parse (frame counts and length prefixes are read back
    from the bytes, never reusing encode-side offsets). Iteration count =
    the MAX frame count of any one stream, not the sum.

    Returns ``(fdoc, fj, foff, fln, bad)``: one entry per frame of every
    clean stream (stream position, frame index, global byte offset of the
    frame body, frame length) plus the per-stream ``bad`` mask of streams
    that failed a framing check and must replay on the scalar path (which
    owns the documented ValueError contract — same handoff rule as the
    JPEG cohort decoder). Frames of bad streams are already dropped."""
    import numpy as np

    nbuf = len(buf)
    n_docs = len(doc_off)
    if nbuf == 0:  # all-empty batch: nothing to gather; every stream is
        # a scalar-path case (decode_ppm/iter_frame_index own the error)
        z = np.zeros(0, dtype="int64")
        return z, z, z, z, np.ones(n_docs, dtype=bool)
    clamp = lambda idx: np.minimum(idx, nbuf - 1)  # noqa: E731

    def u32_at(pos):
        v = np.zeros(len(pos), dtype="int64")
        for k in range(4):
            v |= buf[clamp(pos + k)].astype("int64") << (8 * k)
        return v

    bad = doc_len < 8
    for k, ch in enumerate(b"RAWV"):
        bad |= buf[clamp(doc_off + k)] != ch
    n2 = np.where(bad, 0, u32_at(doc_off + 4))
    bad |= n2 > np.maximum(doc_len - 8, 0) // 4  # frame costs >= 4 bytes
    n2 = np.where(bad, 0, n2)
    pos = doc_off + 8
    end = doc_off + doc_len
    rec_doc, rec_j, rec_off, rec_ln = [], [], [], []
    max_n = int(n2.max()) if n_docs else 0
    for j in range(max_n):
        act = ~bad & (j < n2)
        if not act.any():
            break
        short = act & (pos + 4 > end)
        bad |= short
        act &= ~short
        ln = u32_at(pos)
        over = act & (pos + 4 + ln > end)
        bad |= over
        act &= ~over
        if act.any():
            idxs = np.nonzero(act)[0]
            rec_doc.append(idxs)
            rec_j.append(np.full(len(idxs), j, dtype="int64"))
            rec_off.append(pos[idxs] + 4)
            rec_ln.append(ln[idxs])
            pos[idxs] += 4 + ln[idxs]
    bad |= ~bad & (pos != end)  # trailing bytes after last frame
    if rec_doc:
        fdoc = np.concatenate(rec_doc)
        fj = np.concatenate(rec_j)
        foff = np.concatenate(rec_off)
        fln = np.concatenate(rec_ln)
    else:
        fdoc = fj = foff = fln = np.zeros(0, dtype="int64")
    keep = ~bad[fdoc]
    return fdoc[keep], fj[keep], foff[keep], fln[keep], bad


def _rawv_sampled_sums(buf, doc_off, doc_len, every_n: int):
    """Strict-P6 decode of every Nth frame for all RAWV streams in ``buf``
    at once, on top of :func:`_rawv_walk`.

    Returns ``(rows, fallback_idx)``: ``rows`` is a dict of numpy arrays
    (stream, frame_idx, frame_w, sum_r, sum_g, sum_b) covering the clean
    streams, sorted by (stream, frame_idx); ``fallback_idx`` lists stream
    positions needing the scalar decoder."""
    import numpy as np

    nbuf = len(buf)
    n_docs = len(doc_off)
    clamp = lambda idx: np.minimum(idx, max(nbuf - 1, 0))  # noqa: E731

    fdoc, fj, foff, fln, bad = _rawv_walk(buf, doc_off, doc_len)
    samp = fj % every_n == 0
    fdoc, fj, foff, fln = fdoc[samp], fj[samp], foff[samp], fln[samp]
    # strict fixed-layout P6 header: "P6\n<w> <h>\n255\n", single digits.
    # Anything else (multi-digit dims, odd whitespace, short frame) hands
    # the WHOLE stream to the scalar decoder — stricter than decode_ppm,
    # never looser, so no scalar-error case can pass here.
    ok = fln >= 11
    for k, ch in enumerate(b"P6\n"):
        ok &= buf[clamp(foff + k)] == ch
    wd = buf[clamp(foff + 3)].astype("int64") - 48
    hd = buf[clamp(foff + 5)].astype("int64") - 48
    ok &= (wd >= 1) & (wd <= 9) & (buf[clamp(foff + 4)] == 0x20)
    ok &= (hd >= 1) & (hd <= 9)
    for k, ch in enumerate(b"\n255\n"):
        ok &= buf[clamp(foff + 6 + k)] == ch
    ok &= fln >= 11 + 3 * wd * hd  # decode_ppm tolerates extra tail bytes
    strict_fail = np.zeros(n_docs, dtype=bool)
    if not ok.all():
        strict_fail[fdoc[~ok]] = True
    fallback = np.nonzero(bad | strict_fail)[0]
    keep = ~strict_fail[fdoc]
    fdoc, fj, foff, wd, hd = fdoc[keep], fj[keep], foff[keep], wd[keep], hd[keep]
    sum_r = np.zeros(len(fdoc), dtype="int64")
    sum_g = np.zeros(len(fdoc), dtype="int64")
    sum_b = np.zeros(len(fdoc), dtype="int64")
    for shape in np.unique(wd * 16 + hd) if len(fdoc) else ():
        wv, hv = int(shape) // 16, int(shape) % 16
        sel = (wd == wv) & (hd == hv)
        idx = foff[sel][:, None] + 11 + np.arange(3 * wv * hv)
        pix = buf[idx].astype("int64").reshape(-1, wv * hv, 3)
        sum_r[sel] = pix[:, :, 0].sum(axis=1)
        sum_g[sel] = pix[:, :, 1].sum(axis=1)
        sum_b[sel] = pix[:, :, 2].sum(axis=1)
    order = np.lexsort((fj, fdoc))
    rows = {
        "stream": fdoc[order],
        "frame_idx": fj[order],
        "frame_w": wd[order],
        "sum_r": sum_r[order],
        "sum_g": sum_g[order],
        "sum_b": sum_b[order],
    }
    return rows, fallback


def synth_video_blobs(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): real frame-stream bytes. Deterministic fixture:
    n_frames = 5 + doc_id % 6; frame f is a (4+f%3) x 3 image with
    rgb(p) = ((doc_id + f + 2*p) % 256, (doc_id*2 + f + 3*p) % 256,
    (doc_id*3 + f + 5*p) % 256), p row-major. Containers are built by the
    vectorized cohort (byte parity with encode_frame_stream pinned)."""
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(dtype="int64")
            buf, off, ln = _synth_rawv_cohort(ids)
            out = [buf[o : o + l].tobytes() for o, l in zip(off, ln)]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": out})

    return fan_out_for_kernel(docs.select("doc_id")).mapInPandas(gen, schema=schema)


FRAME_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_w", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def _frame_rows_from_cohort(doc_ids, buf, off, ln, every_n: int):
    """Row assembly for the vectorized frame-sample kernel: run the
    cohort demux, replay any handed-off stream through the scalar decoder
    (in row order, so the FIRST bad payload raises the same documented
    ValueError the scalar loop would), and merge to one frame table
    sorted by (input row, frame_idx)."""
    import numpy as np

    rows, fallback = _rawv_sampled_sums(buf, off, ln, every_n)
    out = {
        "doc_id": np.asarray(doc_ids)[rows["stream"]],
        "frame_idx": rows["frame_idx"],
        "frame_w": rows["frame_w"],
        "sum_r": rows["sum_r"],
        "sum_g": rows["sum_g"],
        "sum_b": rows["sum_b"],
        "_pos": rows["stream"],
    }
    if len(fallback):
        fb = {k: [] for k in out}
        for s in fallback:
            payload = bytes(buf[off[s] : off[s] + ln[s]])
            for idx, img in iter_sampled_frames(payload, every_n):
                a = img.astype("int64")
                fb["doc_id"].append(doc_ids[s])
                fb["frame_idx"].append(idx)
                fb["frame_w"].append(img.shape[1])
                fb["sum_r"].append(int(a[:, :, 0].sum()))
                fb["sum_g"].append(int(a[:, :, 1].sum()))
                fb["sum_b"].append(int(a[:, :, 2].sum()))
                fb["_pos"].append(s)
        out = {
            k: np.concatenate([np.asarray(out[k]), np.asarray(fb[k], dtype="int64")])
            for k in out
        }
        order = np.lexsort((out["frame_idx"], out["_pos"]))
        out = {k: v[order] for k, v in out.items()}
    out.pop("_pos")
    return pd.DataFrame(
        {
            "doc_id": out["doc_id"].astype("int64"),
            "frame_idx": out["frame_idx"].astype("int32"),
            "frame_w": out["frame_w"].astype("int32"),
            "sum_r": out["sum_r"].astype("int64"),
            "sum_g": out["sum_g"].astype("int64"),
            "sum_b": out["sum_b"].astype("int64"),
        }
    )


def video_frame_sample_roundtrip_features(
    docs: DataFrame, every_n: int = 2
) -> DataFrame:
    """Fused write→read round-trip: synthesize each RAWV container, then
    demux + decode every Nth frame in the SAME kernel — a chained
    synth-kernel → feature-kernel shape shipped each container across the
    JVM boundary three times (see jpeg.py's fused round-trips, r11).
    Both halves run cohort-vectorized (r11b): the synthesized container
    bytes still exist in full and the demux/decode re-parses them from
    the buffer — parity with the scalar encode→iter_sampled_frames chain
    is pinned in tests/test_analytics_r4.py."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(dtype="int64")
            buf, off, ln = _synth_rawv_cohort(ids)
            yield _frame_rows_from_cohort(ids, buf, off, ln, every_n)

    return fan_out_for_kernel(docs.select("doc_id")).mapInPandas(
        gen, schema=FRAME_FEATURE_SCHEMA
    )


# --- REAL codec: PNG (pure stdlib — zlib + struct, 8-bit RGB, no interlace)
#
# The one standard image FORMAT fully writable/readable without any imaging
# library: PNG is zlib-deflated filtered scanlines inside CRC-32-checked
# chunks. The encoder below cycles through ALL FIVE scanline filter types
# (None/Sub/Up/Average/Paeth, one per row) so the decoder's unfiltering of
# every type sits on the oracled round-trip path — a wrong Paeth predictor
# or CRC computation breaks the hash match, not just a header check.

import zlib

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (left, up, upper-left)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(img) -> bytes:
    """PNG bytes from an (h, w, 3) uint8 array — 8-bit RGB, no interlace.
    Row y uses filter type y % 5, so every filter is exercised."""
    import numpy as np

    a = np.asarray(img, dtype="uint8")
    h, w, c = a.shape
    if c != 3:
        raise ValueError("encode_png is 8-bit RGB")
    bpp = 3
    raw = bytearray()
    prev = np.zeros(w * bpp, dtype="int64")
    for y in range(h):
        row = a[y].reshape(-1).astype("int64")
        left = np.concatenate([np.zeros(bpp, dtype="int64"), row[:-bpp]])
        up_left = np.concatenate([np.zeros(bpp, dtype="int64"), prev[:-bpp]])
        f = y % 5
        if f == 0:
            filt = row
        elif f == 1:
            filt = row - left
        elif f == 2:
            filt = row - prev
        elif f == 3:
            filt = row - (left + prev) // 2
        else:
            pred = np.array(
                [_paeth(int(l), int(u), int(ul)) for l, u, ul in zip(left, prev, up_left)],
                dtype="int64",
            )
            filt = row - pred
        raw.append(f)
        raw.extend((filt % 256).astype("uint8").tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 9))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes):
    """(h, w, 3) uint8 array from PNG bytes. Validates the signature and
    every chunk's CRC-32, requires 8-bit RGB non-interlaced, concatenates
    IDAT chunks, inflates, and reverses all five filter types."""
    import numpy as np

    if payload[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG payload")
    pos = 8
    ihdr = None
    idat = bytearray()
    saw_iend = False
    while pos < len(payload):
        # Bounds-check the declared length against the remaining payload so
        # a truncated buffer raises the documented ValueError, not a
        # struct.error from a short unpack (r06 ADVICE).
        if pos + 12 > len(payload):
            raise ValueError("truncated PNG chunk header")
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        if pos + 12 + ln > len(payload):
            raise ValueError("truncated PNG chunk")
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", payload[pos + 8 + ln : pos + 12 + ln])
        if crc != (zlib.crc32(typ + data) & 0xFFFFFFFF):
            raise ValueError(f"bad CRC in {typ!r} chunk")
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat.extend(data)
        elif typ == b"IEND":
            saw_iend = True
            break
        pos += 12 + ln
    if ihdr is None:
        raise ValueError("missing IHDR")
    if not saw_iend:
        # a stream cut after the last IDAT decoded silently before (r10
        # fuzz); IEND is mandatory per the spec and our encoder writes it
        raise ValueError("truncated PNG payload (no IEND)")
    w, h, depth, color, comp, filt_m, interlace = ihdr
    if (depth, color, comp, filt_m, interlace) != (8, 2, 0, 0, 0):
        raise ValueError(f"unsupported PNG layout: {ihdr[2:]}")
    try:
        data = zlib.decompress(bytes(idat))
    except zlib.error as e:
        # corrupt/incomplete deflate must be the documented ValueError
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from None
    bpp, stride = 3, w * 3
    if len(data) != h * (stride + 1):
        raise ValueError("scanline data size mismatch")
    out = np.zeros((h, stride), dtype="int64")
    for y in range(h):
        f = data[y * (stride + 1)]
        row = np.frombuffer(
            data[y * (stride + 1) + 1 : (y + 1) * (stride + 1)], dtype="uint8"
        ).astype("int64")
        prev = out[y - 1] if y else np.zeros(stride, dtype="int64")
        if f == 0:
            out[y] = row
        elif f == 2:
            out[y] = (row + prev) % 256
        elif f in (1, 3, 4):
            # left-dependent filters are inherently sequential per pixel
            cur = out[y]
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                up = prev[x]
                up_left = prev[x - bpp] if x >= bpp else 0
                if f == 1:
                    cur[x] = (row[x] + left) % 256
                elif f == 3:
                    cur[x] = (row[x] + (left + up) // 2) % 256
                else:
                    cur[x] = (row[x] + _paeth(int(left), int(up), int(up_left))) % 256
        else:
            raise ValueError(f"unknown filter type {f}")
    return out.astype("uint8").reshape(h, w, 3)


def synth_png_blobs(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): real PNG bytes for the deterministic test image
    w = 9 + doc_id % 8, h = 5 + doc_id % 6 (h spans 5..10, so every filter
    type 0-4 appears in each image),
    rgb(p) = ((doc_id*2 + 13*p) % 256, (doc_id*7 + 3*p) % 256,
              (doc_id*11 + p) % 256) with p row-major."""
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 9 + d % 8, 5 + d % 6
                p = np.arange(h * w, dtype="int64")
                img = np.stack(
                    [(d * 2 + 13 * p) % 256, (d * 7 + 3 * p) % 256, (d * 11 + p) % 256],
                    axis=1,
                ).reshape(h, w, 3)
                out.append(encode_png(img.astype("uint8")))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": out})

    return fan_out_for_kernel(docs.select("doc_id")).mapInPandas(gen, schema=schema)


PNG_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def png_features(blob_df: DataFrame) -> DataFrame:
    """REAL decode: inflate + unfilter each PNG payload, emit exact
    dimensions and per-channel pixel sums (Arrow-batched mapInPandas)."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in PNG_FEATURE_SCHEMA.fields}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = decode_png(bytes(payload)).astype("int64")
                rows["doc_id"].append(doc_id)
                rows["height"].append(img.shape[0])
                rows["width"].append(img.shape[1])
                rows["sum_r"].append(int(img[:, :, 0].sum()))
                rows["sum_g"].append(int(img[:, :, 1].sum()))
                rows["sum_b"].append(int(img[:, :, 2].sum()))
            yield pd.DataFrame(rows)

    return blob_df.select("doc_id", "payload").mapInPandas(
        feats, schema=PNG_FEATURE_SCHEMA
    )


# --- GIF (LZW-compressed indexed image) -----------------------------------
#
# The first COMPRESSED standard image format in the codec roster whose
# compression is not stdlib-provided: PNG leans on zlib for its deflate
# stage, while GIF's LZW is implemented here from the GIF89a specification
# (variable-width codes 9..12 bits LSB-first, CLEAR/EOI control codes,
# dictionary reset on overflow). Same Spark shape as the other codecs:
# blob-parallel Arrow batches via mapInPandas, no driver involvement.

GIF_HEADER = b"GIF89a"
_GIF_MIN_CODE_SIZE = 8  # 256-color palette
_GIF_CLEAR = 1 << _GIF_MIN_CODE_SIZE  # 256
_GIF_EOI = _GIF_CLEAR + 1  # 257
_GIF_MAX_CODE = 1 << 12  # GIF caps code width at 12 bits


class _BitWriter:
    """LSB-first bit packer (GIF's sub-block byte order)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc, self.nbits = 0, 0
        return bytes(self.out)


def _lzw_compress(indices) -> bytes:
    """GIF-variant LZW over 8-bit palette indices. The decoder's dictionary
    lags the encoder's by exactly one entry, so the width grows when
    next_code == (1 << width) + 1 (mirroring the decoder's
    next_code == 1 << width), and a CLEAR resets both at the 4096 cap."""
    bw = _BitWriter()
    width = _GIF_MIN_CODE_SIZE + 1

    def fresh() -> dict:
        return {bytes([i]): i for i in range(1 << _GIF_MIN_CODE_SIZE)}

    table = fresh()
    next_code = _GIF_EOI + 1
    bw.write(_GIF_CLEAR, width)
    cur = b""
    for i in indices:
        k = bytes([int(i)])
        if cur + k in table:
            cur += k
            continue
        bw.write(table[cur], width)
        if next_code == _GIF_MAX_CODE:
            bw.write(_GIF_CLEAR, width)
            table, next_code, width = fresh(), _GIF_EOI + 1, _GIF_MIN_CODE_SIZE + 1
        else:
            table[cur + k] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        cur = k
    if cur:
        bw.write(table[cur], width)
    bw.write(_GIF_EOI, width)
    return bw.flush()


def _lzw_decompress(data: bytes, n_expected: int) -> bytes:
    """GIF89a appendix-F decoder: emits exactly ``n_expected`` indices or
    raises ValueError on a malformed stream."""
    width = _GIF_MIN_CODE_SIZE + 1
    table: list[bytes] = [bytes([i]) for i in range(1 << _GIF_MIN_CODE_SIZE)]
    table += [b"", b""]  # CLEAR, EOI placeholders
    out = bytearray()
    acc = nbits = pos = 0
    prev: bytes | None = None
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("LZW stream ended without EOI")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == _GIF_CLEAR:
            table = [bytes([i]) for i in range(1 << _GIF_MIN_CODE_SIZE)] + [b"", b""]
            width = _GIF_MIN_CODE_SIZE + 1
            prev = None
            continue
        if code == _GIF_EOI:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("first code after clear not a literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"LZW code {code} ahead of dictionary")
        out += entry
        if prev is not None and len(table) < _GIF_MAX_CODE:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
        if len(out) > n_expected:
            raise ValueError("LZW stream longer than image")
    if len(out) != n_expected:
        raise ValueError(f"LZW stream decoded {len(out)} of {n_expected} pixels")
    return bytes(out)


def gif_palette():
    """The deterministic 256-entry RGB palette every synthetic GIF uses:
    pal[i] = ((3i + 1) % 256, (5i + 7) % 256, (11i + 13) % 256)."""
    import numpy as np

    i = np.arange(256, dtype="int64")
    return np.stack(
        [(3 * i + 1) % 256, (5 * i + 7) % 256, (11 * i + 13) % 256], axis=1
    ).astype("uint8")


def encode_gif(indices, palette) -> bytes:
    """GIF89a bytes from an (h, w) uint8 palette-index array and a
    (256, 3) uint8 global color table: logical screen descriptor, GCT,
    one image descriptor, LZW-compressed table-based image data in
    <=255-byte sub-blocks, trailer."""
    import numpy as np

    a = np.asarray(indices, dtype="uint8")
    h, w = a.shape
    pal = np.asarray(palette, dtype="uint8")
    if pal.shape != (256, 3):
        raise ValueError("encode_gif wants a 256-entry RGB palette")
    out = bytearray(GIF_HEADER)
    # logical screen descriptor: GCT present, 8 bits/channel, 256 entries
    out += struct.pack("<HHBBB", w, h, 0b1111_0111, 0, 0)
    out += pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"  # no LCT
    out.append(_GIF_MIN_CODE_SIZE)
    lzw = _lzw_compress(a.reshape(-1))
    for i in range(0, len(lzw), 255):
        block = lzw[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def decode_gif(payload: bytes):
    """(h, w, 3) uint8 RGB array from GIF87a/89a bytes. Validates header
    and block structure, requires a global color table and a single
    non-interlaced image, concatenates the data sub-blocks, LZW-decodes,
    and maps indices through the palette. Extension blocks (0x21) are
    skipped per spec; truncation raises ValueError."""
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(payload) < 13:
        raise ValueError("truncated GIF screen descriptor")
    sw, sh, packed, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    if not packed & 0x80:
        raise ValueError("GIF without a global color table")
    gct_n = 2 << (packed & 0x07)
    pos = 13
    if pos + 3 * gct_n > len(payload):
        raise ValueError("truncated global color table")
    pal = np.frombuffer(payload[pos : pos + 3 * gct_n], dtype="uint8").reshape(
        gct_n, 3
    )
    pos += 3 * gct_n
    while True:
        if pos >= len(payload):
            raise ValueError("GIF ended before an image descriptor")
        b = payload[pos]
        if b == 0x3B:
            raise ValueError("GIF trailer before any image")
        if b == 0x21:  # extension: label + sub-blocks
            pos += 2
            while True:
                if pos >= len(payload):
                    raise ValueError("truncated GIF extension")
                ln = payload[pos]
                pos += 1 + ln
                if ln == 0:
                    break
            continue
        if b == 0x2C:
            break
        raise ValueError(f"unexpected GIF block 0x{b:02x}")
    if pos + 10 > len(payload):
        raise ValueError("truncated GIF image descriptor")
    _left, _top, w, h = struct.unpack("<HHHH", payload[pos + 1 : pos + 9])
    ipacked = payload[pos + 9]
    pos += 10
    if ipacked & 0x80:
        raise ValueError("local color tables unsupported")
    if ipacked & 0x40:
        raise ValueError("interlaced GIFs unsupported")
    if pos >= len(payload):
        raise ValueError("truncated GIF before LZW code size")
    min_code = payload[pos]
    pos += 1
    if min_code != _GIF_MIN_CODE_SIZE:
        raise ValueError(f"unsupported LZW min code size {min_code}")
    data = bytearray()
    while True:
        if pos >= len(payload):
            raise ValueError("truncated GIF data sub-blocks")
        ln = payload[pos]
        pos += 1
        if ln == 0:
            break
        if pos + ln > len(payload):
            raise ValueError("truncated GIF data sub-block")
        data += payload[pos : pos + ln]
        pos += ln
    if pos >= len(payload) or payload[pos] != 0x3B:
        # GIF89a mandates the trailer; a cut right after the last
        # sub-block decoded silently before (r10 fuzz)
        raise ValueError("truncated GIF payload (no trailer)")
    idx = np.frombuffer(
        _lzw_decompress(bytes(data), w * h), dtype="uint8"
    ).astype("int64")
    if idx.max(initial=0) >= gct_n:
        raise ValueError("palette index out of range")
    return pal[idx].reshape(h, w, 3)


def synth_gif_blobs(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): real GIF89a bytes for the deterministic test
    image w = 8 + doc_id % 9, h = 6 + doc_id % 5, palette gif_palette(),
    index(p) = (doc_id * 5 + 7 * p) % 256 with p row-major."""
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        pal = gif_palette()
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 8 + d % 9, 6 + d % 5
                p = np.arange(h * w, dtype="int64")
                idx = ((d * 5 + 7 * p) % 256).astype("uint8").reshape(h, w)
                out.append(encode_gif(idx, pal))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": out})

    return fan_out_for_kernel(docs.select("doc_id")).mapInPandas(gen, schema=schema)


def gif_features(blob_df: DataFrame) -> DataFrame:
    """REAL decode: LZW-decompress each GIF payload and emit exact
    dimensions and per-channel pixel sums (Arrow-batched mapInPandas) —
    same feature contract as png_features."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in PNG_FEATURE_SCHEMA.fields}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = decode_gif(bytes(payload)).astype("int64")
                rows["doc_id"].append(doc_id)
                rows["height"].append(img.shape[0])
                rows["width"].append(img.shape[1])
                rows["sum_r"].append(int(img[:, :, 0].sum()))
                rows["sum_g"].append(int(img[:, :, 1].sum()))
                rows["sum_b"].append(int(img[:, :, 2].sum()))
            yield pd.DataFrame(rows)

    return blob_df.select("doc_id", "payload").mapInPandas(
        feats, schema=PNG_FEATURE_SCHEMA
    )


# --- Perceptual hash (dHash) over real decoded images (r11b) --------------
#
# Image NEAR-duplicate detection — the multimodal counterpart of the text
# family's simhash: decode each blob (REAL P6 parse), downsample to a fixed
# 8x8 grid with the all-integer nearest indexing resize_nearest_fit uses,
# and take the 56-bit dHash (row-wise brighter-than-right-neighbor bits
# over integer luma 299r+587g+114b). All arithmetic is integer, so the
# whole hash — not just the plumbing — is DuckDB-replayable; candidate
# pairing reuses the bit-sampling LSH discipline of dedup_simhash_pairs
# (7 bands x 8 bits: complete recall for hamming <= 6 by pigeonhole).

PHASH_W, PHASH_H = 16, 12  # synth fixture dimensions
_PHASH_P = 65521  # largest 16-bit prime: base*cell mixing stays exact int64


def synth_phash_blobs(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): real P6 bytes for the near-dup fixture. Docs
    share a base image per group of 4 (base = doc_id - doc_id % 4);
    channel (i, j) of the base is the PRODUCT of two independent linear
    forms in (bb, cell) mod P mod 256, bb = base % P, cell = i*16 + j.
    The bilinear base-cell interaction matters twice over: an additive
    base term would shift all pixels by a constant and leave every
    brighter-than-neighbor comparison — hence the hash — identical
    across bases, and a single linear form ((bb+k0)*(cell*k1+k2), the
    first cut) still left adjacent-cell comparisons correlated enough
    that at 50k docs accidental cross-base near-pairs chained a
    giant duplicate component (measured: 165k accidental pairs, one
    6.5k-doc cluster); the product of two forms drops that to ~300
    scattered accidents at 20k docs with every same-base pair intact.
    Variants v = doc_id % 4 > 0 flip two source pixels by +128,
    perturbing the sampled grid by <= 4 dHash bits (measured), so
    same-base pairs sit at hamming <= 4 while cross-base hashes are
    decorrelated."""
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                base, v = d - d % 4, d % 4
                cell = np.arange(PHASH_H * PHASH_W, dtype="int64").reshape(
                    PHASH_H, PHASH_W
                )
                bb = base % _PHASH_P
                img = np.stack(
                    [
                        (bb * 131 + cell * 151 + 11)
                        * (bb * 313 + cell * 211 + 29)
                        % _PHASH_P
                        % 256,
                        (bb * 173 + cell * 59 + 47)
                        * (bb * 419 + cell * 101 + 7)
                        % _PHASH_P
                        % 256,
                        (bb * 233 + cell * 241 + 91)
                        * (bb * 523 + cell * 37 + 3)
                        % _PHASH_P
                        % 256,
                    ],
                    axis=2,
                )
                if v:
                    img[0, v * 3 - 2, 0] = (img[0, v * 3 - 2, 0] + 128) % 256
                    img[1, v * 3 - 1, 1] = (img[1, v * 3 - 1, 1] + 128) % 256
                out.append(encode_ppm(img.astype("uint8")))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": out})

    return fan_out_for_kernel(docs.select("doc_id")).mapInPandas(gen, schema=schema)


DHASH_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("dhash", LongType())]
)


def dhash56_features(blob_df: DataFrame) -> DataFrame:
    """REAL decode -> 56-bit dHash: parse each P6 payload, nearest-sample
    an 8x8 luma grid (src = ((i2*h)//8, (j2*w)//8) — the integer indexing
    the resize family uses), emit bit (i2*7 + j2) = gray[i2][j2] <
    gray[i2][j2+1]. 56 bits keeps the hash clear of the int64 sign."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, hashes = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = decode_ppm(bytes(payload)).astype("int64")
                h, w, _ = img.shape
                gray = 299 * img[:, :, 0] + 587 * img[:, :, 1] + 114 * img[:, :, 2]
                yi = (np.arange(8, dtype="int64") * h) // 8
                xi = (np.arange(8, dtype="int64") * w) // 8
                g2 = gray[yi][:, xi]
                bits = (g2[:, :7] < g2[:, 1:]).astype("int64")
                hashes.append(int((bits.reshape(-1) << np.arange(56)).sum()))
                ids.append(doc_id)
            yield pd.DataFrame({"doc_id": ids, "dhash": hashes})

    return blob_df.select("doc_id", "payload").mapInPandas(
        feats, schema=DHASH_SCHEMA
    )
