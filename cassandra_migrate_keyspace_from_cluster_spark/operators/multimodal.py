"""Multimodal column handling (SURVEY.md Part F / task mandate).

Model: media ride along as opaque ``binary`` columns with typed
metadata (mime, byte length); decode / feature-extraction runs as
Arrow-batched ``mapInPandas`` so the heavy per-item work is vectorized
per partition and never leaves executor memory as Python rows.

Every modality decodes for real, no media library: audio = RIFF/WAVE
PCM16; image = 24-bit BMP, baseline JPEG (pure-numpy T.81) and RGB8
PNG (stdlib zlib); video = MJPEG in an AVI (RIFF) container, frame
sampled over the JPEG decoder. Each modality is one per-doc payload
formula (``_synthesized``) and one per-payload feature row
(``_guarded_feature_batches``), hash-checked against a DuckDB oracle
that recomputes the features from the same integer formulas (f17b
audio, f17c/f17d/f17e image, f17f video). The lossy JPEG chain stays
oracle-exact because the synthesized images are constant 8×8 tiles
(lone DC coefficient + half-up rounding contract). Inter-frame video
codecs (H.264 …) stay out of scope — those need ffmpeg.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id bigint, mime string, byte_len bigint, head_hex string, "
    "f0 double, f1 double, f2 double, f3 double"
)



def exact_mean6(x) -> float:
    """round(mean, 6) of an integer-valued array, computed exactly.

    Python's ``round`` is half-EVEN and DuckDB's ``round`` is binary
    half-away — they disagree whenever the mean is an exact 7th-digit
    half, which is STRUCTURAL for integer sums over dyadic pixel/sample
    counts (1/128 = 0.0078125). Same exact integer form as
    functions/rounding.exact_mean6: s is exact (integer dtype, or
    integer-valued floats whose sum stays < 2^53), and
    sign(s) * ((2|s|*1e6 + n) // (2n)) / 1e6 is the true rational mean
    rounded half-away-from-zero — matching the oracle's
    sql_exact_mean6 on any engine."""
    s = int(round(float(x.sum())))
    n = int(x.size)
    q = (2 * abs(s) * 1000000 + n) // (2 * n)
    return (q if s >= 0 else -q) / 1e6


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism —
    payload synthesis and codec work are CPU-bound python, so one
    parquet split must not serialize them onto a single core. The
    shuffled rows are just ids (cheap); the downstream mapInPandas
    inherits the widened partitioning."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _synthesized(docs: DataFrame, mime: str, payload_of) -> DataFrame:
    """One ``(doc_id, payload, mime)`` row per doc of ``docs``, the
    payload bytes built by ``payload_of(doc_id) -> bytes`` — the shared
    body of every ``attach_*_payload`` synthesizer."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [payload_of(doc_id) for doc_id in pdf["doc_id"]],
                    "mime": mime,
                }
            )

    # spread the synthesis/codec work across cores: the source is often
    # one parquet split, which would otherwise serialize the python codec
    return _spread(docs.select("doc_id")).mapInPandas(
        gen, "doc_id bigint, payload binary, mime string"
    )


def _guarded_feature_batches(decode_row, columns):
    """Corrupt-payload quarantine law (r11, the binary twin of the d18/
    d7/d13 guarded-extraction law): at 100 TB a truncated or bit-flipped
    RIFF/BMP/PNG/JPEG blob is routine, and an unguarded decoder raising
    inside mapInPandas aborts the WHOLE scan — one bad blob in 1e12 rows
    kills the job. The pinned law: a payload that fails to decode (or
    is NULL — missing modality) keeps its doc_id and NULLs every feature
    column; nothing raises past the row. Decode errors are ValueError/
    struct.error/zlib.error/IndexError shapes scattered through the pure-
    python codecs, so the quarantine boundary is Exception — the law is
    about the row, not the error taxonomy.

    ``decode_row(payload: bytes) -> tuple`` returns one value per entry
    in ``columns`` ([(name, pandas_nullable_dtype), ...]); any raise →
    all-NULL features for that row. Battery: tests/test_operators.py::
    test_corrupt_payload_quarantine_*.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        nulls = (None,) * len(columns)
        for pdf in it:
            rows = []
            for payload in pdf["payload"]:
                if payload is None:
                    rows.append(nulls)
                    continue
                try:
                    rows.append(decode_row(bytes(payload)))
                except Exception:
                    rows.append(nulls)
            data = {"doc_id": pdf["doc_id"]}
            for j, (name, dtype) in enumerate(columns):
                data[name] = pd.Series(
                    [r[j] for r in rows], dtype=dtype, index=pdf.index
                )
            yield pd.DataFrame(data)

    return batches


def attach_binary_payload(docs: DataFrame) -> DataFrame:
    """Simulate a multimodal table: utf-8 bytes of the text as the
    opaque payload + typed metadata. On a real corpus this column comes
    straight from the source (image/audio bytes)."""
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.octet_length(F.encode("text", "utf-8")).cast("bigint").alias("n_bytes"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload.

    The 'decode' here is the deterministic fake (byte stats + modular
    projection) so the pipeline is oracle-checkable; swap
    ``_fake_decode`` for a real decoder when the libs exist.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # NULL payload (missing modality) → a row with NULL
            # features: decode is a per-row map, and the oracle's
            # per-row expressions null-propagate the same way
            vals = [
                len(b) if b is not None else None for b in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": pdf["mime"],
                    "byte_len": pd.array(vals, dtype="Int64"),
                    "head_hex": [
                        bytes(b[:8]).hex() if b is not None else None
                        for b in pdf["payload"]
                    ],
                    "f0": [float(v % 7) if v is not None else None for v in vals],
                    "f1": [float(v % 11) if v is not None else None for v in vals],
                    "f2": [float(v % 13) if v is not None else None for v in vals],
                    "f3": [float(v % 17) if v is not None else None for v in vals],
                }
            )

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


# --- audio: REAL pure-python PCM16 WAV codec ----------------------------
#
# RIFF/WAVE needs no media library — the container format is a short
# chunk walk and PCM16 samples are a numpy frombuffer. This makes the
# audio branch of the multimodal path genuinely real end-to-end:
# synthesize → encode (bytes) → Spark binary column → mapInPandas
# decode → per-payload waveform features, oracle-checked (f17b).


def encode_wav_pcm16(samples, sample_rate: int, n_channels: int = 1) -> bytes:
    """Encode int16 samples into a standard RIFF/WAVE (PCM16) payload.

    ``samples`` is any int sequence (interleaved if multi-channel);
    values must fit int16. Pure python/struct — no audio lib."""
    import struct

    import numpy as np

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    byte_rate = sample_rate * n_channels * 2
    block_align = n_channels * 2
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, n_channels, sample_rate, byte_rate,
        block_align, 16,
    )
    data = struct.pack("<4sI", b"data", len(pcm)) + pcm
    if len(pcm) % 2:  # RIFF chunks are word-aligned
        data += b"\x00"
    body = b"WAVE" + fmt + data
    return struct.pack("<4sI", b"RIFF", len(body)) + body


def decode_wav_pcm16(payload: bytes):
    """Decode a RIFF/WAVE PCM16 payload → (sample_rate, n_channels,
    samples ndarray int16, interleaved). Walks the chunk list (any
    chunk order, word-aligned sizes), validating the PCM16 format —
    a real parser, not a fixture-shaped shortcut."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, end = 12, 8 + struct.unpack("<I", payload[4:8])[0]
    sample_rate = n_channels = None
    pcm = None
    while pos + 8 <= min(end, len(payload)):
        cid, size = struct.unpack("<4sI", payload[pos : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, n_channels, sample_rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if audio_fmt != 1 or bits != 16:
                raise ValueError(f"only PCM16 supported (fmt={audio_fmt}, bits={bits})")
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size % 2)  # skip pad byte on odd sizes
    if sample_rate is None or pcm is None:
        raise ValueError("missing fmt/data chunk")
    return sample_rate, n_channels, np.frombuffer(pcm, dtype="<i2")


WAV_FEATURE_SCHEMA = (
    "doc_id bigint, sample_rate bigint, n_samples bigint, "
    "mean_amp double, rms double, peak bigint"
)


def attach_wav_payload(docs: DataFrame) -> DataFrame:
    """Synthesize a deterministic PCM16 WAV payload per doc (binary
    column): n = 64 + doc_id % 64 samples of
    s_i = ((doc_id·31 + i·17) mod 2003) − 1001 at a rate of
    8000 + (doc_id % 4)·4000 Hz. Integer-only generation so the DuckDB
    oracle reproduces the exact waveform arithmetically — the payload
    bytes themselves only exist Spark-side and must round-trip through
    the REAL codec for f17b to hash-match."""
    import numpy as np

    def payload(doc_id):
        n = 64 + doc_id % 64
        i = np.arange(n, dtype=np.int64)
        s = (doc_id * 31 + i * 17) % 2003 - 1001
        rate = 8000 + (doc_id % 4) * 4000
        return encode_wav_pcm16(s, int(rate))

    return _synthesized(docs, "audio/wav", payload)


def extract_wav_features(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL decode of WAV payloads → waveform features
    (rate/length from the parsed header, mean/rms/peak from the PCM
    samples). Same execution shape as extract_features: one narrow
    mapInPandas stage, payload bytes never leave the executor. Corrupt
    payloads NULL their feature row (_guarded_feature_batches law)."""
    import numpy as np

    def decode_row(payload):
        rate, _ch, s = decode_wav_pcm16(payload)
        x = s.astype(np.float64)
        return (
            rate,
            len(s),
            exact_mean6(x),
            round(float(np.sqrt((x * x).mean())), 6),
            int(np.abs(s).max()),
        )

    return media.mapInPandas(
        _guarded_feature_batches(decode_row, [
            ("sample_rate", "Int64"), ("n_samples", "Int64"),
            ("mean_amp", "Float64"), ("rms", "Float64"),
            ("peak", "Int64"),
        ]),
        schema=WAV_FEATURE_SCHEMA,
    )


# --- image: REAL pure-python 24-bit BMP codec ---------------------------
#
# Uncompressed 24-bit BMP (BITMAPINFOHEADER) is a fixed header + padded
# bottom-up BGR rows — parseable with struct/numpy alone, making the
# image branch of the multimodal path real end-to-end (f17c), exactly
# like the WAV audio branch above.


def encode_bmp_24(pixels) -> bytes:
    """Encode an HxWx3 uint8 RGB array as an uncompressed 24-bit BMP
    (bottom-up rows, BGR byte order, rows padded to 4 bytes)."""
    import struct

    import numpy as np

    rgb = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = rgb.shape
    row_len = (w * 3 + 3) & ~3
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up
        row = rgb[y, :, ::-1].tobytes()  # RGB -> BGR
        rows.append(row + b"\x00" * (row_len - len(row)))
    data = b"".join(rows)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(data), 0, 0, 14 + 40)
    return header + info + data


def decode_bmp_24(payload: bytes):
    """Decode an uncompressed 24-bit BMP → HxWx3 uint8 RGB array.
    Validates magic/bpp/compression, honors the pixel-array offset,
    row padding, and both bottom-up (h>0) and top-down (h<0) layouts —
    a real parser, not a fixture-shaped shortcut."""
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack("<I", payload[10:14])[0]
    hdr_size, w, h = struct.unpack("<Iii", payload[14:26])
    planes, bpp, compression = struct.unpack("<HHI", payload[26:34])
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported (bpp={bpp})")
    bottom_up = h > 0
    h = abs(h)
    row_len = (w * 3 + 3) & ~3
    raw = np.frombuffer(payload, dtype=np.uint8, count=row_len * h, offset=data_offset)
    rows = raw.reshape(h, row_len)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


IMAGE_FEATURE_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, "
    "mean_r double, mean_g double, mean_b double"
)


def attach_bmp_payload(docs: DataFrame) -> DataFrame:
    """Synthesize a deterministic 24-bit BMP payload per doc (binary
    column): a (6 + doc_id % 7) × (8 + doc_id % 9) image with
    r=(doc_id+3x+5y)%256, g=(2·doc_id+7x+y)%256, b=(5·doc_id+x+11y)%256
    — integer-only so the DuckDB oracle reproduces the channel means
    arithmetically while the bytes must round-trip the REAL codec."""
    import numpy as np

    def payload(doc_id):
        w = 8 + doc_id % 9
        h = 6 + doc_id % 7
        x = np.arange(w, dtype=np.int64)[None, :]
        y = np.arange(h, dtype=np.int64)[:, None]
        img = np.stack(
            [
                (doc_id + 3 * x + 5 * y) % 256,
                (2 * doc_id + 7 * x + y) % 256,
                (5 * doc_id + x + 11 * y) % 256,
            ],
            axis=-1,
        ).astype(np.uint8)
        return encode_bmp_24(img)

    return _synthesized(docs, "image/bmp", payload)


_IMAGE_FEATURE_COLS = [
    ("width", "Int64"), ("height", "Int64"),
    ("mean_r", "Float64"), ("mean_g", "Float64"), ("mean_b", "Float64"),
]


def _image_feature_row(decode):
    """(w, h, per-channel exact means) from one decoded HxWx3 image —
    the shared feature row for the BMP/JPEG/PNG/resize branches."""
    import numpy as np

    def row(payload):
        img = decode(payload)
        h, w, _ = img.shape
        x = img.astype(np.float64)
        return (
            w, h,
            exact_mean6(x[:, :, 0]),
            exact_mean6(x[:, :, 1]),
            exact_mean6(x[:, :, 2]),
        )

    return row


def extract_bmp_features(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL decode of BMP payloads → image features
    (dimensions from the parsed header, per-channel means from the
    pixel array). Same narrow mapInPandas shape as the other branches.
    Corrupt payloads NULL their feature row (quarantine law)."""
    return media.mapInPandas(
        _guarded_feature_batches(
            _image_feature_row(decode_bmp_24), _IMAGE_FEATURE_COLS
        ),
        schema=IMAGE_FEATURE_SCHEMA,
    )


def resize_bmp_features(media: DataFrame, factor: int = 2) -> DataFrame:
    """Decode → RESIZE → feature-extract fused in ONE mapInPandas pass
    (the multimodal op the brief's decode/resize/feature chain needs;
    real pipelines fuse these so the full-resolution pixels never leave
    the task). Nearest-neighbor downscale by ``factor`` (output dims
    ceil(w/f) x ceil(h/f), sampling the top-left pixel of each block) —
    chosen over box-average because its arithmetic replays exactly in
    the SQL oracle; a production variant swaps one numpy line for the
    box filter without touching the dataflow. Corrupt payloads NULL
    their feature row (quarantine law)."""
    return media.mapInPandas(
        _guarded_feature_batches(
            _image_feature_row(
                lambda payload: decode_bmp_24(payload)[::factor, ::factor]
            ),
            _IMAGE_FEATURE_COLS,
        ),
        schema=IMAGE_FEATURE_SCHEMA,
    )


# --- image: REAL pure-numpy baseline JPEG codec -------------------------
#
# Baseline sequential DCT JPEG (ITU-T T.81) with the Annex K quant +
# Huffman tables, 4:4:4 sampling, JFIF markers — encoder and decoder in
# plain numpy (bit I/O in python), so COMPRESSED image decode is real
# end-to-end with no media library: synthesize → encode (entropy-coded
# bytes) → Spark binary column → mapInPandas decode → features (f17d).
# Determinism contract: quantization and final pixel rounding use
# half-up floor(x+0.5) (an encoder/decoder-internal choice T.81 leaves
# free) so the arithmetic is exactly replicable in an SQL oracle.

_JPEG_QUANT_LUM = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_QUANT_CHR = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]
# Annex K Huffman specs: (bits[1..16], values)
_JPEG_HUFF_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_HUFF_DC_CHR = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_HUFF_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_JPEG_HUFF_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _jpeg_scaled_quant(base, quality: int):
    """IJG quality scaling: q' = clamp(floor((q*scale + 50)/100), 1, 255)
    with scale = 5000/quality below 50 else 200 - 2*quality."""
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return [min(255, max(1, (q * scale + 50) // 100)) for q in base]


def _jpeg_dct_matrix():
    import numpy as np

    x = np.arange(8)
    d = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2.0
    d[0, :] = 1.0 / (2.0 * np.sqrt(2.0))
    return d


def _huff_canonical_codes(bits, values):
    """Canonical Huffman codes per T.81 C.2: {symbol: (code, length)}."""
    out, code = {}, 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        return bytes(self.buf)


def _jpeg_magnitude(v: int):
    """(size, bits) encoding of a coefficient amplitude per T.81 F.1.2."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def encode_jpeg_baseline(pixels, quality: int = 90) -> bytes:
    """Encode an HxWx3 uint8 RGB array as a baseline sequential JPEG
    (JFIF, 4:4:4, Annex K Huffman tables, IJG-scaled Annex K quant
    tables). Pure numpy + python bit I/O. Quantization rounds half-up
    (floor(x/q + 0.5)) — a free encoder choice that makes the stored
    coefficients exactly predictable arithmetically (the f17d oracle
    relies on it)."""
    import struct

    import numpy as np

    rgb = np.asarray(pixels, dtype=np.float64)
    h, w, _ = rgb.shape
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    planes = [
        0.299 * r + 0.587 * g + 0.114 * b,
        128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
        128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
    ]
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    qlum = _jpeg_scaled_quant(_JPEG_QUANT_LUM, quality)
    qchr = _jpeg_scaled_quant(_JPEG_QUANT_CHR, quality)
    qtabs = [np.asarray(q, dtype=np.float64).reshape(8, 8) for q in (qlum, qchr)]
    dct = _jpeg_dct_matrix()
    zz = np.asarray(_JPEG_ZIGZAG)

    dc_codes = [
        _huff_canonical_codes(*_JPEG_HUFF_DC_LUM),
        _huff_canonical_codes(*_JPEG_HUFF_DC_CHR),
    ]
    ac_codes = [
        _huff_canonical_codes(*_JPEG_HUFF_AC_LUM),
        _huff_canonical_codes(*_JPEG_HUFF_AC_CHR),
    ]

    bw = _BitWriter()
    prev_dc = [0, 0, 0]
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            for ci, plane in enumerate(planes):
                block = np.empty((8, 8))
                ys, xs = min(8, h - by), min(8, w - bx)
                block[:ys, :xs] = plane[by : by + ys, bx : bx + xs]
                block[ys:, :xs] = block[ys - 1 : ys, :xs]  # edge-replicate pad
                block[:, xs:] = block[:, xs - 1 : xs]
                coef = dct @ (block - 128.0) @ dct.T
                q = qtabs[0 if ci == 0 else 1]
                quant = np.floor(coef / q + 0.5).astype(np.int64)
                zig = quant.reshape(-1)[zz]
                tsel = 0 if ci == 0 else 1
                diff = int(zig[0]) - prev_dc[ci]
                prev_dc[ci] = int(zig[0])
                size, bits = _jpeg_magnitude(diff)
                code, length = dc_codes[tsel][size]
                bw.write(code, length)
                if size:
                    bw.write(bits, size)
                run = 0
                for k in range(1, 64):
                    v = int(zig[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, length = ac_codes[tsel][0xF0]  # ZRL
                        bw.write(code, length)
                        run -= 16
                    size, bits = _jpeg_magnitude(v)
                    code, length = ac_codes[tsel][(run << 4) | size]
                    bw.write(code, length)
                    bw.write(bits, size)
                    run = 0
                if run:
                    code, length = ac_codes[tsel][0x00]  # EOB
                    bw.write(code, length)
    scan = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    out = [struct.pack(">H", 0xFFD8)]
    out.append(
        seg(0xFFE0, b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0))
    )
    for tq, q in enumerate((qlum, qchr)):
        out.append(seg(0xFFDB, bytes([tq]) + bytes(q[i] for i in _JPEG_ZIGZAG)))
    out.append(
        seg(
            0xFFC0,
            struct.pack(">BHHB", 8, h, w, 3)
            + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
        )
    )
    for tc_th, (bits, vals) in (
        (0x00, _JPEG_HUFF_DC_LUM),
        (0x10, _JPEG_HUFF_AC_LUM),
        (0x01, _JPEG_HUFF_DC_CHR),
        (0x11, _JPEG_HUFF_AC_CHR),
    ):
        out.append(seg(0xFFC4, bytes([tc_th]) + bytes(bits) + bytes(vals)))
    out.append(
        seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    )
    out.append(scan)
    out.append(struct.pack(">H", 0xFFD9))
    return b"".join(out)


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        while self.nbits <= 24 and self.pos < len(self.data):
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:  # a real marker terminates entropy data
                    self.pos -= 1
                    byte = None
            if byte is None:
                self.acc = (self.acc << 8) | 0xFF  # pad: decoder won't use it
                self.nbits += 8
                break
            self.acc = (self.acc << 8) | byte
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
            if self.nbits == 0:
                raise ValueError("truncated JPEG entropy stream")
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _huff_decode_table(bits, values):
    """{(length, code): symbol} for canonical T.81 codes."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_read_symbol(br: _BitReader, table) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | br.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in JPEG stream")


def decode_jpeg_baseline(payload: bytes):
    """Decode a baseline sequential JPEG (8-bit, 1 or 3 components,
    no subsampling, no restart markers) → HxWx3 (or HxWx1) uint8 RGB.
    Real marker walk + canonical Huffman + dequant + IDCT — no media
    library. Final pixel rounding is half-up to match the encoder's
    determinism contract."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[int, dict] = {}
    comps = None
    h = w = 0
    scan_comps = None
    scan_start = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        marker = struct.unpack(">H", payload[pos : pos + 2])[0]
        if marker == 0xFFD9:
            break
        length = struct.unpack(">H", payload[pos + 2 : pos + 4])[0]
        body = payload[pos + 4 : pos + 2 + length]
        if marker == 0xFFDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise ValueError("only 8-bit quant tables supported")
                tab = np.empty(64)
                tab[np.asarray(_JPEG_ZIGZAG)] = np.frombuffer(
                    body[i + 1 : i + 65], dtype=np.uint8
                ).astype(np.float64)
                qtabs[tq] = tab.reshape(8, 8)
                i += 65
        elif marker == 0xFFC0:
            _prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                if hv != 0x11:
                    raise ValueError("only 1x1 sampling (4:4:4) supported")
                comps.append((cid, tq))
        elif marker in (0xFFC1, 0xFFC2, 0xFFC3):
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xFFC4:
            i = 0
            while i < len(body):
                tc_th = body[i]
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                htabs[tc_th] = _huff_decode_table(bits, vals)
                i += 17 + nv
        elif marker == 0xFFDD:
            if struct.unpack(">H", body[:2])[0] != 0:
                raise ValueError("restart intervals not supported")
        elif marker == 0xFFDA:
            ns = body[0]
            scan_comps = []
            for c in range(ns):
                cs, tdta = body[1 + 2 * c : 3 + 2 * c]
                scan_comps.append((cs, tdta >> 4, tdta & 0xF))
            scan_start = pos + 2 + length
            break
        pos += 2 + length
    if comps is None or scan_comps is None:
        raise ValueError("missing SOF0/SOS")

    dct = _jpeg_dct_matrix()
    zz = np.asarray(_JPEG_ZIGZAG)
    br = _BitReader(payload[scan_start:])
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    planes = [np.empty((ph, pw)) for _ in comps]
    prev_dc = [0] * len(comps)
    comp_tq = {cid: tq for cid, tq in comps}
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            for ci, (cs, td, ta) in enumerate(scan_comps):
                dc_tab = htabs[0x00 | td]
                ac_tab = htabs[0x10 | ta]
                zig = np.zeros(64, dtype=np.float64)
                size = _huff_read_symbol(br, dc_tab)
                diff = 0
                if size:
                    bits = br.read_bits(size)
                    diff = bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1
                prev_dc[ci] += diff
                zig[0] = prev_dc[ci]
                k = 1
                while k < 64:
                    sym = _huff_read_symbol(br, ac_tab)
                    if sym == 0x00:  # EOB
                        break
                    run, size = sym >> 4, sym & 0xF
                    if sym == 0xF0:  # ZRL
                        k += 16
                        continue
                    k += run
                    bits = br.read_bits(size)
                    v = bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1
                    zig[k] = v
                    k += 1
                block = np.zeros(64)
                block[zz] = zig
                coef = block.reshape(8, 8) * qtabs[comp_tq[cs]]
                planes[ci][by : by + 8, bx : bx + 8] = dct.T @ coef @ dct + 128.0
    planes = [p[:h, :w] for p in planes]
    if len(planes) == 1:
        y = np.clip(np.floor(planes[0] + 0.5), 0, 255).astype(np.uint8)
        return y[:, :, None]
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)


# --- image: REAL pure-python PNG codec (stdlib zlib) --------------------
#
# PNG is chunk framing + zlib DEFLATE + per-row byte filters — all
# implementable with the python stdlib (zlib ships with CPython), so
# LOSSLESS compressed-image decode is real end-to-end too. The encoder
# uses the standard adaptive filter heuristic (min sum of absolute
# residuals per row) so real streams exercise every unfilter path.


def encode_png_rgb8(pixels) -> bytes:
    """Encode an HxWx3 uint8 RGB array as a PNG (color type 2, bit
    depth 8), choosing each row's filter (None/Sub/Up/Average/Paeth)
    by the standard minimum-absolute-residual heuristic."""
    import struct
    import zlib

    import numpy as np

    rgb = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = rgb.shape
    bpp = 3
    raw = rgb.reshape(h, w * bpp).astype(np.int16)
    prev = np.zeros(w * bpp, dtype=np.int16)
    out = bytearray()
    for y in range(h):
        row = raw[y]
        left = np.concatenate([np.zeros(bpp, np.int16), row[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, np.int16), prev[:-bpp]])
        cands = {
            0: row,
            1: row - left,
            2: row - prev,
            3: row - ((left + prev) >> 1),
        }
        p = left + prev - upleft
        pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
        paeth = np.where(
            (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
        )
        cands[4] = row - paeth
        best = min(cands, key=lambda f: int(np.abs(cands[f].astype(np.int16)).sum()))
        out.append(best)
        out.extend((cands[best] & 0xFF).astype(np.uint8).tobytes())
        prev = row

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out), 9))
        + chunk(b"IEND", b"")
    )


def decode_png_rgb8(payload: bytes):
    """Decode an RGB8 PNG → HxWx3 uint8 array: chunk walk with CRC
    validation, zlib inflate, and all five scanline unfilters
    (None/Sub/Up/Average/Paeth). Interlace, palettes, and non-RGB8
    color types are rejected explicitly."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos = 8
    w = h = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        length, ctype = struct.unpack(">I4s", payload[pos : pos + 8])
        body = payload[pos + 8 : pos + 8 + length]
        crc = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])[0]
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            w, h, depth, ctype_col, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if (depth, ctype_col, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError(
                    "only 8-bit truecolor non-interlaced PNG supported"
                )
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if w is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    raw = zlib.decompress(bytes(idat))
    bpp = 3
    stride = w * bpp
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG pixel data size mismatch")
    img = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = raw[y * (stride + 1)]
        row = np.frombuffer(
            raw, np.uint8, stride, y * (stride + 1) + 1
        ).astype(np.int32)
        if f == 0:
            cur = row
        elif f == 2:
            cur = (row + prev) & 0xFF
        elif f in (1, 3, 4):
            cur = np.zeros(stride, dtype=np.int32)
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[i] = (row[i] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {f}")
        img[y] = cur.astype(np.uint8)
        prev = cur
    return img.reshape(h, w, bpp)


def attach_jpeg_payload(docs: DataFrame) -> DataFrame:
    """Synthesize a deterministic quality-90 baseline-JPEG payload per
    doc (binary column): a (1 + doc_id % 2) × (2 + doc_id % 3) grid of CONSTANT
    8×8 tiles with r=(doc_id+37tx+53ty)%256, g=(2·doc_id+11tx+29ty)%256,
    b=(3·doc_id+17tx+7ty)%256. Constant tiles quantize to a lone DC
    coefficient, so the whole lossy chain (YCbCr → DC → half-up
    quantize → reconstruct → clip) is exact arithmetic the DuckDB
    oracle replicates — while the payload bytes must still round-trip
    the REAL entropy coder (Huffman, zigzag, byte stuffing) for f17d
    to hash-match."""
    import numpy as np

    def payload(doc_id):
        wt = 2 + doc_id % 3
        ht = 1 + doc_id % 2
        img = np.zeros((ht * 8, wt * 8, 3), dtype=np.uint8)
        for ty in range(ht):
            for tx in range(wt):
                img[ty * 8 : (ty + 1) * 8, tx * 8 : (tx + 1) * 8] = (
                    (doc_id + 37 * tx + 53 * ty) % 256,
                    (2 * doc_id + 11 * tx + 29 * ty) % 256,
                    (3 * doc_id + 17 * tx + 7 * ty) % 256,
                )
        return encode_jpeg_baseline(img, 90)

    return _synthesized(docs, "image/jpeg", payload)


def extract_jpeg_features(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL JPEG decode → image features (dimensions from
    the parsed SOF0 header, per-channel means from the reconstructed
    pixels). Same narrow mapInPandas shape as the WAV/BMP branches.
    Corrupt payloads NULL their feature row (quarantine law)."""
    return media.mapInPandas(
        _guarded_feature_batches(
            _image_feature_row(decode_jpeg_baseline), _IMAGE_FEATURE_COLS
        ),
        schema=IMAGE_FEATURE_SCHEMA,
    )


def attach_png_payload(docs: DataFrame) -> DataFrame:
    """Synthesize a deterministic RGB8 PNG payload per doc (binary
    column): a (4 + doc_id % 6) × (5 + doc_id % 11) image with
    r=(7·doc_id+2x+13y)%256, g=(doc_id+9x+4y)%256, b=(4·doc_id+5x+3y)%256
    — smooth integer gradients so the adaptive encoder actually picks
    Sub/Up/Paeth filters (decoder unfilter paths exercised), while the
    lossless round trip keeps the oracle purely arithmetic."""
    import numpy as np

    def payload(doc_id):
        w = 5 + doc_id % 11
        h = 4 + doc_id % 6
        x = np.arange(w, dtype=np.int64)[None, :]
        y = np.arange(h, dtype=np.int64)[:, None]
        img = np.stack(
            [
                (7 * doc_id + 2 * x + 13 * y) % 256,
                (doc_id + 9 * x + 4 * y) % 256,
                (4 * doc_id + 5 * x + 3 * y) % 256,
            ],
            axis=-1,
        ).astype(np.uint8)
        return encode_png_rgb8(img)

    return _synthesized(docs, "image/png", payload)


def extract_png_features(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL PNG decode (CRC walk, inflate, unfilter) →
    dimensions + per-channel means; same mapInPandas shape as the
    other media branches. Corrupt payloads NULL their feature row
    (quarantine law)."""
    return media.mapInPandas(
        _guarded_feature_batches(
            _image_feature_row(decode_png_rgb8), _IMAGE_FEATURE_COLS
        ),
        schema=IMAGE_FEATURE_SCHEMA,
    )


# --- video: REAL pure-python MJPEG-AVI container ------------------------
#
# Motion-JPEG in an AVI (RIFF) container needs no media library either:
# the container is the same chunk walk as WAV (RIFF again), and each
# '00dc' frame chunk is a baseline JPEG this module already decodes.
# That makes VIDEO frame-sampling — the canonical training-data video
# op — real end-to-end: synthesize frames → mux → binary column →
# demux + sample every Nth frame → JPEG-decode → per-frame features.


def encode_avi_mjpeg(frames) -> bytes:
    """Mux a list of HxWx3 uint8 RGB frames into a 10 fps MJPEG AVI:
    RIFF header, 'hdrl' (avih + one 'vids'/'MJPG' stream), 'movi' with
    one '00dc' JPEG chunk per frame (word-aligned), and an idx1 index."""
    import struct

    import numpy as np

    fps = 10
    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    h, w, _ = frames[0].shape
    payloads = [encode_jpeg_baseline(f) for f in frames]

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    max_bytes = max(len(p) for p in payloads)
    avih = struct.pack(
        "<14I",
        1_000_000 // fps, max_bytes * fps, 0, 0x10, len(frames), 0, 1,
        max_bytes, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4H",
        b"vids", b"MJPG", 0, 0, 0, 0, 1, fps, 0, len(frames), max_bytes,
        0xFFFFFFFF, 0, 0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_items, idx, offset = [], [], 4  # offset from the 'movi' fourcc
    for p in payloads:
        movi_items.append(chunk(b"00dc", p))
        idx.append(struct.pack("<4sIII", b"00dc", 0x10, offset, len(p)))
        offset += 8 + len(p) + (len(p) % 2)
    movi = lst(b"movi", b"".join(movi_items))
    idx1 = chunk(b"idx1", b"".join(idx))
    return chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def demux_avi_mjpeg(payload: bytes):
    """Demux an MJPEG AVI → (n_frames, width, height, [jpeg bytes]) by
    walking the RIFF tree: avih for the declared frame count and
    dimensions, LIST 'movi' for the '00dc'/'00db' frame chunks. A real
    recursive parser (any chunk order, word alignment, frame count
    cross-checked against the header) — not a fixture shortcut."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    n_frames = width = height = None
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        nonlocal n_frames, width, height
        while pos + 8 <= end:
            cid, size = struct.unpack("<4sI", payload[pos : pos + 8])
            body_start = pos + 8
            if cid == b"LIST":
                walk(body_start + 4, body_start + size)
            elif cid == b"avih":
                vals = struct.unpack("<10I", payload[body_start : body_start + 40])
                n_frames, width, height = vals[4], vals[8], vals[9]
            elif cid in (b"00dc", b"00db"):
                frames.append(payload[body_start : body_start + size])
            pos = body_start + size + (size % 2)

    walk(12, 8 + struct.unpack("<I", payload[4:8])[0])
    if n_frames is None:
        raise ValueError("missing avih header")
    if len(frames) != n_frames:
        raise ValueError(
            f"frame count mismatch: avih={n_frames}, movi={len(frames)}"
        )
    return n_frames, width, height, frames


def sample_video_frames(payload: bytes, every_n: int = 30):
    """REAL video frame sampling: demux the MJPEG AVI container and
    decode every ``every_n``-th frame with the pure-numpy JPEG decoder
    → list of (frame_index, HxWx3 uint8 array). The training-data
    video op (sample frames → feature-extract) with zero media
    libraries; inter-frame codecs (H.264 etc.) genuinely need ffmpeg
    and stay out of scope."""
    _n, _w, _h, frames = demux_avi_mjpeg(payload)
    return [
        (i, decode_jpeg_baseline(frames[i]))
        for i in range(0, len(frames), every_n)
    ]


VIDEO_FEATURE_SCHEMA = (
    "doc_id bigint, n_frames bigint, n_sampled bigint, "
    "width bigint, height bigint, mean_r double, mean_g double, mean_b double"
)


def attach_video_payload(docs: DataFrame) -> DataFrame:
    """Synthesize a deterministic MJPEG-AVI payload per doc: 2 +
    doc_id % 3 frames of a 16×8 image made of two constant 8×8 tiles,
    tile tx in frame fi colored r=(doc_id+37·tx+19·fi)%256,
    g=(2·doc_id+11·tx+23·fi)%256, b=(3·doc_id+17·tx+29·fi)%256 —
    constant tiles keep the JPEG chain exact (f17d's law) so the video
    features are oracle-checkable end-to-end."""
    import numpy as np

    def payload(doc_id):
        frames = []
        for fi in range(2 + doc_id % 3):
            img = np.zeros((8, 16, 3), np.uint8)
            for tx in range(2):
                img[:, tx * 8 : (tx + 1) * 8] = (
                    (doc_id + 37 * tx + 19 * fi) % 256,
                    (2 * doc_id + 11 * tx + 23 * fi) % 256,
                    (3 * doc_id + 17 * tx + 29 * fi) % 256,
                )
            frames.append(img)
        return encode_avi_mjpeg(frames)

    return _synthesized(docs, "video/x-msvideo", payload)


def extract_video_features(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Arrow-batched REAL video decode: demux the AVI, sample every
    ``every_n``-th frame, JPEG-decode the samples, and emit container
    metadata (frame count + dimensions from avih) with per-channel
    means over the SAMPLED frames only. Corrupt payloads (bad
    container, bad avih, or any sampled frame's JPEG failing) NULL
    their feature row (quarantine law)."""
    import numpy as np

    def decode_row(payload):
        n, w, h, _frames = demux_avi_mjpeg(payload)
        sampled = sample_video_frames(payload, every_n)
        stack = np.stack([f for _i, f in sampled]).astype(np.float64)
        return (
            n, len(sampled), w, h,
            exact_mean6(stack[:, :, :, 0]),
            exact_mean6(stack[:, :, :, 1]),
            exact_mean6(stack[:, :, :, 2]),
        )

    return media.mapInPandas(
        _guarded_feature_batches(decode_row, [
            ("n_frames", "Int64"), ("n_sampled", "Int64"),
            ("width", "Int64"), ("height", "Int64"),
            ("mean_r", "Float64"), ("mean_g", "Float64"),
            ("mean_b", "Float64"),
        ]),
        schema=VIDEO_FEATURE_SCHEMA,
    )
