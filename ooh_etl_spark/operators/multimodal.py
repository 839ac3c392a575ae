"""Multimodal column plumbing: opaque binary payloads + typed metadata.

BASELINE.json:6 mandates multimodal columns. The Spark-side design is
real and tested end-to-end — ``BinaryType`` payload column, typed
metadata struct, Arrow-batched ``mapInPandas`` feature extraction with
an explicit output schema and bounded batch sizes. Decoding:
UNCOMPRESSED formats have REAL pure-numpy codecs here — binary PPM
(P6) images and RIFF/WAVE mono PCM16 audio — verified end-to-end by
analytic oracles (q156/q157) and unit tests
(tests/test_multimodal_codecs.py). COMPRESSED formats (jpeg/mp3) are
where codec libraries would plug in; they are not in this environment,
so that path is a clearly-marked deterministic stand-in (STUB) behind
the same interface.

At 100 TB: payloads stay columnar in parquet (binary), feature
extraction is a narrow mapInPandas stage (no shuffle), and batch size
is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` so
executor memory is independent of payload count.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 8

FEATURES_SCHEMA = (
    "doc_id long, mime string, n_bytes long, features array<float>,"
    " chunk_sums array<long>"
)


def attach_payload(df: DataFrame) -> DataFrame:
    """Wrap the ``text`` column as an opaque binary payload keyed by
    ``doc_id``, with typed metadata — the schema shape a real
    image/audio table would have."""
    return df.select(
        F.col("doc_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length(F.encode(F.col("text"), "utf-8")).alias("n_bytes"),
        ).alias("meta"),
    )


def _decode_stub(payload: bytes) -> np.ndarray:
    """STUB decoder: deterministic byte-level features standing in for a
    COMPRESSED-format decode (jpeg/mp3 libraries unavailable here). A
    real implementation would replace ONLY this function; the Spark
    plumbing (schema, batching, partitioning) is unchanged. Uncompressed
    formats have REAL decoders below (decode_ppm / decode_wav)."""
    if payload is None or len(payload) == 0:
        return np.zeros(FEATURE_DIM, dtype=np.float32)
    a = np.frombuffer(payload, dtype=np.uint8)
    chunks = np.array_split(a, FEATURE_DIM)
    return np.array([c.mean() if len(c) else 0.0 for c in chunks], dtype=np.float32)


def _chunk_sums(payload: bytes) -> list[int]:
    """Exact int64 per-chunk byte sums under the SAME np.array_split
    chunking as :func:`_decode_stub` — the integer digest that makes
    the stub path oracle-checkable (q32b): DuckDB recomputes the sums
    closed-form from the payload bytes."""
    if payload is None or len(payload) == 0:
        return [0] * FEATURE_DIM
    a = np.frombuffer(payload, dtype=np.uint8)
    return [int(c.sum()) for c in np.array_split(a, FEATURE_DIM)]


# ---------------------------------------------------------------------------
# REAL decoders for uncompressed formats — pure numpy, no image/audio libs.
# Verified end-to-end by analytic oracles (queries/multimodal.py q156/q157):
# the synthesized payloads' pixel/sample math is recomputed closed-form in
# DuckDB, so a header mis-parse or stride bug breaks the value hash.
# ---------------------------------------------------------------------------


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Binary PPM (P6) encoder: ``pixels`` is (h, w, 3) uint8."""
    h, w, _ = pixels.shape
    return f"P6\n{w} {h}\n255\n".encode() + pixels.tobytes()


def _parse_ppm_header(payload: bytes, pos: int = 0) -> tuple[int, int, int]:
    """Parse one P6 header starting at ``pos``: returns (w, h,
    raster_start). Handles '#' comments and arbitrary whitespace."""
    if payload[pos : pos + 2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos, fields = pos + 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end-of-line
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    return w, h, pos + 1  # single whitespace after maxval, then raster


def decode_ppm(payload: bytes) -> np.ndarray:
    """REAL binary-PPM (P6) decoder: parses the header (magic, width,
    height, maxval, '#' comments, arbitrary whitespace) and returns the
    (h, w, 3) uint8 pixel array."""
    w, h, pos = _parse_ppm_header(payload)
    raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    return raster.reshape(h, w, 3)


def split_ppm_frames(payload: bytes) -> list[bytes]:
    """Walk a container of back-to-back P6 frames (the minimal
    uncompressed 'video': each frame self-describes its length via its
    header) and return the per-frame byte slices. Each slice decodes
    with :func:`decode_ppm`; a header mis-parse desynchronizes every
    subsequent frame boundary, which is exactly what the analytic
    oracle (q181) would catch."""
    frames, pos = [], 0
    while pos < len(payload):
        w, h, raster = _parse_ppm_header(payload, pos)
        end = raster + w * h * 3
        frames.append(payload[pos:end])
        pos = end
    return frames


def resize_nearest(pixels: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize of an (h, w, 3) array via the standard
    floor index map src = (dst * in) // out — pure integer arithmetic,
    so the analytic oracle (q180) can name the exact source pixel of
    every output cell. The 100 TB point: resize runs inside the same
    narrow mapInPandas pass as decode — payload in, thumbnail out, no
    shuffle, no intermediate materialization."""
    h, w, _ = pixels.shape
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return pixels[np.ix_(ys, xs)]


def encode_wav_pcm16(samples: np.ndarray, sample_rate: int) -> bytes:
    """Minimal RIFF/WAVE encoder: mono 16-bit PCM."""
    import struct

    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decode_wav_pcm16(payload: bytes) -> tuple[np.ndarray, int]:
    """REAL RIFF/WAVE decoder: walks the chunk list (tolerating extra
    chunks before 'data'), validates mono 16-bit PCM, and returns
    (samples as int16 array, sample_rate)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, sample_rate, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        # Declared sizes are untrusted: an over-large size would let
        # Python slicing silently clamp the body and frombuffer return
        # a SHORTENED sample array — wrong features with no signal.
        # Fail loudly instead, matching decode_ppm's truncation posture.
        if size > len(payload) - pos - 8:
            raise ValueError(
                f"chunk {cid!r} declares {size} bytes, "
                f"{len(payload) - pos - 8} remain"
            )
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError(f"fmt chunk too short ({len(body)} bytes)")
            audio_fmt, channels, sample_rate = struct.unpack("<HHI", body[:8])
            if audio_fmt != 1 or channels != 1:
                raise ValueError("only mono PCM supported")
            if struct.unpack("<H", body[14:16])[0] != 16:
                raise ValueError("only 16-bit supported")
        elif cid == b"data":
            data = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if sample_rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return data, sample_rate


def extract_features(payloads: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads
    (mapInPandas: per-partition batch iterator, zero shuffle)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": [m["mime"] for m in pdf["meta"]],
                    "n_bytes": [m["n_bytes"] for m in pdf["meta"]],
                    "features": [list(_decode_stub(p)) for p in pdf["payload"]],
                    # Exact int64 per-chunk byte sums (the integers the
                    # stub means derive from) — the oracle-checkable
                    # digest of the same np.array_split chunking.
                    "chunk_sums": [_chunk_sums(p) for p in pdf["payload"]],
                }
            )

    return payloads.mapInPandas(op, schema=FEATURES_SCHEMA)
