"""Unit tests for the REAL uncompressed-format decoders
(operators/multimodal.py): PPM header tolerance and WAV chunk-walking
— the parsing paths the analytic oracles (q156/q157) can't vary.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
# Oracle-replica / deep-functional suite: excluded from the default
# fast-core gate run (see pytest.ini); run with `-m slow`.
pytestmark = pytest.mark.slow


from ooh_etl_spark.operators.multimodal import (
    decode_ppm,
    decode_wav_pcm16,
    encode_ppm,
    encode_wav_pcm16,
)
from ooh_etl_spark.queries import QUERIES
from tests.conftest import run


def test_ppm_roundtrip():
    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    assert np.array_equal(decode_ppm(encode_ppm(px)), px)


def test_ppm_header_comments_and_whitespace():
    px = np.full((2, 2, 3), 7, dtype=np.uint8)
    payload = b"P6\n# a comment\n  2\t2 # trailing\n255\n" + px.tobytes()
    assert np.array_equal(decode_ppm(payload), px)


def test_ppm_rejects_wrong_magic_and_maxval():
    with pytest.raises(ValueError):
        decode_ppm(b"P5\n1 1\n255\n\x00")
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n1 1\n65535\n\x00\x00\x00")


def test_wav_roundtrip():
    s = np.array([0, 1, -1, 32767, -32768, 123], dtype=np.int16)
    decoded, sr = decode_wav_pcm16(encode_wav_pcm16(s, 44100))
    assert sr == 44100
    assert np.array_equal(decoded, s)


def test_wav_tolerates_extra_chunk_before_data():
    s = np.array([5, -5, 9], dtype=np.int16)
    base = encode_wav_pcm16(s, 8000)
    # splice a LIST chunk (odd-sized body → word-aligned pad) between
    # fmt and data
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    payload = base[:fmt_end] + extra + base[fmt_end:]
    decoded, sr = decode_wav_pcm16(payload)
    assert sr == 8000
    assert np.array_equal(decoded, s)


def test_wav_rejects_stereo():
    s = np.array([1, 2], dtype=np.int16)
    base = bytearray(encode_wav_pcm16(s, 8000))
    base[12 + 8 + 2 : 12 + 8 + 4] = struct.pack("<H", 2)  # channels = 2
    with pytest.raises(ValueError):
        decode_wav_pcm16(bytes(base))


def test_resize_nearest_floor_map():
    import numpy as np

    from ooh_etl_spark.operators.multimodal import resize_nearest

    # 4x4 gradient, resize to 2x2: floor map picks rows/cols {0, 2}
    px = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    small = resize_nearest(px, 2, 2)
    assert small.shape == (2, 2, 3)
    assert np.array_equal(small[0, 0], px[0, 0])
    assert np.array_equal(small[0, 1], px[0, 2])
    assert np.array_equal(small[1, 0], px[2, 0])
    assert np.array_equal(small[1, 1], px[2, 2])
    # non-divisor ratio: 8 -> 3 keeps indices {0, 2, 5}
    px8 = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
    small3 = resize_nearest(px8, 3, 3)
    assert np.array_equal(small3[2, 1], px8[5, 2])


def test_split_ppm_frames_walks_boundaries():
    import numpy as np

    from ooh_etl_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
        split_ppm_frames,
    )

    frames_in = [
        np.full((2, 3, 3), fill, dtype=np.uint8) for fill in (7, 99, 200)
    ]
    video = b"".join(encode_ppm(f) for f in frames_in)
    frames_out = split_ppm_frames(video)
    assert len(frames_out) == 3
    for fin, fout in zip(frames_in, frames_out):
        assert np.array_equal(decode_ppm(fout), fin)


def test_split_ppm_frames_with_comment_headers():
    import numpy as np

    from ooh_etl_spark.operators.multimodal import (
        decode_ppm,
        split_ppm_frames,
    )

    # frames whose headers carry comments must not desynchronize the walk
    def frame(fill):
        raster = np.full((1, 2, 3), fill, dtype=np.uint8)
        return b"P6\n# frame comment\n2 1\n255\n" + raster.tobytes()

    video = frame(3) + frame(250)
    out = split_ppm_frames(video)
    assert len(out) == 2
    assert decode_ppm(out[1])[0, 0, 0] == 250


def test_wav_rejects_oversized_chunk_declaration():
    import numpy as np

    from ooh_etl_spark.operators.multimodal import (
        decode_wav_pcm16,
        encode_wav_pcm16,
    )

    s = np.array([1, 2, 3], dtype=np.int16)
    base = bytearray(encode_wav_pcm16(s, 8000))
    # corrupt the data chunk's declared size to exceed remaining bytes
    data_size_off = len(base) - 6 - 4
    base[data_size_off : data_size_off + 4] = struct.pack("<I", 9999)
    with pytest.raises(ValueError):
        decode_wav_pcm16(bytes(base))


def test_wav_rejects_short_fmt_chunk():
    from ooh_etl_spark.operators.multimodal import decode_wav_pcm16

    payload = (
        b"RIFF" + struct.pack("<I", 20) + b"WAVE"
        + b"fmt " + struct.pack("<I", 4) + b"\x01\x00\x01\x00"
    )
    with pytest.raises(ValueError):
        decode_wav_pcm16(payload)


def test_q247_tone_detector_recovers_embedded_frequency(spark):
    """Every document's embedded tone must be recovered through the
    full encode -> decode -> project pipeline, with a clear margin
    over the runner-up bin (23 dB+ on this SNR); a codec or
    projection bug collapses the margin or flips bins."""
    from ooh_etl_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    out = QUERIES["q247_audio_tone_detect"].fn(spark, SF_DIR).toPandas()
    assert len(out) > 0
    assert (out.detected_bin == out.true_bin).all()
    assert out.margin_dmdb.min() > 100000  # > 10 dB margin everywhere
    assert set(out.true_bin) == set(range(8))  # every bin exercised


def test_q332_ahash_finds_planted_clusters(spark):
    rows = run(spark, "q332_image_ahash_neardup").collect()
    assert all(r.hamming <= 3 for r in rows)
    pairs = {(r.id_a, r.id_b) for r in rows}
    # every within-cluster pair (shared seed, <=3 perturbed pixels in
    # one block -> Hamming <= 1) must be found by the banded join
    for seed in range(30):
        ids = [4 * seed + i for i in range(4)]
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                assert (a, b) in pairs, (a, b)


def test_q247_is_oracle_backed():
    assert QUERIES["q247_audio_tone_detect"].oracle is not None
