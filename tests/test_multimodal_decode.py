"""Real decode paths for multimodal columns: pure-numpy BMP and PCM WAV
decoding with golden-value feature checks — upgrades the round-1 stub to a
tested decode for the uncompressed formats this container can handle
without codec libraries.
"""

from __future__ import annotations

import numpy as np
import pytest

from co_deduplicate_spark.operators.multimodal import (
    _bmp_decode,
    _wav_decode,
    audio_features,
    extract_features,
    image_features,
)
from co_deduplicate_spark.operators.multimodal import encode_bmp as make_bmp
from co_deduplicate_spark.operators.multimodal import encode_wav as make_wav


def test_bmp_roundtrip():
    px = np.arange(3 * 2 * 3, dtype=np.uint8).reshape(3, 2, 3)  # odd width → padding
    got = _bmp_decode(make_bmp(px))
    assert got is not None and np.array_equal(got, px)
    assert _bmp_decode(b"BMgarbage") is None
    assert _bmp_decode(b"") is None


def test_wav_roundtrip():
    s = np.array([0, 16384, -16384, 32767, -32768], dtype=np.int16)
    got = _wav_decode(make_wav(s, rate=8000))
    assert got is not None
    samples, rate = got
    assert rate == 8000
    assert np.allclose(samples, s / 32768.0)
    # stereo downmixes to mono mean
    st = np.array([100, 300, -100, -300], dtype=np.int16)  # L,R,L,R
    samples2, _ = _wav_decode(make_wav(st, channels=2))
    assert np.allclose(samples2, np.array([200, -200]) / 32768.0)
    assert _wav_decode(b"RIFFxxxxWAVE") is None


def test_image_features_golden():
    red = np.zeros((4, 4, 3), dtype=np.uint8)
    red[..., 0] = 255
    f = image_features(red)
    assert np.allclose(f[0:3], [1.0, 0.0, 0.0])          # channel means
    assert np.allclose(f[3:6], [0.0, 0.0, 0.0])          # channel stds
    assert np.allclose(f[6:15], 0.299, atol=1e-6)        # luminance grid
    assert f[15] == 1.0                                   # aspect


def test_audio_features_golden():
    # alternating full-scale square wave: rms=0.5, zcr=1, peak=0.5
    sq = np.tile(np.array([16384, -16384], dtype=np.int16), 400)
    f = audio_features(*_wav_decode(make_wav(sq)))
    assert abs(f[1] - 0.5) < 1e-6      # RMS
    assert abs(f[2] - 1.0) < 2e-3      # zero-crossing rate
    assert abs(f[3] - 0.5) < 1e-6      # peak
    assert abs(f[0] - 800 / 8000) < 1e-6  # duration


def test_spark_extract_features_real_flags(spark):
    px = np.full((6, 5, 3), 128, dtype=np.uint8)
    wav = make_wav(np.arange(-500, 500, dtype=np.int16))
    rows = [(1, bytearray(make_bmp(px))), (2, bytearray(wav)), (3, bytearray(b"not media"))]
    media = spark.createDataFrame(rows, "media_id long, blob binary")
    got = {r["media_id"]: r for r in extract_features(media).collect()}
    assert got[1]["real"] is True and got[2]["real"] is True and got[3]["real"] is False
    # Spark path == local kernel, bit-for-bit
    assert np.allclose(got[1]["features"], image_features(px))
    assert np.allclose(got[2]["features"], audio_features(*_wav_decode(wav)))

