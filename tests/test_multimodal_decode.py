"""Real decode paths for multimodal columns: pure-numpy BMP and PCM WAV
codecs round-trip — the uncompressed formats this container can handle
without codec libraries (the Spark operators over them are graded by the
``media_*`` oracle queries).
"""

from __future__ import annotations

import numpy as np

from co_deduplicate_spark.operators.multimodal import _bmp_decode, _wav_decode
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
