"""Multimodal column handling (image/audio/video as opaque binary).

No reference counterpart — this is the training-data-pipeline extension:
media travels as ``binary`` columns; decode steps are Arrow-batched
``mapInPandas`` operators.

Decode coverage in this environment (no codec libraries in the container):
REAL pure-numpy decode paths, no stub, for uncompressed 24-bit BI_RGB
**BMP** (full pixel array → integer channel sums), 16-bit PCM **WAV**
(samples → integer statistics) and a BMP-frame video container; each is
graded bit-exactly by a DuckDB oracle (``media_*`` queries) and the codecs
round-trip (tests/test_multimodal_decode.py). Compressed formats are where
a codec worker plugs in.

The Spark-side plumbing — schema, batch iteration, partition sizing — is
the production shape either way.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def encode_bmp(px: np.ndarray) -> bytes:
    """Encode HxWx3 uint8 RGB as a bottom-up 24-bit BI_RGB BMP (the inverse
    of ``_bmp_decode``; the write half of the media pipeline)."""
    h, w = px.shape[:2]
    row_size = ((w * 3 + 3) // 4) * 4
    body = bytearray()
    for row in px[::-1]:  # bottom-up row order
        line = row[:, ::-1].tobytes()  # RGB→BGR
        body += line + b"\x00" * (row_size - len(line))
    header = (
        b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    )
    return bytes(header) + bytes(body)


def encode_wav(samples: np.ndarray, rate: int = 8000, channels: int = 1) -> bytes:
    """Encode int16 samples as RIFF/WAVE 16-bit PCM (inverse of ``_wav_decode``)."""
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def _bmp_header_ok(b: bytes, off: int = 0, size: int | None = None) -> bool:
    """Header-only decodability probe: True iff ``_bmp_decode`` on the slice
    ``b[off:off+size]`` would succeed. Mirrors EVERY rejection _bmp_decode
    applies (magic, bpp, compression, dimensions, pixel-data bounds) so the
    two consumers of a container — ``frame_sample_stats``'s n_frames count
    and ``_video_frames``'s decode walk — can never disagree on which
    frames are decodable, without paying a pixel decode per frame."""
    end = len(b) if size is None else off + size
    if end - off < 54 or b[off : off + 2] != b"BM":
        return False
    data_off = struct.unpack("<I", b[off + 10 : off + 14])[0]
    w = struct.unpack("<i", b[off + 18 : off + 22])[0]
    h_raw = struct.unpack("<i", b[off + 22 : off + 26])[0]
    bpp = struct.unpack("<H", b[off + 28 : off + 30])[0]
    comp = struct.unpack("<I", b[off + 30 : off + 34])[0]
    if bpp != 24 or comp != 0 or w <= 0 or h_raw == 0:
        return False
    row_size = ((w * 3 + 3) // 4) * 4
    return end - off >= data_off + row_size * abs(h_raw)


def _bmp_decode(b: bytes) -> np.ndarray | None:
    """Uncompressed 24-bit BI_RGB BMP → HxWx3 uint8 RGB array (pure numpy)."""
    if not _bmp_header_ok(b):
        return None
    data_off = struct.unpack("<I", b[10:14])[0]
    w = struct.unpack("<i", b[18:22])[0]
    h_raw = struct.unpack("<i", b[22:26])[0]
    bottom_up, h = h_raw > 0, abs(h_raw)
    row_size = ((w * 3 + 3) // 4) * 4
    rows = np.frombuffer(b, dtype=np.uint8, count=row_size * h, offset=data_off)
    px = rows.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)[..., ::-1]  # BGR→RGB
    return px[::-1] if bottom_up else px


def _wav_decode(b: bytes) -> tuple[np.ndarray, int] | None:
    """RIFF/WAVE 16-bit PCM → (mono float32 samples in [-1,1], sample rate)."""
    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    i, rate, channels, bits, data = 12, None, None, None, None
    while i + 8 <= len(b):
        cid, clen = b[i : i + 4], struct.unpack("<I", b[i + 4 : i + 8])[0]
        body = b[i + 8 : i + 8 + clen]
        if cid == b"fmt " and len(body) >= 16:
            fmt, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if fmt != 1:  # PCM only
                return None
        elif cid == b"data":
            data = body
        i += 8 + clen + (clen & 1)  # chunks are word-aligned
    if not (rate and channels and bits == 16 and data):
        return None
    samples = np.frombuffer(data, dtype="<i2", count=len(data) // 2)
    if channels > 1:
        samples = samples[: len(samples) // channels * channels]
        samples = samples.reshape(-1, channels).mean(axis=1)
    return samples.astype(np.float32) / 32768.0, rate


IMAGE_STATS_SCHEMA = (
    "media_id long, width int, height int, sum_r long, sum_g long, sum_b long"
)


def image_channel_stats(media: DataFrame, id_col: str = "media_id",
                        blob_col: str = "blob") -> DataFrame:
    """Integer-exact image statistics via the REAL BMP decode path: per-
    channel pixel-value sums (uint8 summed as int64 — no float rounding).

    Exists so the media decode path can sit under the bit-exact DuckDB
    oracle: a corpus whose pixels are a known arithmetic function of the
    row key decodes to sums the oracle reproduces in closed form, proving
    header parse, stride/padding handling, bottom-up flip, and BGR→RGB
    against an implementation-independent mirror. Non-BMP blobs are
    dropped."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf[id_col], pdf[blob_col]):
                px = _bmp_decode(bytes(blob) if blob is not None else b"")
                if px is None:
                    continue
                sums = px.astype(np.int64).sum(axis=(0, 1))
                rows.append({"media_id": int(mid), "width": px.shape[1],
                             "height": px.shape[0], "sum_r": int(sums[0]),
                             "sum_g": int(sums[1]), "sum_b": int(sums[2])})
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "sum_r", "sum_g", "sum_b"])

    return media.select(id_col, blob_col).mapInPandas(op, schema=IMAGE_STATS_SCHEMA)


AUDIO_STATS_SCHEMA = (
    "media_id long, n_samples long, rate int, sum_abs long, n_sign_change long"
)


def audio_sample_stats(media: DataFrame, id_col: str = "media_id",
                       blob_col: str = "blob") -> DataFrame:
    """Integer-exact audio statistics on the RAW int16 samples (pre-
    normalization): sample count, sum of |sample|, strict sign changes.
    Same oracle purpose as ``image_channel_stats`` — proves the RIFF chunk
    walk + PCM decode against a closed-form DuckDB mirror. Non-WAV blobs
    are dropped."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf[id_col], pdf[blob_col]):
                wav = _wav_decode(bytes(blob) if blob is not None else b"")
                if wav is None:
                    continue
                raw = np.round(wav[0] * 32768.0).astype(np.int64)
                sign = np.sign(raw)
                changes = int(np.sum(sign[1:] * sign[:-1] < 0))
                rows.append({"media_id": int(mid), "n_samples": len(raw),
                             "rate": int(wav[1]),
                             "sum_abs": int(np.abs(raw).sum()),
                             "n_sign_change": changes})
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_samples", "rate", "sum_abs", "n_sign_change"])

    return media.select(id_col, blob_col).mapInPandas(op, schema=AUDIO_STATS_SCHEMA)


def encode_video(frames: list[np.ndarray]) -> bytes:
    """Frame container: concatenated BMPs. Deliberately minimal but REAL —
    each BMP header carries its total file size (bytes 2:6), so a decoder
    walks the container by declared sizes, exactly like chunked media
    formats; no out-of-band index needed."""
    return b"".join(encode_bmp(f) for f in frames)


def _video_frame_spans(b: bytes) -> list[tuple[int, int]]:
    """Header-only walk of a concatenated-BMP container: (offset, size)
    per frame from each BMP header's declared file size — no pixel decode.
    Stops at the first malformed frame (truncated tail tolerated)."""
    spans = []
    i = 0
    while i + 54 <= len(b) and b[i : i + 2] == b"BM":
        size = struct.unpack("<I", b[i + 2 : i + 6])[0]
        if size < 54 or i + size > len(b):
            break
        spans.append((i, size))
        i += size
    return spans


def _video_frames(b: bytes):
    """Walk a concatenated-BMP container, yielding decoded frames (header
    walk via _video_frame_spans, then per-frame pixel decode)."""
    for off, size in _video_frame_spans(b):
        px = _bmp_decode(b[off : off + size])
        if px is None:
            return
        yield px


FRAME_STATS_SCHEMA = (
    "media_id long, frame_idx int, n_frames int, width int, height int, "
    "sum_r long, sum_g long, sum_b long"
)


def frame_sample_stats(media: DataFrame, every_n: int = 2,
                       id_col: str = "media_id",
                       blob_col: str = "blob") -> DataFrame:
    """Video frame sampling: walk the container headers, pixel-decode ONLY
    every ``every_n``-th frame (idx 0, n, 2n, ...), emit integer-exact
    per-frame channel sums — the frame-sample step of a media pipeline
    with the same oracle-facing stats contract as ``image_channel_stats``.
    ``n_frames`` counts DECODABLE leading frames: like ``_video_frames``,
    the walk stops at the first header-valid but non-decodable (e.g.
    non-24bpp) frame, so a container's two consumers agree on its frame
    count — a reported n_frames never exceeds the frames that could
    contribute rows. (Sampled-out frames between decodable ones still
    skip pixel work; the decodability probe is header+bpp-field only.)
    Blobs that aren't BM-led containers yield no rows; note a single bare
    BMP is, by construction, a valid 1-frame container and emits its
    frame_idx=0 row. Sampling happens at the worker, so only sampled-frame
    stats (not pixels) ever leave the partition."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf[id_col], pdf[blob_col]):
                b = bytes(blob) if blob is not None else b""
                spans = _video_frame_spans(b)
                # truncate the span list at the first non-decodable frame so
                # n_frames matches _video_frames' stop-at-first-undecodable
                # semantics — the probe applies _bmp_decode's FULL header
                # validation (bpp, compression, dimensions, pixel bounds),
                # still without any pixel decode
                n_dec = 0
                for off, size in spans:
                    if not _bmp_header_ok(b, off, size):
                        break
                    n_dec += 1
                spans = spans[:n_dec]
                for idx in range(0, len(spans), every_n):
                    off, size = spans[idx]
                    px = _bmp_decode(b[off : off + size])
                    if px is None:  # decode failed beyond the bpp probe
                        break
                    sums = px.astype(np.int64).sum(axis=(0, 1))
                    rows.append({"media_id": int(mid), "frame_idx": idx,
                                 "n_frames": len(spans),
                                 "width": px.shape[1], "height": px.shape[0],
                                 "sum_r": int(sums[0]), "sum_g": int(sums[1]),
                                 "sum_b": int(sums[2])})
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "n_frames", "width",
                               "height", "sum_r", "sum_g", "sum_b"])

    return media.select(id_col, blob_col).mapInPandas(op, schema=FRAME_STATS_SCHEMA)


def synth_media_blobs(ids: DataFrame, id_col: str = "media_id",
                      kind: str = "bmp", width: int = 7, height: int = 9,
                      rate: int = 8000) -> DataFrame:
    """Deterministic media corpus: per row key, a blob whose content is a
    closed-form arithmetic function of the key — so decode output is
    provable against an arithmetic DuckDB oracle (no external data, per
    the sandbox contract). BMP pixels: v(r,c,ch) = (a*131 + 17r + 29c +
    97ch) mod 256 with a = id mod 1009, 7×9 (stride 24 ⇒ 3 pad bytes/row —
    exercises row padding). WAV samples (mono int16): s(i) = ((a*13 +
    7919i) mod 4001) − 2000 over n = 64 + id mod 37 samples (varying data
    chunk length). Video (concatenated-BMP container): n = 3 + id mod 5
    frames, frame f's pixels add 59·f to the BMP formula."""
    if kind not in ("bmp", "wav", "video"):
        raise ValueError(f"kind must be bmp|wav|video, got {kind!r}")

    def frame_px(a: int, f: int) -> np.ndarray:
        r = np.arange(height)[:, None, None]
        c = np.arange(width)[None, :, None]
        ch = np.arange(3)[None, None, :]
        return ((a * 131 + r * 17 + c * 29 + ch * 97 + f * 59) % 256).astype(np.uint8)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for mid in pdf[id_col]:
                a = int(mid) % 1009
                if kind == "bmp":
                    blobs.append(encode_bmp(frame_px(a, 0)))
                elif kind == "video":
                    n_frames = 3 + int(mid) % 5
                    blobs.append(encode_video([frame_px(a, f) for f in range(n_frames)]))
                else:
                    n = 64 + int(mid) % 37
                    i = np.arange(n)
                    s = ((a * 13 + i * 7919) % 4001 - 2000).astype(np.int16)
                    blobs.append(encode_wav(s, rate=rate))
            yield pd.DataFrame({"media_id": pdf[id_col].astype("int64"),
                                "blob": blobs})

    return ids.select(id_col).mapInPandas(op, schema="media_id long, blob binary")
