"""Multimodal (image/audio/video) column plumbing.

Binary media are opaque ``binary`` columns with typed metadata;
``decode_features`` is an Arrow-batched ``mapInPandas`` stage.  The
codec boundary is split:

* **Real decode** for the formats ``synth_media`` writes — PPM (P6),
  PNG, PCM/float RIFF/WAVE and raw-DIB ('00db') RIFF/AVI — parsed
  byte-for-byte by the pure-numpy codecs in ``kernels/media.py``.  All
  four are lossless, so the ``media_features`` DuckDB oracle validates
  the decoded values exactly.
* **Honest stub** for every other format (JPEG, GIF, BMP, compressed
  WAVE or AVI codecs, MP3, ...): with ``fake=True`` (default) a
  deterministic hash-derived decoder stands in (schemas, batching,
  partitioning and downstream math stay real and testable); with
  ``fake=False`` the boundary raises where Pillow/ffmpeg/soundfile
  would be invoked.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernels.media import (decode_avi, decode_raster, decode_wav,
                             encode_avi, encode_png, encode_ppm,
                             encode_wav, sniff_format)

MEDIA_SCHEMA = ("media_id long, kind string, payload binary, width int, "
                "height int, sample_rate int, n_frames int")

_IMG_W, _IMG_H = 32, 24


def _synth_pixels(media_id: int, w: int = _IMG_W, h: int = _IMG_H) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 test image — integer formula kept
    SQL-replayable so the DuckDB oracle can recompute the decoded pixels
    without parsing binary: p = (7·id + 3·x + 5·y + 11·c + x·y) mod 256."""
    x = np.arange(w)[None, :, None]
    y = np.arange(h)[:, None, None]
    c = np.arange(3)[None, None, :]
    return ((7 * media_id + 3 * x + 5 * y + 11 * c + x * y) % 256
            ).astype(np.uint8)


_AUDIO_N = 2048

_VID_W, _VID_H = 16, 12


def _synth_frame(media_id: int, frame_idx: int) -> np.ndarray:
    """Deterministic video frame: the image formula with the frame
    index folded in additively (id' = media_id + 131·frame), so the
    DuckDB oracle replays per-frame pixels as
    (7·id + 917·f + 3·x + 5·y + 11·c + x·y) mod 256."""
    return _synth_pixels(media_id + 131 * frame_idx, _VID_W, _VID_H)


def _synth_samples(media_id: int, n: int = _AUDIO_N) -> np.ndarray:
    """Deterministic mono PCM16 test signal — integer formula kept
    SQL-replayable (like :func:`_synth_pixels`) so the DuckDB oracle can
    recompute the decoded samples without parsing RIFF bytes:
    s_k = ((13·id + 7·k + k² mod 97) mod 65536) − 32768."""
    k = np.arange(n, dtype=np.int64)
    return (((13 * media_id + 7 * k + (k * k) % 97) % 65536) - 32768
            ).astype(np.int16)


def synth_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table.  Image rows alternate a
    real binary-PPM payload and a real PNG payload (the PNG encoder
    cycles all five scanline filters, so decode exercises every
    unfilter path); audio rows carry a real RIFF/WAVE PCM16 payload;
    video rows carry a real uncompressed-DIB AVI (one lossless '00db'
    BGR frame chunk per frame, so the per-frame pixel formula stays
    SQL-replayable too).  The decoded pixels follow the same integer
    formula either way, so the SQL pixel oracle covers every container
    format."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kinds = ["image", "audio", "video"]
        for pdf in batches:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                kind = kinds[mid % 3]
                if kind == "image":
                    px = _synth_pixels(mid)
                    payload = encode_png(px) if (mid // 3) % 2 \
                        else encode_ppm(px)
                elif kind == "audio":
                    payload = encode_wav(_synth_samples(mid), 16000)
                else:
                    payload = encode_avi(
                        [_synth_frame(mid, fi)
                         for fi in range(mid % 7 + 3)])
                rows.append((mid, kind, payload, _IMG_W, _IMG_H, 16000,
                             mid % 7 + 3))
            yield pd.DataFrame(rows, columns=[
                "media_id", "kind", "payload", "width", "height",
                "sample_rate", "n_frames"])

    return spark.range(0, n).mapInPandas(build, schema=MEDIA_SCHEMA)


def _fake_decode(payload: bytes, n_values: int) -> np.ndarray:
    """Deterministic stand-in decoder: stretch a seed digest into
    ``n_values`` floats in [0, 1)."""
    out = np.empty(n_values)
    i = 0
    ctr = 0
    while i < n_values:
        h = hashlib.sha256(payload + ctr.to_bytes(4, "big")).digest()
        block = np.frombuffer(h, dtype=np.uint8).astype(np.float64) / 256.0
        take = min(len(block), n_values - i)
        out[i:i + take] = block[:take]
        i += take
        ctr += 1
    return out


def _raster_features(payload: bytes, n_features: int) -> np.ndarray:
    """Real decode → grayscale → n_features vertical-strip means in
    [0, 1).  Strip s covers columns [s·w/nf, (s+1)·w/nf)."""
    img = decode_raster(payload)
    gray = img.mean(axis=2)  # (h, w) float64, (r+g+b)/3
    w = gray.shape[1]
    out = np.empty(n_features)
    for s in range(n_features):
        lo, hi = s * w // n_features, (s + 1) * w // n_features
        out[s] = gray[:, lo:max(hi, lo + 1)].mean() / 255.0
    return out


def _audio_features(payload: bytes, n_features: int) -> np.ndarray:
    """Real WAVE decode → ``n_features`` frame-RMS energies in [0, 1).
    Frame f covers samples [f·n/nf, (f+1)·n/nf); RMS is computed over
    exact integer squares (sums < 2^53), so the value is reproducible
    bit-for-bit by the SQL oracle regardless of summation order."""
    samples, _ = decode_wav(payload)
    s = samples.astype(np.float64)
    n = len(s)
    out = np.empty(n_features)
    for f in range(n_features):
        lo, hi = f * n // n_features, (f + 1) * n // n_features
        frame = s[lo:max(hi, lo + 1)]
        out[f] = np.sqrt(np.mean(frame * frame)) / 32768.0
    return out


def _frame_sig(frame: np.ndarray) -> float:
    """Mean channel intensity of one frame in [0, 1): exact integer sum
    (< 2^53) divided last, so the value is summation-order-independent
    and bit-reproducible by the SQL oracle."""
    return int(frame.sum(dtype=np.int64)) / frame.size / 255.0


def _video_features(payload: bytes, n_features: int) -> np.ndarray:
    """Real AVI decode → ``n_features`` frame signatures; feature f
    samples frame ⌊f·n_frames/n_features⌋ (repeats when the clip is
    shorter than the feature vector)."""
    frames, _ = decode_avi(payload)
    nf = len(frames)
    return np.array([_frame_sig(frames[f * nf // n_features])
                     for f in range(n_features)])


def decode_features(media: DataFrame, n_features: int = 16,
                    fake: bool = True) -> DataFrame:
    """media → fixed-width feature vectors (the embedding-extraction
    stage of a training-data pipeline).  Batched: one pandas frame per
    Arrow batch, one numpy matrix per batch.  PPM and PNG images,
    PCM/float WAVE audio and raw-DIB AVI video go through the REAL
    decoders.  Any other payload, or one those decoders reject, uses
    the hash stub (or raises with ``fake=False``)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for p in pdf["payload"]:
                p = bytes(p)
                fmt = sniff_format(p)
                try:
                    if fmt == "wav":
                        feats.append(_audio_features(p, n_features).tolist())
                    elif fmt == "avi":
                        feats.append(_video_features(p, n_features).tolist())
                    elif fmt != "unknown":
                        feats.append(_raster_features(p, n_features)
                                     .tolist())
                    elif fake:
                        feats.append(_fake_decode(p, n_features).tolist())
                    else:
                        raise NotImplementedError(
                            "real decoding of media beyond PPM/PNG/"
                            "PCM WAVE/raw AVI requires Pillow/ffmpeg/"
                            "soundfile, not available in this environment")
                except (ValueError, NotImplementedError):
                    # corrupt-but-sniffable payloads (truncated stream,
                    # codec variant the decoder rejects): with fake=True
                    # degrade to the deterministic stub instead of
                    # failing the whole task; fake=False keeps the raise
                    if not fake:
                        raise
                    feats.append(_fake_decode(p, n_features).tolist())
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "kind": pdf["kind"],
                                "features": feats})

    return media.mapInPandas(
        run, schema="media_id long, kind string, features array<double>")

