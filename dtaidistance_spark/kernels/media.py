"""Pure-numpy media codecs for the multimodal pipeline.

Real decoders for the formats ``synth_media`` writes, each parsed
byte-for-byte from its public spec with only the standard library:

* binary PPM (P6, netpbm spec);
* **PNG** (all five color types — truecolor, grayscale, palette/PLTE,
  gray+alpha and RGBA (alpha dropped) — at every legal bit depth,
  stdlib ``zlib`` inflate + the five scanline unfilters None/Sub/Up/
  Average/Paeth of spec §9, Adam7 interlace per spec §8.2);
* RIFF/WAVE audio: PCM16, unsigned PCM8 and IEEE float32, with a
  multi-channel downmix;
* RIFF/AVI video with uncompressed DIB frames.

Everything else (JPEG, GIF, BMP, compressed WAVE or AVI codecs, MP3)
sniffs as ``'unknown'`` or raises ``NotImplementedError`` in the
decoder, and ``operators/multimodal.py::decode_features`` takes its
hash-stub path (or raises with ``fake=False``).

Encoders exist so tests and ``synth_media`` can build deterministic
payloads without any imaging library.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

__all__ = ["encode_ppm", "decode_ppm", "encode_png", "decode_png",
           "encode_wav", "decode_wav", "encode_avi", "decode_avi",
           "decode_raster", "sniff_format"]

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def sniff_format(payload: bytes) -> str:
    """'ppm' | 'png' | 'wav' | 'avi' | 'unknown' from magic bytes.
    Any other format, JPEG, GIF and BMP included, is 'unknown'."""
    if payload[:2] == b"P6":
        return "ppm"
    if payload[:8] == _PNG_SIG:
        return "png"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return "avi"
    return "unknown"


def decode_raster(payload: bytes) -> np.ndarray:
    """Any supported raster payload → (h, w, 3) uint8 RGB."""
    fmt = sniff_format(payload)
    if fmt == "ppm":
        return decode_ppm(payload)
    if fmt == "png":
        return decode_png(payload)
    raise ValueError(f"not a supported raster payload (fmt={fmt})")


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Mono PCM16 → RIFF/WAVE bytes (canonical 44-byte header; the
    public WAVE spec's minimal fmt+data layout)."""
    pcm = np.asarray(samples, dtype="<i2").tobytes()
    n = len(pcm)
    hdr = (b"RIFF" + struct.pack("<I", 36 + n) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate,
                                   sample_rate * 2, 2, 16)
           + b"data" + struct.pack("<I", n))
    return hdr + pcm


def decode_wav(payload: bytes):
    """RIFF/WAVE bytes → (mono int16 sample array, sample_rate).  Walks
    the chunk list (a spec-conformant file may carry LIST/fact chunks
    before ``data``).  Decodes PCM16, unsigned PCM8 (rescaled to
    int16) and IEEE float32 ([-1, 1] rescaled with clipping);
    multi-channel input downmixes by the floor-mean of each frame,
    tolerating a trailing partial frame.  Any other format tag
    (ADPCM, G.711, MP3, ...) raises NotImplementedError."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        size = struct.unpack("<I", payload[pos + 4:pos + 8])[0]
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAVE payload missing fmt or data chunk")
    tag, ch, sample_rate, _rate, _align, bits = fmt
    if ch < 1:
        raise ValueError("WAVE fmt chunk declares zero channels")
    if tag == 1 and bits == 16:
        samples = np.frombuffer(
            data[:len(data) // (2 * ch) * 2 * ch], dtype="<i2")
    elif tag == 1 and bits == 8:  # unsigned 8-bit PCM → int16
        u8 = np.frombuffer(data[:len(data) // ch * ch], dtype=np.uint8)
        samples = (u8.astype(np.int16) - 128) << 8
    elif tag == 3 and bits == 32:  # IEEE float [-1, 1] → int16
        f = np.frombuffer(
            data[:len(data) // (4 * ch) * 4 * ch], dtype="<f4")
        samples = np.clip(np.trunc(f.astype(np.float64) * 32767.0),
                          -32768, 32767).astype(np.int16)
    else:
        raise NotImplementedError(
            f"WAVE format tag={tag} bits={bits} ch={ch} is not decoded "
            "natively; it needs soundfile/ffmpeg")
    if ch > 1:  # deterministic downmix: per-frame floor-mean
        frames = samples.reshape(-1, ch).astype(np.int32)
        samples = (frames.sum(axis=1) // ch).astype(np.int16)
    return samples.astype(np.int16, copy=False), sample_rate


# ---------------------------------------------------------------------------
# PPM (netpbm P6): "P6\n<w> <h>\n<maxval>\n" + raw RGB rows, top-down
# ---------------------------------------------------------------------------


def encode_ppm(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → binary PPM bytes."""
    img = np.asarray(img, dtype=np.uint8)
    h, w, c = img.shape
    if c != 3:
        raise ValueError("PPM P6 requires 3 channels")
    return f"P6\n{w} {h}\n255\n".encode("ascii") + img.tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM bytes → (h, w, 3) uint8.  Handles the spec's
    whitespace/comment grammar in the header (tokens separated by any
    whitespace; ``#`` starts a comment to end-of-line)."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos = 2
    tokens = []
    while len(tokens) < 3:
        # skip whitespace and comments
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":
            while pos < len(payload) and payload[pos:pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        tokens.append(payload[start:pos])
    w, h, maxval = (int(t) for t in tokens)
    if maxval != 255:
        raise ValueError(f"only maxval=255 supported (got {maxval})")
    pos += 1  # single whitespace byte after maxval per spec
    n = w * h * 3
    raster = payload[pos:pos + n]
    if len(raster) != n:
        raise ValueError("truncated PPM raster")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)


# ---------------------------------------------------------------------------
# PNG (public spec, ISO/IEC 15948): signature + chunked stream (length,
# type, data, CRC32); pixel data = zlib-compressed scanlines, each
# prefixed by a filter-type byte (0 None, 1 Sub, 2 Up, 3 Average,
# 4 Paeth — spec §9).  Scope: the spec's full legal color-type/depth
# matrix — all five color types (truecolor, grayscale, palette/PLTE,
# gray+alpha, RGBA) at every legal bit depth incl. sub-byte 1/2/4-bit
# grayscale and palette (MSB-first unpacking, spec §7.2), both
# non-interlaced and Adam7-interlaced (spec §8.2: seven subsampled
# passes, each filtered as an independent sub-image).
# ---------------------------------------------------------------------------

# Adam7 pass grid (x_start, y_start, x_step, y_step), spec §8.2
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor (spec §9.4), vectorized over a scanline; inputs
    are int16/int32 arrays of left / up / up-left reconstructed bytes."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _png_filter_pass(img2d: np.ndarray, filter_type) -> bytearray:
    """Filter one (sub-)image of raw scanlines (h, stride) int16 into
    the PNG scanline stream (filter byte + filtered bytes per row).
    The previous-row state starts at zero: each interlace pass is an
    independent sub-image per spec §8.2."""
    h, stride = img2d.shape
    bpp = 3
    prev = np.zeros(stride, dtype=np.int16)
    out = bytearray()
    for y in range(h):
        f = (y % 5) if filter_type is None else int(filter_type)
        line = img2d[y]
        left = np.concatenate([np.zeros(bpp, dtype=np.int16),
                               line[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, dtype=np.int16),
                                 prev[:-bpp]])
        if f == 0:
            filt = line
        elif f == 1:
            filt = line - left
        elif f == 2:
            filt = line - prev
        elif f == 3:
            filt = line - (left + prev) // 2
        elif f == 4:
            filt = line - _paeth(left, prev, upleft)
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out.append(f)
        out += (filt % 256).astype(np.uint8).tobytes()
        prev = line
    return out


def encode_png(img: np.ndarray, filter_type=None,
               interlace: bool = False) -> bytes:
    """(h, w, 3) uint8 RGB → PNG bytes.  ``filter_type`` fixes one
    filter for every scanline; default cycles row % 5 through all five
    so decoders exercise every unfilter path.  ``interlace=True`` emits
    Adam7: the seven pass sub-images filtered independently and
    concatenated into one zlib stream (spec §8.2)."""
    img = np.asarray(img, dtype=np.uint8)
    h, w, ch = img.shape
    if ch != 3:
        raise ValueError("encode_png supports RGB (3 channels)")
    bpp = 3
    out = bytearray()
    if interlace:
        for (x0, y0, dx, dy) in _ADAM7:
            sub = img[y0::dy, x0::dx]
            ph, pw = sub.shape[:2]
            if ph == 0 or pw == 0:
                continue  # empty pass contributes no scanlines
            out += _png_filter_pass(
                sub.reshape(ph, pw * bpp).astype(np.int16), filter_type)
    else:
        out += _png_filter_pass(
            img.reshape(h, w * bpp).astype(np.int16), filter_type)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1 if interlace else 0)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
            + _png_chunk(b"IEND", b""))


# channels per 8-bit color type: 0 grayscale, 2 truecolor, 3 palette
# indices, 4 gray+alpha, 6 RGBA (spec §11.2.2)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes → (h, w, 3) uint8 RGB.  Pure stdlib-zlib + numpy:
    walks the chunk stream (CRC-checked), inflates the concatenated
    IDAT data, and undoes the per-scanline filters.  Sub/Average/Paeth
    carry an in-row prefix dependency, so those rows reconstruct
    pixel-group-sequentially; None/Up rows are fully vectorized.
    All five color types decode at every legal bit depth — 16-bit
    samples reduce to their high byte, sub-byte 1/2/4-bit samples
    unpack MSB-first (spec §7.2) with gray values scaled to 8-bit:
    grayscale and gray+alpha expand to RGB, palette indices look up
    PLTE, RGBA drops the alpha channel (no compositing — the feature
    path consumes opaque pixels); combinations outside the spec's
    legal matrix raise."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            if length % 3:
                raise ValueError("PLTE length not a multiple of 3")
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype_i, comp, filt_m, interlace = ihdr
    legal = {0: (1, 2, 4, 8, 16), 3: (1, 2, 4, 8),
             2: (8, 16), 4: (8, 16), 6: (8, 16)}
    if ctype_i not in _PNG_CHANNELS or comp != 0 or filt_m != 0 \
            or interlace not in (0, 1) or depth not in legal[ctype_i]:
        raise NotImplementedError(
            "PNG color type / bit depth outside the spec's legal "
            f"matrix (depth={depth}, color={ctype_i}, "
            f"interlace={interlace})")
    if ctype_i == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE")
    channels = _PNG_CHANNELS[ctype_i]
    # filters operate on BYTES with the pixel width in bytes as the
    # 'left' offset — floored to 1 at sub-byte depths (spec §9.2)
    bpp = max(1, channels * depth // 8)

    def _stride(width):  # scanline bytes for `width` pixels
        return (width * channels * depth + 7) // 8

    def _pass_samples(rows, width):
        """(ph, stride) unfiltered bytes → (ph, width, channels) uint8
        samples (16-bit reduced to the high byte, sub-byte unpacked
        MSB-first per spec §7.2)."""
        ph = rows.shape[0]
        if depth == 8:
            return rows.reshape(ph, width, channels)
        if depth == 16:
            return np.ascontiguousarray(
                rows.reshape(ph, width, channels, 2)[..., 0])
        bits = np.unpackbits(rows, axis=1)
        npx = rows.shape[1] * 8 // depth
        weights = 1 << np.arange(depth - 1, -1, -1)
        vals = (bits.reshape(ph, npx, depth) * weights).sum(axis=2)
        return vals.astype(np.uint8)[:, :width].reshape(ph, width, 1)

    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if interlace == 0:
        stride = _stride(w)
        if len(raw) != h * (stride + 1):
            raise ValueError("PNG pixel data length mismatch")
        out = _pass_samples(
            _png_unfilter_pass(raw.reshape(h, stride + 1), bpp), w)
    else:
        # Adam7: seven independently-filtered sub-images, scattered
        # back onto the (y0::dy, x0::dx) grids (spec §8.2)
        out = np.empty((h, w, channels), dtype=np.uint8)
        pos = 0
        for (x0, y0, dx, dy) in _ADAM7:
            ph = len(range(y0, h, dy))
            pw = len(range(x0, w, dx))
            if ph == 0 or pw == 0:
                continue
            stride = _stride(pw)
            n = ph * (stride + 1)
            if pos + n > len(raw):
                raise ValueError(
                    "PNG interlaced pixel data length mismatch")
            sub = _pass_samples(_png_unfilter_pass(
                raw[pos:pos + n].reshape(ph, stride + 1), bpp), pw)
            out[y0::dy, x0::dx] = sub
            pos += n
        if pos != len(raw):
            raise ValueError("PNG interlaced pixel data length mismatch")
    if ctype_i == 2:
        return out
    if ctype_i == 0:  # grayscale → scale to 8-bit, replicate
        if depth < 8:
            out = out * np.uint8(255 // ((1 << depth) - 1))
        return np.repeat(out, 3, axis=2)
    if ctype_i == 4:  # gray+alpha → replicate gray, drop alpha
        return np.repeat(out[..., :1], 3, axis=2)
    if ctype_i == 6:  # RGBA → drop alpha
        return np.ascontiguousarray(out[..., :3])
    # palette: index lookup (out-of-range indices are corrupt data)
    idx = out.reshape(h, w)
    if int(idx.max(initial=0)) >= len(plte):
        raise ValueError("PNG palette index out of range")
    return plte[idx]


def _png_unfilter_pass(raw: np.ndarray, bpp: int) -> np.ndarray:
    """Undo the per-scanline filters of one (sub-)image: ``raw`` is
    (h, stride+1) uint8 with the filter byte in column 0; returns the
    reconstructed (h, stride) uint8 rows.  Sub/Average/Paeth carry an
    in-row prefix dependency, so those rows reconstruct
    pixel-group-sequentially; None/Up rows are fully vectorized."""
    h, stride1 = raw.shape
    stride = stride1 - 1
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = int(raw[y, 0])
        line = raw[y, 1:].astype(np.int32)
        if f == 0:
            rec = line
        elif f == 2:  # Up — vectorized
            rec = (line + prev) % 256
        elif f in (1, 3, 4):
            # in-row prefix dependency: reconstruct pixel-group-wise
            rec = np.empty(stride, dtype=np.int32)
            left = np.zeros(bpp, dtype=np.int32)
            for x0 in range(0, stride, bpp):
                sl = slice(x0, x0 + bpp)
                if f == 1:
                    rec[sl] = (line[sl] + left) % 256
                elif f == 3:
                    rec[sl] = (line[sl] + (left + prev[sl]) // 2) % 256
                else:
                    upleft = prev[x0 - bpp:x0] if x0 else \
                        np.zeros(bpp, dtype=np.int32)
                    rec[sl] = (line[sl]
                               + _paeth(left, prev[sl], upleft)) % 256
                left = rec[sl]
        else:
            raise ValueError(f"unknown PNG filter {f} on row {y}")
        out[y] = rec.astype(np.uint8)
        prev = rec
    return out


# ---------------------------------------------------------------------------
# AVI (Microsoft RIFF container, public AVI 1.0 / OpenDML spec): RIFF
# 'AVI ' + LIST hdrl (avih main header + LIST strl (strh stream header
# + strf BITMAPINFOHEADER)) + LIST movi with one frame chunk per video
# frame + idx1 index.  One codec: '00db' raw frames (uncompressed
# bottom-up BGR DIB rows, 4-byte-aligned stride, biCompression=0
# BI_RGB).  Anything else (MJPEG, H.264 & co) stays behind the
# NotImplementedError codec boundary.
# ---------------------------------------------------------------------------


def _riff_chunk(ckid: bytes, data: bytes) -> bytes:
    """FOURCC + little-endian size + data + word-alignment pad."""
    return (ckid + struct.pack("<I", len(data)) + data
            + (b"\x00" if len(data) & 1 else b""))


def _riff_list(ltype: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", ltype + body)


def encode_avi(frames, fps: int = 10) -> bytes:
    """List of (h, w, 3) uint8 RGB frames → AVI bytes of '00db' BI_RGB
    DIB chunks (lossless — the pixel-formula oracle path).  Emits a spec-shaped idx1 index (keyframe flag, offsets relative to
    the 'movi' fourcc) so decoders that read it see a real file."""
    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    if not frames:
        raise ValueError("AVI needs at least one frame")
    h, w, _ = frames[0].shape
    if any(f.shape != (h, w, 3) for f in frames):
        raise ValueError("all AVI frames must share one (h, w, 3) shape")
    ckid = b"00db"
    stride = (w * 3 + 3) // 4 * 4
    payloads = []
    for f in frames:
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, :w * 3] = f[::-1, :, ::-1].reshape(h, w * 3)  # BGR, up
        payloads.append(rows.tobytes())
    maxbuf = max(len(p) for p in payloads)
    n = len(frames)

    avih = struct.pack("<10I", 1_000_000 // fps, maxbuf * fps, 0,
                       0x10,          # AVIF_HASINDEX
                       n, 0, 1, maxbuf, w, h) + b"\x00" * 16
    strh = (b"vids" + b"DIB "
            + struct.pack("<10I", 0, 0, 0, 1, fps, 0, n, maxbuf,
                          0xFFFFFFFF, 0)
            + struct.pack("<4H", 0, 0, w, h))
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                       len(payloads[0]), 0, 0, 0, 0)
    hdrl = _riff_list(b"hdrl", _riff_chunk(b"avih", avih)
                      + _riff_list(b"strl", _riff_chunk(b"strh", strh)
                                   + _riff_chunk(b"strf", strf)))
    movi_body = b""
    idx = b""
    for p in payloads:
        # idx1 offsets point at the chunk FOURCC, relative to 'movi'
        idx += ckid + struct.pack("<III", 0x10, 4 + len(movi_body),
                                  len(p))
        movi_body += _riff_chunk(ckid, p)
    movi = _riff_list(b"movi", movi_body)
    body = b"AVI " + hdrl + movi + _riff_chunk(b"idx1", idx)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _avi_walk(payload: bytes, pos: int, lim: int, out: dict) -> None:
    """Recursive RIFF chunk walk collecting strf geometry and movi
    frame chunks (descends into LIST 'rec ' groupings too).  Limits
    are clamped to the real buffer so a truncated file fails with the
    decoder's own ValueError, not a struct error."""
    lim = min(lim, len(payload))
    while pos + 8 <= lim:
        ckid = payload[pos:pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        start = pos + 8
        if ckid == b"LIST":
            _avi_walk(payload, start + 4, start + size, out)
        elif ckid == b"strf" and "w" not in out:
            if start + 20 > lim:
                raise ValueError("truncated AVI strf header")
            _, w, h, _, bits, comp = struct.unpack(
                "<IiiHHI", payload[start:start + 20])
            out.update(w=w, h=h, bits=bits, compression=comp)
        elif ckid == b"strh" and "fps" not in out:
            scale, rate = struct.unpack("<II", payload[start + 20:
                                                       start + 28])
            if scale:
                out["fps"] = rate / scale
        elif ckid[2:4] in (b"db", b"dc") and ckid[:2].isdigit():
            out.setdefault("frames", []).append(
                payload[start:start + size])
        pos = start + size + (size & 1)


def decode_avi(payload: bytes):
    """AVI bytes → (list of (h, w, 3) uint8 RGB frames, meta dict with
    w/h/fps/compression).  Raw BI_RGB DIB chunks are unpacked exactly
    (bottom-up BGR, padded stride); other codecs raise
    NotImplementedError."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    out: dict = {}
    _avi_walk(payload, 12, 8 + struct.unpack("<I", payload[4:8])[0], out)
    if "w" not in out or not out.get("frames"):
        raise ValueError("AVI missing strf header or movi frames")
    w, h = out["w"], out["h"]
    nrows = abs(h)
    imgs = []
    for body in out["frames"]:
        if out["compression"] != 0 or out.get("bits") != 24:
            raise NotImplementedError(
                f"AVI codec 0x{out['compression']:08X}/"
                f"{out.get('bits')}bpp needs ffmpeg")
        stride = (w * 3 + 3) // 4 * 4
        arr = np.frombuffer(body, dtype=np.uint8)
        if arr.size < stride * nrows:
            raise ValueError("truncated AVI DIB frame")
        rows = arr[:stride * nrows].reshape(nrows, stride)[:, :w * 3]
        img = rows.reshape(nrows, w, 3)[:, :, ::-1]  # BGR -> RGB
        if h > 0:  # positive biHeight = bottom-up rows
            img = img[::-1]
        imgs.append(np.ascontiguousarray(img))
    meta = {"w": w, "h": nrows, "fps": out.get("fps"),
            "compression": out["compression"],
            "n_frames": len(imgs)}
    return imgs, meta
