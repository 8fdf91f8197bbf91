"""Vendored pure-Python PNG codec — the minimal real-image fallback.

The multimodal operators keep their pixel work behind a codec seam
(operators/multimodal.py): this module for PNG, operators/jpeg.py for
baseline JPEG, else a loud NotImplementedError.  Implemented from the public PNG
specification (RFC 2083 / W3C PNG): 8-bit-depth, non-interlaced images
in the five standard color types, with all five scanline filters.  The
output contract matches ``PIL.Image.convert("RGB")`` — grayscale
replicates, palette maps through PLTE, and alpha is DISCARDED (not
composited) — so this path yields the RGB bytes, and therefore the
pixel checksum, Pillow would for the same file; the JVM ImageIO tier
(operators/jvmcodec.py) must match it byte-for-byte.

Stdlib (zlib + struct) + numpy: deterministic across platforms.  The
hot paths are vectorized — inflate is C (zlib), the None/Sub/Up filters
and all color normalization are whole-array numpy (Sub is a per-lane
cumsum mod 256), so only the inherently left-sequential Average/Paeth
scanlines fall back to the scalar loop.  Bulk decode at scale goes
through the JVM ImageIO tier instead.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def is_png(data: bytes) -> bool:
    return bool(data) and data[:8] == PNG_SIGNATURE


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(data: bytes) -> tuple[int, int, bytes]:
    """Decode a PNG to (width, height, raw RGB bytes).

    Raises ValueError on malformed/truncated input and
    NotImplementedError for the (rare) legal variants this minimal
    decoder does not cover (interlacing, bit depths other than 8).
    """
    if not is_png(data):
        raise ValueError("not a PNG: bad signature")
    pos = 8
    ihdr = None
    palette = b""
    idat = bytearray()
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        ctype = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            palette = body
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    width, height, bit_depth, color_type, _comp, _filt, interlace = ihdr
    if bit_depth != 8:
        raise NotImplementedError(f"PNG bit depth {bit_depth} unsupported")
    if interlace != 0:
        raise NotImplementedError("interlaced PNG unsupported")
    if color_type not in _CHANNELS:
        raise ValueError(f"PNG color type {color_type} invalid")
    if not idat:
        raise ValueError("PNG missing IDAT")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"PNG IDAT corrupt: {exc}") from exc

    ch = _CHANNELS[color_type]
    stride = width * ch
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG pixel data length mismatch")

    # unfilter scanlines.  None runs copy in one slice, Sub is a
    # per-lane prefix sum mod 256, Up is a whole-row wrapping add;
    # Average/Paeth predict from the just-reconstructed LEFT byte, an
    # inherently sequential recurrence, and keep the scalar loop.
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    ftypes = rows[:, 0]
    if np.any(ftypes > 4):
        bad = int(ftypes[ftypes > 4][0])
        raise ValueError(f"PNG filter type {bad} invalid")
    lines = rows[:, 1:]
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    y = 0
    while y < height:
        ftype = int(ftypes[y])
        if ftype == 0:  # None: batch the run of consecutive 0-rows
            end = y + 1
            while end < height and ftypes[end] == 0:
                end += 1
            out[y:end] = lines[y:end]
            y = end
            prev = out[y - 1]
            continue
        if ftype == 1:  # Sub
            lanes = lines[y].reshape(width, ch).astype(np.int64)
            out[y] = (
                np.cumsum(lanes, axis=0) & 0xFF
            ).astype(np.uint8).reshape(stride)
        elif ftype == 2:  # Up (uint8 add wraps mod 256)
            out[y] = lines[y] + prev
        else:  # Average / Paeth: scalar recurrence
            line = bytearray(lines[y].tobytes())
            pv = prev.tobytes()
            if ftype == 3:  # Average
                for i in range(stride):
                    left = line[i - ch] if i >= ch else 0
                    line[i] = (line[i] + ((left + pv[i]) >> 1)) & 0xFF
            else:  # Paeth
                for i in range(stride):
                    left = line[i - ch] if i >= ch else 0
                    ul = pv[i - ch] if i >= ch else 0
                    line[i] = (line[i] + _paeth(left, pv[i], ul)) & 0xFF
            out[y] = np.frombuffer(bytes(line), dtype=np.uint8)
        prev = out[y]
        y += 1

    # normalize to RGB, matching PIL.convert("RGB") (alpha discarded)
    flat = out.reshape(-1)
    if color_type == 2:
        rgb = out.tobytes()
    elif color_type == 0:
        rgb = np.repeat(flat, 3).tobytes()
    elif color_type == 4:
        rgb = np.repeat(flat.reshape(-1, 2)[:, 0], 3).tobytes()
    elif color_type == 6:
        rgb = flat.reshape(-1, 4)[:, :3].tobytes()
    else:  # 3: palette
        if not palette:
            raise ValueError("palette PNG missing PLTE")
        if len(palette) % 3:
            raise ValueError("PNG PLTE length not a multiple of 3")
        table = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
        if flat.size and int(flat.max()) >= table.shape[0]:
            raise ValueError("PNG palette index out of range")
        rgb = table[flat.astype(np.int64)].tobytes()
    return width, height, rgb


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png(width: int, height: int, rgb: bytes) -> bytes:
    """Encode raw RGB bytes as a minimal valid PNG (8-bit truecolor,
    filter 0 on every scanline, one IDAT)."""
    if len(rgb) != width * height * 3:
        raise ValueError(
            f"rgb length {len(rgb)} != {width}x{height}x3"
        )
    stride = width * 3
    raw = np.zeros((height, stride + 1), dtype=np.uint8)
    raw[:, 1:] = np.frombuffer(rgb, dtype=np.uint8).reshape(height, stride)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
        + _chunk(b"IEND", b"")
    )


def resize_rgb_nearest(
    src_w: int, src_h: int, rgb: bytes, dst_w: int, dst_h: int
) -> bytes:
    """Nearest-neighbor resample of raw RGB bytes — the deterministic
    real resize kernel (source pixel = floor(dst_index * src / dst),
    the classic integer nearest-neighbor mapping)."""
    if src_w <= 0 or src_h <= 0:
        raise ValueError("empty source image")
    src = np.frombuffer(rgb, dtype=np.uint8).reshape(src_h, src_w, 3)
    sy = np.arange(dst_h, dtype=np.int64) * src_h // dst_h
    sx = np.arange(dst_w, dtype=np.int64) * src_w // dst_w
    return src[sy[:, None], sx[None, :]].tobytes()
