"""Pure-stdlib PNG codec (zlib + struct + numpy): a REAL image decode
kernel with no optional dependencies.

The multimodal layer has no generic image decoder (that would need
PIL) — but PNG itself needs nothing beyond the standard library: the
stream is zlib-compressed scanlines behind a chunked container, and the five scanline filter types
(None/Sub/Up/Average/Paeth, PNG spec §6) are plain byte arithmetic.
This module implements both directions:

* :func:`decode_png` — parse the chunk stream, inflate IDAT, reverse
  the per-row filters, return an ``(h, w, channels)`` uint8 array.
  Supported: bit depth 8, color types 0 (gray), 2 (RGB), 4 (gray+
  alpha), 6 (RGBA), non-interlaced — the shapes a training pipeline
  normalizes to anyway.  Palette/16-bit/interlaced raise
  ``ValueError`` with the reason (honest partial support, not a
  silent wrong answer).
* :func:`encode_png` — the inverse, used by tests and the gate query
  to synthesize fixtures; it exercises ALL five filter types
  (default: row index mod 5), so a decoder bug in any unfilter path
  breaks the round-trip and the DuckDB-oracled pixel statistics.

Scale note: this is the per-item kernel that runs INSIDE the Arrow
``mapInPandas`` batches of ``multimodal.decode_png_meta`` — the
distribution story (binary columns, Arrow batching, partitioning) is
unchanged from the stubbed decoder it upgrades.  Sub/Up unfilters are
vectorized (cumsum / whole-row adds); Average/Paeth keep the spec's
sequential left dependency per row.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# color type -> samples per pixel (bit depth 8)
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(arr: np.ndarray, row_filters=None) -> bytes:
    """Encode an ``(h, w)`` or ``(h, w, channels)`` uint8 array as a
    PNG byte string.  ``row_filters`` maps row index -> filter type
    0-4 (default ``row % 5`` so every filter path is exercised)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] not in _COLOR_TYPE:
        raise ValueError(
            f"expected (h, w[, channels in 1/2/3/4]) uint8, got {arr.shape}"
        )
    h, w, c = a.shape
    if h < 1 or w < 1:
        raise ValueError(f"empty image {arr.shape}")
    bpp = c  # bytes per pixel at bit depth 8
    pick = row_filters if row_filters is not None else (lambda y: y % 5)
    raw = a.reshape(h, w * c).astype(np.int16)
    prior = np.zeros(w * c, dtype=np.int16)
    out = bytearray()
    for y in range(h):
        row = raw[y]
        f = int(pick(y)) if callable(pick) else int(pick[y])
        left = np.concatenate([np.zeros(bpp, dtype=np.int16), row[:-bpp]])
        if f == 0:
            filt = row
        elif f == 1:
            filt = row - left
        elif f == 2:
            filt = row - prior
        elif f == 3:
            filt = row - (left + prior) // 2
        elif f == 4:
            upleft = np.concatenate(
                [np.zeros(bpp, dtype=np.int16), prior[:-bpp]]
            )
            pred = np.fromiter(
                (
                    _paeth(int(left[i]), int(prior[i]), int(upleft[i]))
                    for i in range(w * c)
                ),
                dtype=np.int16,
                count=w * c,
            )
            filt = row - pred
        else:
            raise ValueError(f"filter type {f} out of range 0-4")
        out.append(f)
        out.extend((filt % 256).astype(np.uint8).tobytes())
        prior = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _COLOR_TYPE[c], 0, 0, 0)
    return (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(out)))
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """Decode a PNG byte string to an ``(h, w, channels)`` uint8 array
    (bit depth 8, color types 0/2/4/6, non-interlaced)."""
    b = bytes(data)
    if b[:8] != PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(b):
        (length,) = struct.unpack_from(">I", b, pos)
        tag = b[pos + 4 : pos + 8]
        data_start = pos + 8
        data_end = data_start + length
        if data_end + 4 > len(b):
            raise ValueError(f"truncated chunk {tag!r}")
        payload = b[data_start:data_end]
        (crc,) = struct.unpack_from(">I", b, data_end)
        if crc != zlib.crc32(tag + payload) & 0xFFFFFFFF:
            raise ValueError(f"CRC mismatch in chunk {tag!r}")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
        pos = data_end + 4
    if ihdr is None:
        raise ValueError("missing IHDR")
    w, h, depth, color_type, comp, filt_method, interlace = ihdr
    if depth != 8:
        raise ValueError(f"unsupported bit depth {depth} (only 8)")
    if color_type not in _CHANNELS:
        raise ValueError(
            f"unsupported color type {color_type} (0/2/4/6; no palette)"
        )
    if interlace != 0:
        raise ValueError("interlaced PNG not supported")
    if comp != 0 or filt_method != 0:
        raise ValueError("nonstandard compression/filter method")
    c = _CHANNELS[color_type]
    stride = w * c
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError(
            f"scanline payload is {len(raw)} bytes, expected {h * (stride + 1)}"
        )
    img = np.empty((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        off = y * (stride + 1)
        f = raw[off]
        filt = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=off + 1
        ).astype(np.int32)
        if f == 0:
            row = filt
        elif f == 1:  # Sub: per-channel prefix sum mod 256
            row = filt.copy()
            for r in range(c):
                row[r::c] = np.cumsum(row[r::c]) % 256
        elif f == 2:  # Up
            row = (filt + prior) % 256
        elif f == 3:  # Average (sequential left dependency)
            row = filt.copy()
            for i in range(stride):
                left = row[i - c] if i >= c else 0
                row[i] = (row[i] + (int(left) + int(prior[i])) // 2) % 256
        elif f == 4:  # Paeth (sequential left dependency)
            row = filt.copy()
            for i in range(stride):
                a = int(row[i - c]) if i >= c else 0
                up = int(prior[i])
                ul = int(prior[i - c]) if i >= c else 0
                row[i] = (row[i] + _paeth(a, up, ul)) % 256
        else:
            raise ValueError(f"invalid scanline filter type {f}")
        img[y] = row.astype(np.uint8)
        prior = row
    return img.reshape(h, w, c)
