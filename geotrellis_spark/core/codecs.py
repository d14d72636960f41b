"""Tile payload codecs — from-scratch numpy + zlib (no PIL available).

The engine stores image/tile pixels as a ``bytes:binary`` column with a
``fmt`` discriminator (input_hint schema). Three codecs:

- ``raw16``: numpy uint16 row-major ``tobytes`` (w*h*2 bytes).
- ``png``:   minimal PNG, grayscale 8/16-bit, written with filter 0;
  the decoder handles all five standard filters (None/Sub/Up/Average/
  Paeth) so any valid grayscale PNG round-trips.
- ``dct``:   LOSSY JPEG-style 8x8 DCT + quantization + zlib (below),
  with a bit-exact NoData mask plane; decoded pixels meet the
  north-rule PSNR >= 40 dB invariant at the default quality.

Reference role: GeoTrellis's GeoTiff reader/writer + render/png
(``raster/.../io/geotiff/``, ``raster/.../render/png/`` — upstream 3.x
layout, SURVEY.md §0). GeoTiff itself is intentionally NOT ported: in a
table-native engine the windowed-read job is done by Parquet row-group
pruning (SURVEY.md §2.S1).

raw16/png are lossless (PSNR = inf); dct is the lossy path the
north-rule PSNR>=40dB decoded-pixel invariant is written for.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

__all__ = [
    "encode_tile",
    "decode_tile",
    "png_encode_gray",
    "png_decode_gray",
    "png_encode_rgba",
    "png_decode_rgba",
]

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# zlib level of the PNG encoders' IDAT stream
PNG_ZLIB_LEVEL = 6


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def png_encode_gray(arr: np.ndarray) -> bytes:
    """Encode a 2-D uint8/uint16 array as grayscale PNG (filter 0)."""
    arr = np.asarray(arr)
    if arr.ndim != 2:
        raise ValueError("png_encode_gray expects a 2-D array")
    if arr.dtype == np.uint8:
        depth, payload = 8, arr
    elif arr.dtype == np.uint16:
        depth, payload = 16, arr.astype(">u2")
    else:
        raise ValueError(f"unsupported dtype {arr.dtype} (uint8|uint16)")
    h, w = arr.shape
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 0)  # color type 0 = gray
    raw = payload.tobytes()
    bpr = w * (depth // 8)
    scanlines = b"".join(
        b"\x00" + raw[r * bpr : (r + 1) * bpr] for r in range(h)
    )
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(scanlines, PNG_ZLIB_LEVEL))
        + _chunk(b"IEND", b"")
    )


def png_encode_rgba(arr: np.ndarray) -> bytes:
    """Encode an (h, w, 4) uint8 array as 8-bit RGBA PNG (color type 6,
    filter 0) — the render sink's output format (renderPng role)."""
    arr = np.asarray(arr)
    if arr.ndim != 3 or arr.shape[2] != 4 or arr.dtype != np.uint8:
        raise ValueError("png_encode_rgba expects (h, w, 4) uint8")
    h, w = arr.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)  # type 6 = RGBA
    raw = np.ascontiguousarray(arr).tobytes()
    bpr = w * 4
    scanlines = b"".join(
        b"\x00" + raw[r * bpr : (r + 1) * bpr] for r in range(h)
    )
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(scanlines, PNG_ZLIB_LEVEL))
        + _chunk(b"IEND", b"")
    )


def png_decode_rgba(data: bytes) -> np.ndarray:
    """Decode an 8-bit RGBA PNG (any standard filter) to (h, w, 4)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    idat = []
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, color, _c, _f, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if color != 6 or depth != 8 or interlace != 0:
                raise ValueError(
                    "only non-interlaced 8-bit RGBA PNG supported here"
                )
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    raw = zlib.decompress(b"".join(idat))
    rows = _unfilter(raw, h, w, 4)  # 4 bytes/pixel
    return rows.reshape(h, w, 4)


def _unfilter(data: bytes, h: int, w: int, bpp: int) -> np.ndarray:
    bpr = w * bpp
    out = np.zeros((h, bpr), dtype=np.uint8)
    pos = 0
    prev = np.zeros(bpr, dtype=np.uint8)
    for r in range(h):
        f = data[pos]
        pos += 1
        line = np.frombuffer(data, dtype=np.uint8, count=bpr, offset=pos).copy()
        pos += bpr
        if f == 1:  # Sub
            for i in range(bpp, bpr):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif f == 2:  # Up
            line = (line.astype(np.int32) + prev).astype(np.uint8)
        elif f == 3:  # Average
            for i in range(bpr):
                left = int(line[i - bpp]) if i >= bpp else 0
                line[i] = (line[i] + ((left + int(prev[i])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(bpr):
                a = int(line[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(out[r - 1, i - bpp]) if (i >= bpp and r > 0) else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif f != 0:
            raise ValueError(f"bad PNG filter {f}")
        out[r] = line
        prev = out[r]
    return out


def png_decode_gray(data: bytes) -> np.ndarray:
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = depth = None
    idat = []
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if color != 0 or interlace != 0:
                raise ValueError("only non-interlaced grayscale PNG supported")
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    raw = zlib.decompress(b"".join(idat))
    bpp = depth // 8
    rows = _unfilter(raw, h, w, bpp)
    if depth == 8:
        return rows.reshape(h, w)
    return rows.reshape(h, w * 2).view(">u2").astype(np.uint16).reshape(h, w)


def encode_tile(arr: np.ndarray, fmt: str) -> bytes:
    """Encode a 2-D uint16 pixel array per the table's fmt column."""
    if fmt == "raw16":
        return np.ascontiguousarray(arr, dtype="<u2").tobytes()
    if fmt == "png":
        return png_encode_gray(np.asarray(arr, dtype=np.uint16))
    if fmt == "dct":
        return dct_encode_gray(np.asarray(arr, dtype=np.uint16))
    raise ValueError(f"unsupported fmt {fmt!r}")


def decode_tile(data: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """Decode a payload to a (h, w) uint16 array."""
    if fmt == "raw16":
        return np.frombuffer(data, dtype="<u2").astype(np.uint16).reshape(h, w)
    if fmt == "png":
        arr = png_decode_gray(data)
        if arr.shape != (h, w):
            raise ValueError(f"PNG dims {arr.shape} != metadata {(h, w)}")
        return arr.astype(np.uint16)
    if fmt == "dct":
        arr = dct_decode_gray(data)
        if arr.shape != (h, w):
            raise ValueError(f"DCT dims {arr.shape} != metadata {(h, w)}")
        return arr
    raise ValueError(f"unsupported fmt {fmt!r}")


# ------------------------------------------------------------- lossy DCT
# A real lossy codec, from scratch in numpy (the sandbox has no PIL/
# libjpeg — and none is needed for the math): JPEG-style 8x8 type-II
# orthonormal DCT + luminance-table quantization + zlib entropy stage,
# extended to uint16 samples and NoData. The north-rule per-row
# invariant for lossy formats is decoded-pixel PSNR >= 40 dB; the
# default quality (95) clears it on the noisiest synthetic imagery
# (measured worst 42.4 dB over 20 images at ~0.42x raw size;
# quantization error is uniform within +-step/2, RMSE ~ step/sqrt(12)).
#
# NoData (value 0 in the engine's uint16ud0 cells) cannot survive
# lossy math — a +-1 error would invent data — so the NoData MASK is
# stored losslessly (1 bit/px, zlib) and re-applied bit-exact on
# decode; masked pixels are filled with the tile's valid-mean before
# the transform to minimize ringing at mask edges.

_DCT_MAGIC = b"DCT1"

# ITU-T T.81 Annex K.1 luminance quantization table (public spec).
_QTABLE = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.float64,
)


def _dct_basis() -> np.ndarray:
    k = np.arange(8)[:, None]
    n = np.arange(8)[None, :]
    m = np.cos((2 * n + 1) * k * np.pi / 16) * np.sqrt(2.0 / 8.0)
    m[0, :] = np.sqrt(1.0 / 8.0)
    return m


_DCT_M = _dct_basis()


def _qscale(quality: int) -> float:
    """Annex-K quality -> scale factor (shared by the dct tile codec
    and core/jpeg.py so the formula cannot drift)."""
    if not 1 <= quality <= 100:
        raise ValueError("quality in 1..100")
    return 5000.0 / quality if quality < 50 else 200.0 - 2.0 * quality


def _quant_steps(quality: int) -> np.ndarray:
    # x257: the table is specified for 8-bit samples; our samples are
    # uint16 (peak 65535 = 255*257), so steps scale with the range
    steps = np.floor((_QTABLE * _qscale(quality) + 50.0) / 100.0) * 257.0
    return np.maximum(steps, 1.0)


def dct2_blocks(f: np.ndarray) -> np.ndarray:
    """(H,W) image (H,W multiples of 8) -> (H/8, W/8, 8, 8) DCT-II
    coefficient blocks. Shared by the dct tile codec and core/jpeg.py."""
    H, W = f.shape
    blocks = f.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3)
    return np.einsum("ij,bcjk,lk->bcil", _DCT_M, blocks, _DCT_M)


def idct2_blocks(coefs: np.ndarray) -> np.ndarray:
    """Inverse of :func:`dct2_blocks` -> (H, W) image."""
    blocks = np.einsum("ji,bcjk,kl->bcil", _DCT_M, coefs, _DCT_M)
    nby, nbx = coefs.shape[:2]
    return blocks.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)


def dct_encode_gray(
    arr: np.ndarray, quality: int = 95, nodata: int | None = 0
) -> bytes:
    """Lossy-encode a 2-D uint16 array. NoData pixels (== ``nodata``)
    are restored bit-exact on decode via a lossless mask plane."""
    a = np.asarray(arr)
    if a.ndim != 2:
        raise ValueError("dct_encode_gray expects a 2-D array")
    h, w = a.shape
    f = a.astype(np.float64)
    if nodata is None:
        mask = np.zeros((h, w), dtype=bool)
    else:
        mask = a == nodata
    if mask.any() and not mask.all():
        f[mask] = f[~mask].mean()
    ph, pw = (-h) % 8, (-w) % 8
    f = np.pad(f, ((0, ph), (0, pw)), mode="edge")
    coefs = dct2_blocks(f)
    steps = _quant_steps(quality)
    q = np.round(coefs / steps).astype(np.int32)
    mask_z = zlib.compress(np.packbits(mask).tobytes(), 6)
    coef_z = zlib.compress(q.astype("<i4").tobytes(), 6)
    return (
        _DCT_MAGIC
        + struct.pack("<HHBI", w, h, quality, len(mask_z))
        + mask_z
        + coef_z
    )


def dct_decode_gray(data: bytes, nodata: int | None = 0) -> np.ndarray:
    if data[:4] != _DCT_MAGIC:
        raise ValueError("not a DCT1 payload")
    w, h, quality, mask_len = struct.unpack("<HHBI", data[4:13])
    off = 13
    mask = np.unpackbits(
        np.frombuffer(zlib.decompress(data[off : off + mask_len]), np.uint8),
        count=h * w,
    ).astype(bool).reshape(h, w)
    q = np.frombuffer(zlib.decompress(data[off + mask_len :]), "<i4")
    H, W = h + ((-h) % 8), w + ((-w) % 8)
    q = q.astype(np.float64).reshape(H // 8, W // 8, 8, 8)
    f = idct2_blocks(q * _quant_steps(quality))[:h, :w]
    out = np.clip(np.round(f), 0, 65535).astype(np.uint16)
    if nodata is not None:
        out[mask] = nodata
        # never invent NoData: nudge colliding valid pixels by one step
        # INTO the uint16 range (nodata=65535 must nudge down, not wrap)
        nudge = nodata - 1 if nodata == 65535 else nodata + 1
        out[~mask & (out == nodata)] = np.uint16(nudge)
    return out
