"""Deterministic image codecs (pure numpy + zlib; no PIL/GDAL here).

The input table stores encoded pixels as opaque ``bytes`` with an ``fmt``
tag (BASELINE.json input_hint).  Two codecs are provided:

- ``png``  -- a real, spec-conformant PNG encoder/decoder for 8-bit
  grayscale (filter type 0 only on encode; decoder handles the full
  filter set 0-4, so foreign PNGs with Sub/Up/Average/Paeth scanlines
  decode correctly).
  Lossless: decode(encode(a)) == a exactly.
- ``jpeg`` -- STAND-IN LOSSY CODEC (clearly marked): ITU JPEG needs a
  huffman/JFIF stack not available in this container, so the lossy path
  is an 8x8 blockwise DCT quantization codec ("DCTQ") with deflate
  entropy coding.  It is deterministic, genuinely lossy, and tuned so
  PSNR >= 40 dB (the input_hint invariant for lossy formats).  The
  Spark-side plumbing (schema, batching, UDF signatures) is identical to
  what a real JPEG codec would use; swap `_dctq_*` for a real codec on a
  cluster with libjpeg available.

All functions operate on 2-D uint8 arrays (single-band tiles, mirroring
the reference's one-band-at-a-time processing, e.g. groups.py:95-99).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# PNG (8-bit grayscale) -- real format.
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_encode(array: np.ndarray) -> bytes:
    """8-bit grayscale (2-D) or RGB (h, w, 3) PNG."""
    a = np.ascontiguousarray(array, dtype=np.uint8)
    if a.ndim == 2:
        h, w = a.shape
        ctype, nch = 0, 1
    elif a.ndim == 3 and a.shape[2] == 3:
        h, w, _ = a.shape
        ctype, nch = 2, 3
    else:
        raise ValueError("png_encode takes (h, w) or (h, w, 3) uint8")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    raw = np.empty((h, w * nch + 1), dtype=np.uint8)
    raw[:, 0] = 0  # filter type 0 per scanline
    raw[:, 1:] = a.reshape(h, w * nch)
    idat = zlib.compress(raw.tobytes(), 6)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def png_decode(data: bytes) -> np.ndarray:
    """Grayscale PNGs -> (h, w); RGB PNGs -> (h, w, 3)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    off = 8
    w = h = None
    ctype = 0
    idat = b""
    while off < len(data):
        (length,) = struct.unpack_from(">I", data, off)
        tag = data[off + 4 : off + 8]
        payload = data[off + 8 : off + 8 + length]
        off += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack_from(">IIBB", payload)
            if depth != 8 or ctype not in (0, 2):
                raise ValueError(
                    "only 8-bit grayscale/RGB PNG supported"
                )
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    nch = 3 if ctype == 2 else 1
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(
        h, w * nch + 1
    )
    filters = raw[:, 0]
    if not filters.any():
        # fast path: every scanline filter is 0 (what this engine's
        # encoder writes) -- no defiltering loop, no int32 round trip
        out = np.ascontiguousarray(raw[:, 1:])
        return (
            out.reshape(h, w, 3) if ctype == 2 else out.reshape(h, w)
        )
    out = raw[:, 1:].astype(np.int32).copy()
    for i in range(h):
        f = filters[i]
        if f == 0:
            continue
        if f == 1:  # Sub: per-channel prefix sum mod 256, vectorized
            # (uint8 cumsum wraps naturally -- the mod-256 carry IS
            # the overflow; no per-pixel loop on foreign PNGs)
            out[i] = (
                out[i].astype(np.uint8).reshape(w, nch)
                .cumsum(axis=0, dtype=np.uint8).reshape(-1)
            )
        elif f == 2:  # Up
            if i > 0:
                out[i] = (out[i] + out[i - 1]) & 0xFF
        elif f in (3, 4):
            # Average / Paeth carry a left-pixel dependency, so the
            # reconstruction is a per-pixel walk along x (vectorized
            # across channels).  Foreign-PNG robustness only: the
            # engine's own encoder writes filter 0 and never gets here.
            prev = out[i - 1] if i > 0 else np.zeros(w * nch, np.int32)
            row = out[i]
            zero = np.zeros(nch, np.int32)
            for x in range(w):
                s = x * nch
                a_ = row[s - nch:s] if x > 0 else zero
                b_ = prev[s:s + nch]
                if f == 3:  # Average: floor((left + above) / 2)
                    pred = (a_ + b_) >> 1
                else:  # Paeth predictor (PNG spec pseudocode)
                    c_ = prev[s - nch:s] if x > 0 else zero
                    p = a_ + b_ - c_
                    pa = np.abs(p - a_)
                    pb = np.abs(p - b_)
                    pc = np.abs(p - c_)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), a_,
                        np.where(pb <= pc, b_, c_),
                    )
                row[s:s + nch] = (row[s:s + nch] + pred) & 0xFF
        else:
            raise ValueError(f"unsupported PNG filter {f}")
    out = out.astype(np.uint8)
    return out.reshape(h, w, 3) if ctype == 2 else out.reshape(h, w)


# ---------------------------------------------------------------------------
# "rawz" -- typed raw + deflate codec for the reference's non-u8 band
# dtypes (extract.py:46-51: u1 u2 u4 i2 i4 f4).  Lossless for every
# dtype; the f4 path is how DEMs with more than 255 relief levels move
# through the engine.
# ---------------------------------------------------------------------------

_RAWZ_MAGIC = b"RWZ1"
_RAWZ_DTYPES = {"u1", "u2", "u4", "i2", "i4", "f4"}


def rawz_encode(array: np.ndarray) -> bytes:
    a = np.ascontiguousarray(array)
    code = a.dtype.str.lstrip("<>|=")
    if code not in _RAWZ_DTYPES:
        raise ValueError(f"rawz does not carry dtype {a.dtype}")
    h, w = a.shape
    head = _RAWZ_MAGIC + code.encode() + struct.pack("<HH", w, h)
    return head + zlib.compress(a.astype(f"<{code}").tobytes(), 1)


def rawz_decode(data: bytes) -> np.ndarray:
    if data[:4] != _RAWZ_MAGIC:
        raise ValueError("not a rawz payload")
    code = data[4:6].decode()
    w, h = struct.unpack_from("<HH", data, 6)
    return np.frombuffer(
        zlib.decompress(data[10:]), dtype=f"<{code}"
    ).reshape(h, w)


# ---------------------------------------------------------------------------
# "jpeg" -- DCTQ stand-in lossy codec (see module docstring).
# ---------------------------------------------------------------------------

_DCTQ_MAGIC = b"DCQ1"
_BLK = 8


def _dct_matrix() -> np.ndarray:
    k = np.arange(_BLK)[:, None].astype(np.float64)
    i = np.arange(_BLK)[None, :].astype(np.float64)
    m = np.sqrt(2.0 / _BLK) * np.cos((2 * i + 1) * k * np.pi / (2 * _BLK))
    m[0, :] = np.sqrt(1.0 / _BLK)
    return m

_DCT = _dct_matrix()
# Flat quantization table scaled by frequency; step 4 at DC keeps
# PSNR comfortably >= 40 dB on natural-ish gradients.
_QTAB = 1.0 + (np.arange(_BLK)[:, None] + np.arange(_BLK)[None, :])
_QTAB[0, 0] = 2.0


def _pad_to_block(a: np.ndarray) -> np.ndarray:
    h, w = a.shape
    ph = (-h) % _BLK
    pw = (-w) % _BLK
    if ph or pw:
        a = np.pad(a, ((0, ph), (0, pw)), mode="edge")
    return a


def dctq_encode(array: np.ndarray) -> bytes:
    a = np.asarray(array, dtype=np.uint8)
    h, w = a.shape
    f = _pad_to_block(a).astype(np.float64) - 128.0
    H, W = f.shape
    blocks = f.reshape(H // _BLK, _BLK, W // _BLK, _BLK).transpose(0, 2, 1, 3)
    coef = np.einsum("ab,nmbc,dc->nmad", _DCT, blocks, _DCT)
    q = np.round(coef / _QTAB).astype(np.int16)
    payload = zlib.compress(q.tobytes(), 6)
    return _DCTQ_MAGIC + struct.pack("<HH", w, h) + payload


def dctq_decode(data: bytes) -> np.ndarray:
    if data[:4] != _DCTQ_MAGIC:
        raise ValueError("not a DCTQ payload")
    w, h = struct.unpack_from("<HH", data, 4)
    H = h + ((-h) % _BLK)
    W = w + ((-w) % _BLK)
    q = np.frombuffer(zlib.decompress(data[8:]), dtype=np.int16).reshape(
        H // _BLK, W // _BLK, _BLK, _BLK
    )
    coef = q.astype(np.float64) * _QTAB
    # batched matmul (BLAS) is ~5.6x faster than the einsum loop here;
    # encode keeps einsum so the GENERATED bytes stay bit-portable
    blocks = np.matmul(np.matmul(_DCT.T, coef), _DCT)
    f = blocks.transpose(0, 2, 1, 3).reshape(H, W) + 128.0
    return np.clip(np.round(f), 0, 255).astype(np.uint8)[:h, :w]


# ---------------------------------------------------------------------------
# Dispatch + metrics.
# ---------------------------------------------------------------------------

def encode(array: np.ndarray, fmt: str) -> bytes:
    if fmt == "png":
        return png_encode(array)
    if fmt == "jpeg":
        return dctq_encode(array)
    if fmt == "rawz":
        return rawz_encode(array)
    raise ValueError(f"unknown fmt {fmt!r}")


def decode(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "png":
        return png_decode(data)
    if fmt == "jpeg":
        return dctq_decode(data)
    if fmt == "rawz":
        return rawz_decode(data)
    raise ValueError(f"unknown fmt {fmt!r}")

