"""Minimal pure-Python PNG codec (stdlib ``zlib`` + ``struct`` + numpy).

Vendored so the REAL-codec decode path — parse → inflate → unfilter →
pixel stats — is exercisable in environments without Pillow (this
container).  When Pillow IS importable the registry prefers it
(``decode.available_decoders``); this module is the fallback, and the
two implementations cross-validate in tests wherever both exist.

Scope is deliberately the PNG subset a synthetic pipeline emits: bit
depth 8, color types 0/2/4/6 (gray, RGB, gray+alpha, RGBA), all five
scanline filters, non-interlaced.  Everything else raises
``NotImplementedError`` loudly (the codec-registry contract —
``decode.py`` module docstring).  Format reference: the public PNG
specification (RFC 2083 / W3C PNG, chapters 4-6); luma conversion uses
the ITU-R BT.601 fixed-point weights.

Performance note: ``Sub`` unfilters via a per-channel ``cumsum`` and
``Up``/``None`` are whole-row vectorized; ``Average``/``Paeth`` fall
back to a per-pixel loop — fine for the test/metadata scale this
fallback serves; a production cluster installs Pillow (C speed) and the
registry picks it automatically.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _chunk(typ: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + typ
        + body
        + struct.pack(">I", zlib.crc32(typ + body))
    )


def encode_png(arr: "np.ndarray") -> bytes:
    """Encode a uint8 array as PNG: 2-D → grayscale, (h,w,2) →
    gray+alpha, (h,w,3) → RGB, (h,w,4) → RGBA.  Filter 0 on every
    scanline, one zlib level-6 IDAT chunk — valid per spec, just not
    size-optimal."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        ctype = 0
    elif a.ndim == 3 and a.shape[2] in (2, 3, 4):
        ctype = {2: 4, 3: 2, 4: 6}[a.shape[2]]
    else:
        raise ValueError(f"unsupported array shape {a.shape}")
    h, w = a.shape[:2]
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(data: bytes) -> "np.ndarray":
    """Decode PNG bytes to a uint8 array: (h, w) for grayscale, else
    (h, w, channels).  Supports the subset documented in the module
    docstring; rejects the rest loudly."""
    if bytes(data[:8]) != _SIG:
        raise ValueError("not a PNG (bad signature)")
    ihdr = None
    idat: list[bytes] = []
    pos = 8
    while pos + 8 <= len(data):
        ln, typ = struct.unpack(">I4s", data[pos : pos + 8])
        body = data[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif typ == b"IDAT":
            idat.append(bytes(body))
        elif typ == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if depth != 8:
        raise NotImplementedError(f"bit depth {depth} (only 8 supported)")
    if interlace:
        raise NotImplementedError("interlaced PNG not supported")
    if ctype not in _CHANNELS:
        raise NotImplementedError(f"color type {ctype}")
    nch = _CHANNELS[ctype]
    stride = w * nch
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("IDAT length does not match dimensions")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    p = 0
    for y in range(h):
        f = raw[p]
        line = np.frombuffer(raw, np.uint8, stride, p + 1).astype(np.int32)
        p += stride + 1
        if f == 0:  # None
            cur = line
        elif f == 1:  # Sub: cumulative per channel
            cur = line.reshape(w, nch).cumsum(axis=0).reshape(stride) & 0xFF
        elif f == 2:  # Up
            cur = (line + prev) & 0xFF
        elif f == 3:  # Average
            cur = np.empty(stride, dtype=np.int32)
            for i in range(stride):
                a = cur[i - nch] if i >= nch else 0
                cur[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            cur = np.empty(stride, dtype=np.int32)
            for i in range(stride):
                a = cur[i - nch] if i >= nch else 0
                c = prev[i - nch] if i >= nch else 0
                cur[i] = (line[i] + _paeth(int(a), int(prev[i]), int(c))) & 0xFF
        else:
            raise ValueError(f"bad filter byte {f}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out.reshape(h, w) if nch == 1 else out.reshape(h, w, nch)


def to_gray(arr: "np.ndarray") -> "np.ndarray":
    """Collapse a decoded array to single-channel luma, uint8: the
    ITU-R BT.601 fixed-point formula ((R·19595 + G·38470 + B·7471 +
    2¹⁵) >> 16 — the same weights Pillow's ``convert("L")`` uses);
    alpha channels are ignored, grayscale passes through."""
    if arr.ndim == 2:
        return arr
    if arr.shape[2] == 2:  # gray + alpha
        return arr[:, :, 0]
    a = arr.astype(np.uint32)
    return (
        (a[:, :, 0] * 19595 + a[:, :, 1] * 38470 + a[:, :, 2] * 7471 + 0x8000)
        >> 16
    ).astype(np.uint8)


def bilinear_resize(arr: "np.ndarray", width: int, height: int) -> "np.ndarray":
    """Deterministic half-pixel-center bilinear resample of a uint8
    image (2-D or (h,w,c)) to ``height``×``width`` — the fallback for
    Pillow's BILINEAR (same convention; edge clamping, values rounded
    half-up to uint8)."""
    a = arr if arr.ndim == 3 else arr[:, :, None]
    h, w = a.shape[:2]
    ys = (np.arange(height) + 0.5) * (h / height) - 0.5
    xs = (np.arange(width) + 0.5) * (w / width) - 0.5
    y0 = np.clip(np.floor(ys).astype(np.int64), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(np.int64), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    fy = np.clip(ys - y0, 0.0, 1.0)[:, None, None]
    fx = np.clip(xs - x0, 0.0, 1.0)[None, :, None]
    af = a.astype(np.float64)
    top = af[y0][:, x0] * (1 - fx) + af[y0][:, x1] * fx
    bot = af[y1][:, x0] * (1 - fx) + af[y1][:, x1] * fx
    out = top * (1 - fy) + bot * fy
    out = np.floor(out + 0.5).clip(0, 255).astype(np.uint8)
    return out[:, :, 0] if arr.ndim == 2 else out
