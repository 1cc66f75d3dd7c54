"""From-scratch PNG decoder (stdlib zlib only) — the counterpart of the
minimal encoder in ``render.py:encode_png``.

Closes the round-1 gap where the mostly-white/black and perceptual operators
(F5/F6/D3 — ``pdfplumber/pdf_image_extractor_improved.py:77-124``) had only
ever seen fabricated pixels: ``images.decode_image_status`` decodes any PNG
payload (signature-sniffed), so those filters run on actual rendered-page
rasters. PIL is absent in this container; this implements the subset a
correct PNG reader needs for real-corpus files:

- chunk walk with length/CRC framing (CRC not verified — content is local),
- IHDR: color types 0 (gray, depths 1/2/4/8/16), 2 (RGB, 8/16), 3 (palette,
  depths 1/2/4/8, PLTE chunk), 4 (gray+alpha, 8/16), 6 (RGBA, 8/16) —
  16-bit samples are big-endian pairs, rescaled to 8-bit,
- interlace 0 (sequential) AND 1 (Adam7: seven sub-images decoded from the
  one zlib stream, each with its own per-pass scanline filtering and packed
  row padding, scattered onto the full grid — spec §8.2),
- concatenated IDAT zlib stream,
- all five scanline filters (None/Sub/Up/Average/Paeth, PNG spec §9).

``PngError.status`` classifies failures for the corpus decode-coverage
metric: "corrupt" (malformed / truncated, or IDAT inflating past the size
IHDR implies), "too_large" (IHDR over ``limits.MAX_PIXELS``, refused before
any allocation) vs "unsupported_format" (an
IHDR depth/color-type combination outside the decoder's table — with
16-bit support every spec-legal combination is now readable, so this
status survives mainly for out-of-spec combinations and parity with the
JPEG taxonomy).

Filter performance: None/Up/Sub are fully vectorized (Sub is a per-filter-
unit cumsum — the filter's left-neighbor recurrence is exactly a prefix sum
mod 256). Average/Paeth reference BOTH the left and up neighbors, a true
2-D recurrence with a data-dependent predictor — those remain a per-byte
Python loop, so an externally produced PNG that uses filters 3/4 on large
scanlines (e.g. a 1224x1584 scan) costs w*ch interpreter iterations per such
line. Our own encoder emits only filter 0; decode cost for foreign files is
dominated by how often their encoder chose 3/4.

Output is always HxWx3 uint8 (gray scaled to 8-bit, palette mapped through
PLTE, alpha dropped) — the shape the pixel filters consume.
"""
from __future__ import annotations

import struct
import zlib

import numpy as np

from .limits import MAX_PIXELS, inflate

__all__ = ["is_png", "decode_png", "PngError"]

_SIG = b"\x89PNG\r\n\x1a\n"


class PngError(ValueError):
    def __init__(self, msg: str, status: str = "corrupt"):
        super().__init__(msg)
        self.status = status


def is_png(data: bytes) -> bool:
    return data[:8] == _SIG


# samples per pixel by color type (palette is 1 index sample per pixel)
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# Adam7 pass geometry: (x_start, y_start, x_step, y_step), spec §8.2
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]
# depths allowed per color type (PNG spec §11.2.2; palette is never 16-bit)
_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8), 4: (8, 16), 6: (8, 16)}


def _unfilter(raw: bytes, h: int, row_bytes: int, fu: int) -> np.ndarray:
    """Undo per-scanline filtering; returns (h, row_bytes) uint8.

    ``fu`` is the filter unit in bytes (bpp the spec calls it): the distance
    to the "left" reference byte — max(1, channels*depth//8).
    """
    if len(raw) < h * (row_bytes + 1):
        raise PngError("truncated pixel data")
    out = np.zeros((h, row_bytes), dtype=np.uint8)
    pos = 0
    prev = np.zeros(row_bytes, dtype=np.int64)
    for r in range(h):
        ftype = raw[pos]
        pos += 1
        line = np.frombuffer(raw, dtype=np.uint8, count=row_bytes, offset=pos).astype(
            np.int64
        )
        pos += row_bytes
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype == 1 and row_bytes % fu == 0:
            # Sub: cur[i] = line[i] + cur[i-fu] — a per-unit prefix sum;
            # mod 256 commutes with addition so one cumsum then mask is
            # exact (vectorized: the old per-byte loop cost w*ch python
            # iterations per line)
            cur = (
                np.cumsum(line.reshape(-1, fu), axis=0, dtype=np.int64) & 0xFF
            ).reshape(-1)
        elif ftype in (1, 3, 4):
            # Average/Paeth (and Sub on a ragged row): the predictor mixes
            # left and up neighbors — a sequential 2-D recurrence; see
            # module docstring for the cost note
            cur = np.empty(row_bytes, dtype=np.int64)
            for i in range(row_bytes):
                a = cur[i - fu] if i >= fu else 0  # left
                b = prev[i]  # up
                if ftype == 1:
                    cur[i] = (line[i] + a) & 0xFF
                elif ftype == 3:
                    cur[i] = (line[i] + ((a + b) >> 1)) & 0xFF
                else:  # Paeth
                    c = prev[i - fu] if i >= fu else 0  # upper-left
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    if pa <= pb and pa <= pc:
                        pred = a
                    elif pb <= pc:
                        pred = b
                    else:
                        pred = c
                    cur[i] = (line[i] + pred) & 0xFF
        else:
            raise PngError(f"unknown filter {ftype}")
        out[r] = cur.astype(np.uint8)
        prev = cur
    return out


def _unpack_samples(rows: np.ndarray, depth: int, n_samples: int) -> np.ndarray:
    """(h, row_bytes) packed rows -> (h, n_samples) sample values.

    Samples are packed MSB-first within each byte (PNG spec §7.2); trailing
    pad bits in the last byte of a row are discarded.
    """
    if depth == 8:
        return rows[:, :n_samples].astype(np.int64)
    if depth == 16:  # big-endian 2-byte samples (network order, spec §7.1)
        hi = rows[:, 0::2].astype(np.int64)
        lo = rows[:, 1::2].astype(np.int64)
        return ((hi << 8) | lo)[:, :n_samples]
    bits = np.unpackbits(rows, axis=1)  # MSB-first, matching the spec
    fields = bits.reshape(rows.shape[0], -1, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.int64)
    return (fields * weights).sum(axis=2)[:, :n_samples]


def decode_png(data: bytes) -> np.ndarray:
    """Decode a PNG byte string to an HxWx3 uint8 RGB array."""
    if not is_png(data):
        raise PngError("not a png")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + tag + payload + crc
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            plte = body
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if ihdr is None:
        raise PngError("missing IHDR")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if ctype not in _CHANNELS or depth not in _DEPTHS.get(ctype, ()):
        raise PngError(
            f"unsupported format (depth={depth} ctype={ctype})",
            status="unsupported_format",
        )
    if comp != 0 or filt != 0 or interlace not in (0, 1):
        raise PngError(f"bad IHDR method fields (comp={comp} filt={filt} il={interlace})")
    if w == 0 or h == 0:
        raise PngError("empty image")
    if w * h > MAX_PIXELS:
        raise PngError(f"{w}x{h} exceeds the pixel budget", status="too_large")
    ch = _CHANNELS[ctype]
    fu = max(1, (ch * depth) // 8)
    passes = []  # (x0, y0, x_step, y_step, width, height, row bytes)
    for x0, y0, xs, ys in [(0, 0, 1, 1)] if interlace == 0 else _ADAM7:
        pw = (w - x0 + xs - 1) // xs
        ph = (h - y0 + ys - 1) // ys
        if pw > 0 and ph > 0:  # Adam7 passes are absent for small images (§8.2)
            passes.append((x0, y0, xs, ys, pw, ph, (pw * ch * depth + 7) // 8))
    try:  # IHDR fixes the filtered size exactly; more data is corruption
        raw = inflate(bytes(idat), sum(ph * (rb + 1) for *_, ph, rb in passes))
    except zlib.error as e:
        raise PngError(f"bad idat: {e}") from e
    grid = np.zeros((h, w, ch), dtype=np.int64)
    pos = 0
    for x0, y0, xs, ys, pw, ph, rb in passes:
        need = ph * (rb + 1)
        rows = _unfilter(raw[pos : pos + need], ph, rb, fu)
        pos += need
        grid[y0::ys, x0::xs, :] = _unpack_samples(rows, depth, pw * ch).reshape(
            ph, pw, ch
        )

    if ctype == 3:
        if plte is None or len(plte) % 3 != 0 or len(plte) == 0:
            raise PngError("palette image without a valid PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = grid[:, :, 0]
        if int(idx.max()) >= pal.shape[0]:
            raise PngError("palette index out of range")
        return pal[idx]

    if depth != 8:  # sub-byte or 16-bit: scale to 8-bit (spec §12.5; the
        # floor form is the same linear map used for sub-byte depths — for
        # 16-bit it differs from the >>8 shortcut by at most 1 LSB and is
        # the documented deterministic choice)
        grid = grid * 255 // ((1 << depth) - 1)
    px = grid.astype(np.uint8)
    if ctype == 2:
        return px
    if ctype == 6:
        return px[:, :, :3].copy()
    if ctype == 0:
        return np.repeat(px, 3, axis=2)
    return np.repeat(px[:, :, :1], 3, axis=2)  # gray+alpha
