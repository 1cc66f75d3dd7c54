"""From-scratch baseline JPEG codec (stdlib + numpy) — the DCT counterpart
of ``png.py``, closing VERDICT r02 gap #1: embedded PDF images are
predominantly /DCTDecode and previously always fell back to fabricated
pixels (``pdfplumber/pdf_image_extractor_improved.py:77-124`` runs its pixel
filters on PIL-decoded images of any format).

Decoder (``decode_jpeg``) — baseline (SOF0/1) AND progressive (SOF2) reader:
- marker walk: DQT (8-bit tables), DHT (canonical bits/huffval), SOF,
  SOS, DRI + RSTn restart handling, EOI; APPn/COM skipped,
- every scan accumulates into persistent per-component coefficient stores
  (one reconstruction at EOI), which uniformly covers interleaved baseline,
  NON-INTERLEAVED multi-scan baseline, and the full progressive feature set
  of T.81 Annex G: spectral selection (band scans with EOB runs) and
  successive approximation (DC/AC first + refinement passes with
  correction bits),
- arbitrary per-component sampling factors in {1, 2} (covers 4:4:4, 4:2:2,
  4:2:0 — what libjpeg-encoded corpus files actually use), nearest-neighbor
  chroma upsampling,
- entropy-coded segment with 0xFF00 byte-unstuffing, per-component DC
  prediction, vectorized (einsum) 8x8 IDCT, JFIF YCbCr->RGB,
- 4-component CMYK/YCCK frames via the Adobe APP14 transform byte
  (Photoshop-inverted ink with the marker, plain ink without — the
  libjpeg/PIL conventions; multiplicative CMYK->RGB composition),
- raises ``JpegError`` on arithmetic / hierarchical / lossless / 12-bit /
  >2 sampling files, so callers fall back VISIBLY (decode_ok=False).

Encoders — deterministic writers used by the render-media pipeline and the
test vectors, all three one call to ONE scan writer (``_write_jpeg``) with
a scan script: ``encode_jpeg`` (baseline: the one scan that holds every
band), ``encode_jpeg_progressive`` (SOF2, arbitrary scan script; defaults
to the libjpeg-style 10-scan progression), and ``encode_jpeg_cmyk``
(4-component Adobe baseline, transform 0 or 2 — the decoder's CMYK
test-vector source). All quantize identically, so decoding a baseline and
a progressive encoding of one image yields byte-identical pixels — the
codec tests pin this. 4:4:4 or 4:2:0, the Annex-K example quantization
tables, and SELF-DEFINED flat canonical Huffman tables (all DC symbols at
4 bits, all AC symbols at 8 bits — valid per the spec, carried in DHT, and
never emitting the all-ones code). Any conformant decoder reads the
output; table choice only costs compression.

Everything is integer/float64-deterministic: no RNG, no platform-dependent
fast paths.
"""
from __future__ import annotations

import struct

import numpy as np

from .limits import MAX_PIXELS

__all__ = ["is_jpeg", "decode_jpeg", "encode_jpeg", "encode_jpeg_progressive", "JpegError"]


class JpegError(ValueError):
    """``status`` classifies failures for the corpus decode-coverage metric:
    "corrupt" (malformed/truncated stream), "too_large" (a frame over
    ``limits.MAX_PIXELS``, refused before any allocation) or
    "unsupported_format" (spec-legal files outside this decoder:
    hierarchical/lossless/arithmetic SOFs, 12/16-bit precision, sampling
    factors > 2)."""

    def __init__(self, msg: str, status: str = "corrupt"):
        super().__init__(msg)
        self.status = status


def is_jpeg(data: bytes) -> bool:
    return data[:2] == b"\xff\xd8"


# ------------------------------------------------------------- DCT basis ---

_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
)


def _dct_matrix() -> np.ndarray:
    m = np.zeros((8, 8))
    for u in range(8):
        c = np.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            m[u, x] = c * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return m


_DCTM = _dct_matrix()

# Annex K.1/K.2 example quantization tables (row-major)
_QT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_QT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)


# --------------------------------------------------------- huffman tables ---

def _flat_table(length: int, symbols) -> tuple[bytes, dict[int, tuple[int, int]]]:
    """DHT body (code-length counts + symbols) and symbol -> (code, length)
    map of a canonical table that codes every symbol in ``length`` bits —
    with a single code length, canonical assignment gives each symbol its
    rank as its code."""
    vals = sorted(symbols)
    bits = [0] * 16
    bits[length - 1] = len(vals)
    return bytes(bits + vals), {s: (i, length) for i, s in enumerate(vals)}


# encoder tables: flat canonical layouts (see module docstring); progressive
# scans additionally need the EOBn symbols (r<<4, r=1..14), which a baseline
# file's table leaves out
_AC_SYMBOLS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
_DHT_DC, _ENC_DC = _flat_table(4, range(12))
_DHT_AC, _ENC_AC = _flat_table(8, _AC_SYMBOLS)
_DHT_ACP, _ENC_ACP = _flat_table(8, _AC_SYMBOLS + [r << 4 for r in range(1, 15)])


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)
        # keep the accumulator bounded to its live bits (see _BitReader.take)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """(size, amplitude bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


# ---------------------------------------------------------------- encoder ---

def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=0)


def _blocks_of(plane: np.ndarray) -> np.ndarray:
    """(H, W) -> (n_blocks_v, n_blocks_h, 8, 8), edge-padded by replication."""
    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    p = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    bv, bh = p.shape[0] // 8, p.shape[1] // 8
    return p.reshape(bv, 8, bh, 8).transpose(0, 2, 1, 3)


def _encode_plane_blocks(blocks: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """DCT + quantize: (..., 8, 8) -> int zigzag coefficients (..., 64)."""
    shifted = blocks.astype(np.float64) - 128.0
    coef = np.einsum("ux,...xy,vy->...uv", _DCTM, shifted, _DCTM)
    q = qt.reshape(8, 8).astype(np.float64)
    quant = np.round(coef / q).astype(np.int64)
    return quant.reshape(*quant.shape[:-2], 64)[..., _ZIGZAG]


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _ycc_planes(rgb: np.ndarray, subsample: bool) -> tuple[list, list]:
    """(Y, Cb, Cr planes, per-component (h, v) sampling) of an HxWx3 array;
    ``subsample`` averages each 2x2 of chroma (4:2:0), else 4:4:4."""
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise JpegError("expected HxWx3")
    h, w = rgb.shape[:2]
    if h == 0 or w == 0:
        raise JpegError("empty image")
    ycc = _rgb_to_ycbcr(rgb)
    if not subsample:
        return [ycc[0], ycc[1], ycc[2]], [(1, 1), (1, 1), (1, 1)]
    cc = np.pad(ycc[1:], ((0, 0), (0, -h % 2), (0, -w % 2)), mode="edge")
    cc = cc.reshape(2, cc.shape[1] // 2, 2, cc.shape[2] // 2, 2).mean(axis=(2, 4))
    return [ycc[0], cc[0], cc[1]], [(2, 2), (1, 1), (1, 1)]


class _ScanWriter:
    """Per-scan entropy writer over one AC table, with EOB-run and
    buffered-correction-bit state (the encode_mcu_AC_* shape from T.81
    Annex G). A baseline scan flushes the EOB run after every block."""

    def __init__(self, table: dict[int, tuple[int, int]]):
        self.bw = _BitWriter()
        self.table = table
        self.eob_run = 0
        self.pending = []  # correction bits buffered behind the EOB run

    def flush_eobrun(self) -> None:
        if self.eob_run > 0:
            r = self.eob_run.bit_length() - 1
            code, ln = self.table[r << 4]  # EOBr; r = 0 is the plain EOB
            self.bw.write((code << r) | (self.eob_run - (1 << r)), ln + r)
            self.eob_run = 0
        for b in self.pending:
            self.bw.write(b, 1)
        self.pending = []

    def end_block_with_eob(self, correction_bits: list[int]) -> None:
        self.eob_run += 1
        self.pending.extend(correction_bits)
        if self.eob_run == 0x7FFF:
            self.flush_eobrun()

    def finish(self) -> bytes:
        self.flush_eobrun()
        return self.bw.flush()


def _encode_ac_first(sw: _ScanWriter, pos: list[int], vals: list[int], last: int) -> None:
    """First-pass AC coding of one block: ``pos``/``vals`` are the band
    offsets and point-transformed values of its nonzero coefficients,
    ``last`` the band's last offset. A baseline block is the band 1..63 at
    Al=0, whose EOB is an EOB run of one."""
    if pos:
        sw.flush_eobrun()
        table, write = sw.table, sw.bw.write
        prev = -1
        for k, v in zip(pos, vals):
            run = k - prev - 1
            while run >= 16:
                write(*table[0xF0])
                run -= 16
            size, bits = _magnitude(v)
            code, ln = table[(run << 4) | size]
            write((code << size) | bits, ln + size)
            prev = k
        if prev == last:
            return
    sw.end_block_with_eob([])


def _encode_ac_refine(sw: _ScanWriter, pos: list[int], vals: list[int], last: int) -> None:
    """Refinement AC coding of one block (same inputs as the first pass): a
    coefficient at 1 is newly significant and coded with its sign, a larger
    one carries one buffered correction bit."""
    eob = max((k for k, v in zip(pos, vals) if abs(v) == 1), default=-1)
    table, write = sw.table, sw.bw.write
    run, prev = 0, -1
    buffered: list[int] = []
    for k, v in zip(pos, vals):
        run += k - prev - 1
        prev = k
        while run > 15 and k <= eob:
            sw.flush_eobrun()
            write(*table[0xF0])
            run -= 16
            for b in buffered:
                write(b, 1)
            buffered = []
        a = abs(v)
        if a > 1:  # history nonzero: one correction bit, run unaffected
            buffered.append(a & 1)
            continue
        sw.flush_eobrun()
        code, ln = table[(run << 4) | 1]
        write((code << 1) | (v > 0), ln + 1)
        for b in buffered:
            write(b, 1)
        buffered = []
        run = 0
    if run + last - prev > 0 or buffered:
        sw.end_block_with_eob(buffered)


def _scan_blocks(
    coefs: list[np.ndarray], sampling: list[tuple[int, int]], comp_ids, h: int, w: int,
) -> tuple[np.ndarray, np.ndarray]:
    """(blocks x 64 coefficients, each block's component) of one scan, in
    the order it codes them — the decoder's walk (T.81 A.2): a
    one-component scan covers that component's own block grid, a
    multi-component scan the MCU grid with each component's h x v blocks per
    MCU. Grid cells past a plane's last block repeat that block's row or
    column."""
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    one = len(comp_ids) == 1
    sh, sv = sampling[comp_ids[0]] if one else (1, 1)
    units_y, units_x = -(-h * sv // (8 * vmax)), -(-w * sh // (8 * hmax))
    per_unit = [(1, 1)] if one else [sampling[ci] for ci in comp_ids]
    parts = []
    for ci, (sh, sv) in zip(comp_ids, per_unit):
        c = coefs[ci]
        r = np.minimum(np.arange(units_y * sv), c.shape[0] - 1)
        q = np.minimum(np.arange(units_x * sh), c.shape[1] - 1)
        grid = c[r.reshape(units_y, 1, sv, 1), q.reshape(1, units_x, 1, sh)]
        parts.append(grid.reshape(units_y, units_x, sv * sh, 64))
    comps = np.repeat(comp_ids, [sh * sv for sh, sv in per_unit])
    return np.concatenate(parts, axis=2).reshape(-1, 64), np.tile(comps, units_y * units_x)


def _write_jpeg(
    planes: list[np.ndarray], sampling: list[tuple[int, int]], qids: list[int],
    app_segment: bytes, script: list[tuple],
) -> bytes:
    """The one JPEG writer: ``planes`` — the first at full resolution — with
    quant table ``qids[i]`` (0 luma, 1 chroma) and ``sampling[i]`` = (h, v)
    per component, after ``app_segment``, as the scans of ``script``, each
    (component indices, Ss, Se, Ah, Al).

    Only a baseline scan has Ss=0 and Se>0: a script with one is written as
    a baseline (SOF0) file, each block's AC band coded right after its DC
    and its EOB run ended before the next block. Every other script is a
    progressive (SOF2) file."""
    h, w = planes[0].shape
    qt = (_QT_LUMA, _QT_CHROMA)
    coefs = [_encode_plane_blocks(_blocks_of(p), qt[q]) for p, q in zip(planes, qids)]
    baseline = any(ss == 0 < se for _, ss, se, _, _ in script)
    ac_table = _ENC_AC if baseline else _ENC_ACP

    out = bytearray(b"\xff\xd8") + app_segment
    out += _seg(0xDB, bytes([0x00]) + bytes(int(x) for x in _QT_LUMA[_ZIGZAG]))
    out += _seg(0xDB, bytes([0x01]) + bytes(int(x) for x in _QT_CHROMA[_ZIGZAG]))
    sof = struct.pack(">BHHB", 8, h, w, len(planes))
    for i, ((sh, sv), qid) in enumerate(zip(sampling, qids), start=1):
        sof += bytes([i, (sh << 4) | sv, qid])
    out += _seg(0xC0 if baseline else 0xC2, sof)
    out += _seg(0xC4, b"\x00" + _DHT_DC)
    out += _seg(0xC4, b"\x10" + (_DHT_AC if baseline else _DHT_ACP))

    for comp_ids, ss, se, ah, al in script:
        blocks, comps = _scan_blocks(coefs, sampling, comp_ids, h, w)
        sw = _ScanWriter(ac_table)
        write = sw.bw.write
        if ss == 0:
            dc = blocks[:, 0] >> al  # arithmetic shift, like libjpeg
            if ah:  # refinement: one raw bit per block
                dc &= 1
            else:  # the difference to the component's previous block
                for ci in comp_ids:
                    dc[comps == ci] = np.diff(dc[comps == ci], prepend=0)
            dc = dc.tolist()
        if se:
            lo = max(ss, 1)
            band = blocks[:, lo:se + 1]
            band = np.sign(band) * (np.abs(band) >> al)
            rows, pos = np.nonzero(band)
            ends = [0] + np.cumsum(np.bincount(rows, minlength=len(blocks))).tolist()
            pos, vals = pos.tolist(), band[rows, pos].tolist()
            encode_ac = _encode_ac_refine if ah else _encode_ac_first
        for i in range(len(blocks)):
            if ss == 0:
                if ah:
                    write(dc[i], 1)
                else:
                    size, bits = _magnitude(dc[i])
                    code, ln = _ENC_DC[size]
                    write((code << size) | bits, ln + size)
            if se:
                encode_ac(sw, pos[ends[i]:ends[i + 1]], vals[ends[i]:ends[i + 1]], se - lo)
                if baseline:
                    sw.flush_eobrun()
        sos = bytes([len(comp_ids)])
        for ci in comp_ids:
            sos += bytes([ci + 1, 0x00 if ss == 0 else 0x10])
        out += _seg(0xDA, sos + bytes([ss, se, (ah << 4) | al]))
        out += sw.finish()
    return bytes(out + b"\xff\xd9")


_JFIF = _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")


def encode_jpeg(rgb: np.ndarray, subsample: bool = False) -> bytes:
    """Encode an HxWx3 uint8 array as a baseline JFIF JPEG: one interleaved
    scan that holds every band.

    ``subsample=True`` emits 4:2:0 (luma 2x2 per MCU), else 4:4:4.
    """
    planes, samp = _ycc_planes(rgb, subsample)
    return _write_jpeg(planes, samp, [0, 1, 1], _JFIF, [((0, 1, 2), 0, 63, 0, 0)])


def encode_jpeg_cmyk(cmyk: np.ndarray, ycck: bool = False) -> bytes:
    """Encode an HxWx4 uint8 INK-value CMYK array as a baseline Adobe JPEG
    (4:4:4, one interleaved scan, APP14 transform 0 or 2).

    Stored samples follow the Photoshop convention ``_reconstruct``
    inverts on read: transform 0 stores 255-ink per channel; transform 2
    (YCCK) stores the YCbCr transform of the CMY ink channels plus
    255-ink_K. Deterministic like ``encode_jpeg`` (fixed tables)."""
    if cmyk.ndim != 3 or cmyk.shape[2] != 4:
        raise JpegError("expected HxWx4")
    h, w = cmyk.shape[:2]
    if h == 0 or w == 0:
        raise JpegError("empty image")
    ink = cmyk.astype(np.float64)
    if ycck:
        ycc = _rgb_to_ycbcr(cmyk[:, :, :3])  # CMY ink through the RGB->YCC matrix
        planes = [ycc[0], ycc[1], ycc[2], 255.0 - ink[:, :, 3]]
    else:
        planes = [255.0 - ink[:, :, i] for i in range(4)]
    adobe = _seg(0xEE, b"Adobe" + struct.pack(">HHHB", 100, 0, 0, 2 if ycck else 0))
    return _write_jpeg(planes, [(1, 1)] * 4, [0, 1, 1, 0], adobe, [((0, 1, 2, 3), 0, 63, 0, 0)])


# libjpeg-style default progression: DC first at Al=1, luma AC split into two
# spectral bands at Al=2, chroma AC at Al=1, then refinements down to Al=0.
_DEFAULT_SCRIPT = [
    ((0, 1, 2), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2), ((0,), 6, 63, 0, 2),
    ((1,), 1, 63, 0, 1), ((2,), 1, 63, 0, 1),
    ((0,), 1, 63, 2, 1),
    ((0, 1, 2), 0, 0, 1, 0),
    ((0,), 1, 63, 1, 0), ((1,), 1, 63, 1, 0), ((2,), 1, 63, 1, 0),
]


def encode_jpeg_progressive(
    rgb: np.ndarray,
    script: list[tuple] | None = None,
    subsample: bool = False,
) -> bytes:
    """Encode an HxWx3 uint8 array as a PROGRESSIVE (SOF2) JFIF JPEG.

    ``script`` is a list of (component_indices, Ss, Se, Ah, Al) scans; the
    default is the libjpeg-style 10-scan progression (spectral selection +
    successive approximation). Quantized coefficients are identical to
    ``encode_jpeg``'s, so decoding both encodings of the same image must
    yield byte-identical pixels — the property the codec tests pin.
    """
    planes, samp = _ycc_planes(rgb, subsample)
    return _write_jpeg(planes, samp, [0, 1, 1], _JFIF, script or _DEFAULT_SCRIPT)


# ---------------------------------------------------------------- decoder ---

class _BitReader:
    """Entropy-segment bit reader with 0xFF00 unstuffing; stops at markers
    (returns them via .marker)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> bool:
        d = self.data
        while self.nbits <= 24:
            if self.pos >= len(d):
                return self.nbits > 0
            b = d[self.pos]
            if b == 0xFF:
                if self.pos + 1 >= len(d):
                    return self.nbits > 0
                nxt = d[self.pos + 1]
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:  # RSTn consumed by caller
                    return self.nbits > 0
                else:  # real marker: stop
                    self.marker = nxt
                    return self.nbits > 0
                self.acc = (self.acc << 8) | b
                self.nbits += 8
                continue
            self.pos += 1
            self.acc = (self.acc << 8) | b
            self.nbits += 8
        return True

    def take(self, n: int) -> int:
        if n == 0:
            return 0
        while self.nbits < n:
            before = self.nbits
            self._fill()
            if self.nbits == before:
                raise JpegError("truncated entropy data")
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        # truncate to the live bits: without this the Python-int accumulator
        # keeps every consumed bit and each _fill shift copies the whole
        # history — decode time goes quadratic in entropy-stream length
        # (measured ~20 s for a 105 KB stream; a real /DCTDecode photo hangs)
        self.acc &= (1 << self.nbits) - 1
        return v

    def sync_restart(self) -> None:
        """Skip to just after the next RSTn marker, discarding bit remainder."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise JpegError("missing restart marker")


class _HuffTable:
    def __init__(self, bits: list[int], huffval: list[int]):
        # (first_code, first_index) per length for canonical decode
        self.maxcode = [-1] * 17
        self.mincode = [0] * 17
        self.valptr = [0] * 17
        self.huffval = huffval
        code = 0
        k = 0
        for length in range(1, 17):
            n = bits[length - 1]
            if n:
                self.valptr[length] = k
                self.mincode[length] = code
                code += n
                k += n
                self.maxcode[length] = code - 1
            code <<= 1

    def decode(self, br: _BitReader) -> int:
        code = br.take(1)
        for length in range(1, 17):
            mx = self.maxcode[length]
            if mx >= 0 and code <= mx:
                return self.huffval[self.valptr[length] + code - self.mincode[length]]
            code = (code << 1) | br.take(1)
        raise JpegError("bad huffman code")


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a JPEG byte string to an HxWx3 uint8 RGB array.

    Handles baseline (SOF0/1) — interleaved or non-interleaved multi-scan —
    and progressive (SOF2) with both spectral selection and successive
    approximation (ITU-T T.81 Annex G): every scan accumulates into
    persistent per-component coefficient stores, and reconstruction
    (dequant + IDCT + upsample + YCbCr) runs once at EOI.
    """
    if not is_jpeg(data):
        raise JpegError("not a jpeg")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, _HuffTable] = {}
    ac_tabs: dict[int, _HuffTable] = {}
    frame = None
    stores: list[np.ndarray] = []
    scanned: list[bool] = []
    restart_interval = 0
    saw_scan = False
    adobe_transform = None  # APP14 color-transform byte (None = no marker)
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise JpegError("bad marker alignment")
        # spec-legal 0xFF fill bytes (B.1.1.2) may pad before the marker id
        while pos + 4 <= n and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 4 > n:
            break
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (length,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + length]
        pos += 2 + length
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise JpegError(
                        "16-bit quant tables unsupported",
                        status="unsupported_format",
                    )
                tbl = np.zeros(64, dtype=np.int64)
                tbl[_ZIGZAG] = np.frombuffer(body[i + 1 : i + 65], dtype=np.uint8)
                qts[tq] = tbl
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                tab = _HuffTable(bits, vals)
                (dc_tabs if tc == 0 else ac_tabs)[th] = tab
                i += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            prec, fh, fw, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise JpegError("only 8-bit precision", status="unsupported_format")
            if fh == 0 or fw == 0:
                raise JpegError("empty image")
            if fh * fw > MAX_PIXELS:
                raise JpegError(f"{fw}x{fh} exceeds the pixel budget", status="too_large")
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            for c in comps:
                if c["h"] not in (1, 2) or c["v"] not in (1, 2):
                    raise JpegError(
                        "sampling factors > 2 unsupported",
                        status="unsupported_format",
                    )
            frame = {
                "h": fh,
                "w": fw,
                "comps": comps,
                "progressive": marker == 0xC2,
                "hmax": max(c["h"] for c in comps),
                "vmax": max(c["v"] for c in comps),
            }
            frame["mcus_x"] = (fw + 8 * frame["hmax"] - 1) // (8 * frame["hmax"])
            frame["mcus_y"] = (fh + 8 * frame["vmax"] - 1) // (8 * frame["vmax"])
            stores = [
                np.zeros((frame["mcus_y"] * c["v"], frame["mcus_x"] * c["h"], 64),
                         dtype=np.int64)
                for c in comps
            ]
            scanned = [False] * nc
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            # hierarchical / lossless / 12-bit / arithmetic-coded families
            raise JpegError(
                "non-baseline/arithmetic SOF unsupported", status="unsupported_format"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xEE and body[:5] == b"Adobe" and len(body) >= 12:
            adobe_transform = body[11]  # 0=CMYK/RGB, 1=YCbCr, 2=YCCK
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise JpegError("SOS before SOF")
            pos = _decode_sos(
                data, pos, body, frame, stores, scanned,
                qts, dc_tabs, ac_tabs, restart_interval,
            )
            saw_scan = True
        # else: APPn/COM — skipped
    if not saw_scan:
        raise JpegError("no scan found")
    if not all(scanned):
        raise JpegError("component never scanned")
    return _reconstruct(frame, stores, qts, adobe_transform)


def _decode_sos(
    data, pos, body, frame, stores, scanned, qts, dc_tabs, ac_tabs, restart_interval
):
    """Decode one entropy-coded scan into the coefficient stores; returns the
    stream position of the next marker segment.

    One code path serves baseline and progressive: a baseline SOS is simply
    (Ss=0, Se=63, Ah=0, Al=0), for which the progressive first-pass block
    decode degenerates to the sequential algorithm (an EOB code is an EOB
    run of exactly one block)."""
    ns = body[0]
    scan = []
    for i in range(ns):
        cs, tt = body[1 + 2 * i], body[2 + 2 * i]
        try:
            ci = next(
                j for j, c in enumerate(frame["comps"]) if c["id"] == cs
            )
        except StopIteration:
            raise JpegError("scan references unknown component") from None
        scan.append((ci, tt >> 4, tt & 0x0F))
    ss, se, a = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
    ah, al = a >> 4, a & 0x0F
    if frame["progressive"]:
        if ss == 0 and se != 0:
            raise JpegError("bad progressive DC band")
        if ss > 0 and ns != 1:
            raise JpegError("progressive AC scan must be single-component")
    else:
        ss, se, ah, al = 0, 63, 0, 0  # baseline ignores the approximation bytes
    if se > 63 or ss > se:
        raise JpegError("bad spectral band")
    for ci, _, _ in scan:
        scanned[ci] = True

    br = _BitReader(data, pos)
    pred = {ci: 0 for ci, _, _ in scan}
    eobrun = 0

    def tables(ci, td, ta):
        dct = dc_tabs.get(td) if ss == 0 else None
        act = ac_tabs.get(ta) if se > 0 else None
        if (ss == 0 and ah == 0 and dct is None) or (se > 0 and act is None):
            raise JpegError("missing huffman table")
        return dct, act

    def first_pass(blk, ci, dct, act):
        nonlocal eobrun
        if ss == 0:
            size = dct.decode(br)
            diff = _extend(br.take(size), size) if size else 0
            pred[ci] += diff
            blk[0] = pred[ci] << al
        if se == 0:
            return
        if eobrun > 0:
            eobrun -= 1
            return
        k = max(ss, 1)
        while k <= se:
            rs = act.decode(br)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                # EOB run: this block done, plus (eobrun) more blocks
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.take(r)
                break
            k += r
            if k > se:
                raise JpegError("AC index overflow")
            blk[k] = _extend(br.take(s), s) << al
            k += 1

    p1 = 1 << al

    def refine_nonzero(blk, k):
        """Correction bit for a coefficient with nonzero history."""
        if br.take(1) and (blk[k] & p1) == 0:
            blk[k] += p1 if blk[k] >= 0 else -p1

    def refine_pass(blk, ci, dct, act):
        nonlocal eobrun
        if ss == 0:  # DC refinement: one appended bit per block
            blk[0] |= br.take(1) << al
            return
        # AC refinement (T.81 G.2.2.3 — the libjpeg decode_mcu_AC_refine
        # shape). On an EOB code, eobrun counts the CURRENT block too
        # (1 << r, decremented after the remainder pass below), because the
        # current block's nonzero coefs from k..se still carry correction
        # bits even when r == 0.
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = act.decode(br)
                r, s = rs >> 4, rs & 0x0F
                newval = 0
                if s == 0:
                    if r < 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += br.take(r)
                        break
                    # r == 15 (ZRL): advance over 16 zero-history coefs
                else:
                    if s != 1:
                        raise JpegError("bad refinement magnitude")
                    newval = p1 if br.take(1) else -p1
                while k <= se:
                    if blk[k] != 0:
                        refine_nonzero(blk, k)
                    else:
                        r -= 1
                        if r < 0:
                            break
                    k += 1
                if newval and k <= se:
                    blk[k] = newval
                k += 1
        if eobrun > 0:
            while k <= se:
                if blk[k] != 0:
                    refine_nonzero(blk, k)
                k += 1
            eobrun -= 1

    decode_block = refine_pass if ah else first_pass

    def restart():
        nonlocal eobrun
        br.sync_restart()
        for k in pred:
            pred[k] = 0
        eobrun = 0

    unit_count = 0
    if ns == 1:
        # non-interleaved: the data unit is ONE block, iterated over the
        # component's own block grid (NOT the MCU-padded grid) — T.81 A.2.2
        ci, td, ta = scan[0]
        c = frame["comps"][ci]
        dct, act = tables(ci, td, ta)
        cw = -(-frame["w"] * c["h"] // frame["hmax"])  # ceil
        chh = -(-frame["h"] * c["v"] // frame["vmax"])
        wb, hb = -(-cw // 8), -(-chh // 8)
        for by in range(hb):
            for bx in range(wb):
                if restart_interval and unit_count and unit_count % restart_interval == 0:
                    restart()
                unit_count += 1
                decode_block(stores[ci][by, bx], ci, dct, act)
    else:
        for my in range(frame["mcus_y"]):
            for mx in range(frame["mcus_x"]):
                if restart_interval and unit_count and unit_count % restart_interval == 0:
                    restart()
                unit_count += 1
                for ci, td, ta in scan:
                    c = frame["comps"][ci]
                    dct, act = tables(ci, td, ta)
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            decode_block(
                                stores[ci][my * c["v"] + by, mx * c["h"] + bx],
                                ci, dct, act,
                            )

    # skip to the next marker segment (past trailing stuffing/RSTn bytes)
    p = max(br.pos, pos)
    d = data
    while p + 1 < len(d):
        if d[p] == 0xFF and d[p + 1] != 0x00:
            if 0xD0 <= d[p + 1] <= 0xD7:
                p += 2
                continue
            return p
        p += 1
    return len(d)


def _reconstruct(frame, stores, qts, adobe_transform=None):
    """Dequantize + IDCT per component (vectorized over blocks), upsample,
    crop, and convert to RGB.

    4-component frames follow the libjpeg/PIL conventions: with an Adobe
    APP14 marker the stored samples are INVERTED ink (Photoshop writes
    255-ink; transform 2 = YCCK additionally runs the CMY channels through
    the YCbCr transform of the ink values), without the marker the samples
    are taken as plain non-inverted CMYK ink. RGB composes multiplicatively:
    R = (255-C)(255-K)/255."""
    h, w = frame["h"], frame["w"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    planes = []
    for ci, c in enumerate(frame["comps"]):
        qt = qts.get(c["tq"])
        if qt is None:
            raise JpegError("missing quant table")
        zz = stores[ci] * qt  # (bv, bh, 64) zigzag order
        blocks = np.zeros((zz.shape[0], zz.shape[1], 64), dtype=np.float64)
        blocks[:, :, _ZIGZAG] = zz
        blocks = blocks.reshape(zz.shape[0], zz.shape[1], 8, 8)
        px = np.einsum("xu,...uv,yv->...xy", _DCTM.T, blocks, _DCTM.T)
        px += 128.0
        bv, bh = px.shape[0], px.shape[1]
        plane = px.transpose(0, 2, 1, 3).reshape(bv * 8, bh * 8)
        # upsample to full resolution (nearest) then crop
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        y = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(y[:, :, None], 3, axis=2)
    if len(planes) == 4:
        if adobe_transform == 2:  # YCCK: CMY ink rides the YCbCr transform
            y, cb, cr, k = planes
            ink_c = y + 1.402 * (cr - 128.0)
            ink_m = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
            ink_y = y + 1.772 * (cb - 128.0)
            ink_k = 255.0 - k
        elif adobe_transform is not None:  # Adobe CMYK: inverted ink
            ink_c, ink_m, ink_y, ink_k = (255.0 - p for p in planes)
        else:  # no APP14: plain CMYK ink (the ISO/libjpeg default guess)
            ink_c, ink_m, ink_y, ink_k = planes
        ink = np.stack([ink_c, ink_m, ink_y], axis=2)
        ink = np.clip(ink, 0.0, 255.0)
        ink_k = np.clip(ink_k, 0.0, 255.0)
        rgb = (255.0 - ink) * (255.0 - ink_k)[:, :, None] / 255.0
        return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    if len(planes) != 3:
        raise JpegError(f"{len(planes)}-component frame unsupported")
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
