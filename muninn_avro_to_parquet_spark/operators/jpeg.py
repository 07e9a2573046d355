"""Baseline JPEG codec on the standard library plus numpy — the last
image format the multimodal family needed a third-party image library
for.

Scope (and honest limits):
- **decode**: baseline sequential DCT (SOF0/1) AND progressive (SOF2,
  r10: spectral selection + successive approximation per T.81 §G, with
  EOBRUN and AC refinement), 8-bit, grayscale or YCbCr with
  per-component sampling factors up to 2×2 (so 4:4:4, 4:2:2 and the
  ubiquitous 4:2:0 all decode), multiple DQT/DHT segments, restart
  markers (DRI/RSTn). Arithmetic coding, hierarchical, and 12-bit raise
  ``ValueError`` rather than mis-decoding.
- **encode**: baseline sequential, YCbCr 4:4:4, Annex-K quantization
  tables scaled by IJG quality, Annex-K Huffman tables, JFIF APP0 —
  bit-deterministic for a given (pixels, quality), which is what lets
  committed fixtures carry exact byte sizes and hashes.

Conformance is cross-validated against an independent implementation
that IS in this image: the JVM's ``javax.imageio`` (the same
borrow-the-JVM strategy as the Java Avro conformance suite) — both
directions, see ``tests/test_java_jpeg_conformance.py``.

Used by ``operators/multimodal``'s feature/pixel decode seams; JPEG Y is
BT.601 luma, so the features path reads mean luma straight off the Y
plane without color conversion.

Like every codec in this engine the per-byte work runs executor-side
(Arrow-batched ``mapInPandas`` callers). Entropy decode is bit-serial
Python; the IDCT runs as one numpy matrix product over every block of a
scan, and color conversion as numpy array arithmetic.
"""

from __future__ import annotations

import math
import struct

import numpy as _np

# ---------------------------------------------------------------------------
# tables (ITU-T T.81 Annex K)
# ---------------------------------------------------------------------------

ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

_QUANT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

_QUANT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))

_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# separable DCT basis: _COS[u][x] = cos((2x+1)·u·π/16), with the 1/√2 DC
# normalization folded into _CU
_COS = [
    [math.cos((2 * x + 1) * u * math.pi / 16) for x in range(8)] for u in range(8)
]
_CU = [1 / math.sqrt(2)] + [1.0] * 7

_IDCT_M = None


def _idct_matrix():
    """Cached M[u,x] = cu[u]·cos[u][x] for the batched matrix IDCT."""
    global _IDCT_M
    if _IDCT_M is None:
        _IDCT_M = _np.array(
            [[_CU[u] * _COS[u][x] for x in range(8)] for u in range(8)],
            dtype=_np.float64,
        )
    return _IDCT_M


# ---------------------------------------------------------------------------
# Huffman
# ---------------------------------------------------------------------------


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) in canonical JPEG order."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _HuffTable:
    """Decode table in two forms: ``codes`` ((length, code) → symbol, the
    bit-serial reference for the buffered-run-ends-inside-a-code edge) and
    a full 16-bit peek LUT (``syms``/``lens`` parallel int lists; len 0 =
    invalid prefix) — one list index resolves ANY code in one step. The
    64K-entry build is amortized across a corpus by ``_cached_table``
    (every image our encoder or any IJG-derived encoder emits reuses the
    Annex-K tables verbatim)."""

    __slots__ = ("codes", "syms", "lens")

    def __init__(self, codes: dict[tuple[int, int], int]):
        self.codes = codes
        syms = [0] * 65536
        lens = [0] * 65536
        for (length, code), sym in codes.items():
            base = code << (16 - length)
            for i in range(base, base + (1 << (16 - length))):
                syms[i] = sym
                lens[i] = length
        self.syms = syms
        self.lens = lens


def _decode_table(bits: list[int], vals: list[int]) -> _HuffTable:
    """(length, code) → symbol for the bit-serial decoder, plus its peek
    LUT — built once per distinct (bits, vals) pair, process-wide."""
    return _cached_table(tuple(bits), tuple(vals))


def _cached_table(bits: tuple[int, ...], vals: tuple[int, ...]) -> _HuffTable:
    cached = _TABLE_CACHE.get((bits, vals))
    if cached is not None:
        return cached
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    built = _HuffTable(table)
    if len(_TABLE_CACHE) >= 64:  # bound: 64 tables ≈ 32 MB of LUT lists
        _TABLE_CACHE.clear()
    _TABLE_CACHE[(bits, vals)] = built
    return built


_TABLE_CACHE: dict[tuple[tuple[int, ...], tuple[int, ...]], _HuffTable] = {}


class _BitReader:
    """MSB-first reader over entropy-coded data with 0xFF00 unstuffing;
    stops at any marker and reports it (restart handling)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("JPEG entropy data truncated")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
            if nxt == 0x00:
                self.pos += 2
            else:
                self.marker = nxt
                raise _MarkerHit()
        else:
            self.pos += 1
        # mask keeps the accumulator a machine int: without it every fill
        # grows a big-int for the whole entropy stream and each shift gets
        # progressively slower (56 bits of history is more than the 16-bit
        # max code + 16-bit peek ever need)
        self.acc = ((self.acc & 0xFF_FFFF_FFFF_FFFF) << 8) | b
        self.n += 8

    def _try_fill(self) -> bool:
        """Speculative fill for the peek path: buffer one more byte if it
        is plain entropy data; return False (leaving ALL state untouched)
        at a marker or EOF so the error surfaces only if the decode
        actually consumes that far — eager peeking must not move the
        marker/truncation point the bit-serial reader would report."""
        d = self.data
        pos = self.pos
        if pos >= len(d):
            return False
        b = d[pos]
        if b == 0xFF:
            if pos + 1 < len(d) and d[pos + 1] == 0x00:
                self.pos = pos + 2
            else:
                return False
        else:
            self.pos = pos + 1
        self.acc = ((self.acc & 0xFF_FFFF_FFFF_FFFF) << 8) | b
        self.n += 8
        return True

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, count: int) -> int:
        n = self.n
        while n < count:
            self._fill()
            n = self.n
        n -= count
        self.n = n
        return (self.acc >> n) & ((1 << count) - 1)

    def huff(self, table: _HuffTable) -> int:
        # fast path: peek 16 bits (zero-padded at stream end — a valid
        # short code still resolves; the pad bits are never consumed)
        n = self.n
        while n < 16 and self._try_fill():
            n = self.n
        key = (
            (self.acc >> (n - 16)) & 0xFFFF
            if n >= 16
            else (self.acc << (16 - n)) & 0xFFFF
        )
        length = table.lens[key]
        if length and length <= n:
            self.n = n - length
            return table.syms[key]
        # slow path: invalid prefix, or the buffered run ends inside the
        # code — the bit-serial walk then raises at exactly the byte the
        # reference reader would
        codes = table.codes
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            sym = codes.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")

    def sync_restart(self, expected: int) -> None:
        """Discard the byte-alignment padding, consume the RSTn marker,
        reset bit state (DC predictors are the caller's job)."""
        self.acc = self.n = 0
        self.marker = None
        d = self.data
        if (
            self.pos + 1 >= len(d)
            or d[self.pos] != 0xFF
            or d[self.pos + 1] != 0xD0 + (expected & 7)
        ):
            got = d[self.pos : self.pos + 2].hex() if self.pos + 1 < len(d) else "EOF"
            raise ValueError(f"JPEG restart marker mismatch: got {got}")
        self.pos += 2


# slot convention for DHT-less ("abbreviated") streams: 0 = luminance,
# 1 = chrominance — the AVI-MJPEG / OpenDML convention
_STD_TABLES = {
    (0, 0): (_DC_LUMA_BITS, _DC_LUMA_VALS),
    (0, 1): (_DC_CHROMA_BITS, _DC_CHROMA_VALS),
    (1, 0): (_AC_LUMA_BITS, _AC_LUMA_VALS),
    (1, 1): (_AC_CHROMA_BITS, _AC_CHROMA_VALS),
}


def _fill_missing_std_tables(htables: dict, scan_sel) -> None:
    """MJPEG-in-AVI frames routinely OMIT the DHT segments (the OpenDML
    'abbreviated' stream convention assumes the T.81 Annex K typical
    tables, slot 0 = luminance / slot 1 = chrominance). Install the
    standard table for any slot the scan references but no DHT defined —
    never overriding an explicitly transmitted table, so conforming
    standalone JPEGs are untouched."""
    for _cs, td, ta in scan_sel:
        for key in ((0, td), (1, ta)):
            if key not in htables and key in _STD_TABLES:
                bits, vals = _STD_TABLES[key]
                htables[key] = _cached_table(tuple(bits), tuple(vals))


class _MarkerHit(Exception):
    pass


def _extend(v: int, size: int) -> int:
    """EXTEND (T.81 F.2.2.1): map a ``size``-bit magnitude to its signed
    value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def decode_jpeg(data: bytes) -> tuple[int, int, list[tuple[int, int, int]]]:
    """Decode baseline JPEG bytes → (width, height, row-major RGB
    pixels)."""
    w, h, planes, samp = _decode_planes_raw(data)
    if len(planes) == 1:
        y = planes[0].reshape(-1)
        rgb = _np.stack([y, y, y], axis=-1)
        return w, h, list(map(tuple, rgb.tolist()))
    yp, cbp, crp = planes
    (hy, vy), (hcb, vcb), (hcr, vcr) = samp
    # chroma planes are stored at their own resolution: replicate up by
    # the yy*v//vy / xx*h//hy sampling; np.rint rounds half-even
    Y = yp[:h, :w].astype(_np.float64)
    cb = cbp[(_np.arange(h) * vcb) // vy][:, (_np.arange(w) * hcb) // hy]
    cr = crp[(_np.arange(h) * vcr) // vy][:, (_np.arange(w) * hcr) // hy]
    Cb = cb.astype(_np.float64) - 128.0
    Cr = cr.astype(_np.float64) - 128.0
    r = Y + 1.402 * Cr
    g = Y - 0.344136 * Cb - 0.714136 * Cr
    b = Y + 1.772 * Cb
    rgb = _np.stack([r, g, b], axis=-1)
    rgb = _np.clip(_np.rint(rgb), 0, 255).astype(_np.int64).reshape(-1, 3)
    return w, h, list(map(tuple, rgb.tolist()))


def decode_jpeg_luma(data: bytes) -> tuple[int, int, float]:
    """(width, height, mean_luma in [0,1]) without color conversion —
    JPEG Y *is* BT.601 luma."""
    w, h, planes, _samp = _decode_planes_raw(data)
    # int sums ≤ 255·w·h < 2^53 are exact in float64
    return w, h, (float(planes[0].sum()) / (w * h)) / 255.0


def _decode_planes_raw(data: bytes):
    """Shared marker walk + entropy decode. Returns (w, h, [plane per
    component at its own sampling resolution — 2-D int64 ndarrays when
    numpy is available, flat row-major lists otherwise], [(Hi, Vi) per
    comp])."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    restart_interval = 0
    frame = None
    progressive = False
    coefs = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        seg = data[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                if pq == 0:
                    vals = list(seg[i : i + 64])
                    i += 64
                else:
                    vals = [
                        struct.unpack(">H", seg[i + 2 * j : i + 2 * j + 2])[0]
                        for j in range(64)
                    ]
                    i += 128
                tbl = [0] * 64
                for z, v in enumerate(vals):
                    tbl[ZIGZAG[z]] = v
                qtables[tq] = tbl
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = list(seg[i + 17 : i + 17 + n])
                htables[(tc, th)] = _decode_table(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError(f"JPEG precision {prec} unsupported (8 only)")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (w, h, comps)
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"JPEG SOF{marker - 0xC0} (hierarchical/arithmetic/12-bit) "
                "unsupported — baseline and progressive Huffman only"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            scan_sel = []
            for c in range(ns):
                cs, tdta = seg[1 + 2 * c : 3 + 2 * c]
                scan_sel.append((cs, tdta >> 4, tdta & 0x0F))
            _fill_missing_std_tables(htables, scan_sel)
            if not progressive:
                return _decode_scan(
                    data, pos, frame, scan_sel, qtables, htables, restart_interval
                )
            # progressive: the 3 trailing SOS bytes select the band and
            # the successive-approximation bit position for THIS scan
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            if coefs is None:
                coefs = _alloc_coefs(frame)
            pos = _progressive_scan(
                data, pos, frame, scan_sel,
                ss, se, ahal >> 4, ahal & 0x0F,
                htables, restart_interval, coefs,
            )
        # APPn / COM / others: skipped
    if progressive and coefs is not None:
        return _finish_progressive(frame, coefs, qtables)
    raise ValueError("JPEG has no scan (SOS) segment")


# ---------------------------------------------------------------------------
# progressive (SOF2) — multi-scan coefficient accumulation with spectral
# selection (Ss..Se) and successive approximation (Ah/Al), per T.81 §G.
# Coefficients accumulate UNQUANTIZED across scans; dequantization and the
# batched IDCT run once at EOI through the same math as the baseline path.
# ---------------------------------------------------------------------------


def _frame_geometry(frame):
    w, h, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    return hmax, vmax, mcus_x, mcus_y


def _alloc_coefs(frame):
    """One flat int list per component, MCU-padded block grid × 64
    natural-order coefficients."""
    _hmax, _vmax, mcus_x, mcus_y = _frame_geometry(frame)
    out = []
    for _cid, hi, vi, _tq in frame[2]:
        out.append([0] * (mcus_x * hi * mcus_y * vi * 64))
    return out


def _entropy_end(data: bytes, pos: int) -> int:
    """Position of the marker that terminates the entropy segment
    starting at ``pos`` (skipping stuffed 0xFF00, restart markers, and
    0xFF fill runs); returned pos points at the final 0xFF of the run."""
    n = len(data)
    i = pos
    while i + 1 < n:
        if data[i] != 0xFF:
            i += 1
            continue
        nxt = data[i + 1]
        if nxt == 0x00:  # stuffed data byte
            i += 2
        elif 0xD0 <= nxt <= 0xD7:  # restart marker: still inside the scan
            i += 2
        elif nxt == 0xFF:  # fill byte
            i += 1
        else:
            return i
    raise ValueError("JPEG entropy data truncated (no terminating marker)")


def _refine_nonzero(coef, idx, bit, p1, m1):
    """Apply one correction bit to an already-nonzero coefficient
    (T.81 G.1.2.3): the bit may only set the Al bit once per pass."""
    c = coef[idx]
    if bit and (c & p1) == 0:
        coef[idx] = c + (p1 if c >= 0 else m1)


def _progressive_scan(
    data, pos, frame, scan_sel, ss, se, ah, al, htables, restart_interval, coefs
):
    """Decode one progressive scan into the coefficient store; returns
    the position of the terminating marker."""
    w, h, comps = frame
    hmax, vmax, mcus_x, mcus_y = _frame_geometry(frame)
    by_id = {cid: ci for ci, (cid, _hi, _vi, _tq) in enumerate(comps)}
    reader = _BitReader(data, pos)
    is_dc = ss == 0
    if is_dc and se != 0:
        raise ValueError("JPEG progressive scan mixes DC and AC bands")
    if not is_dc and len(scan_sel) != 1:
        raise ValueError("JPEG progressive AC scan must be single-component")
    preds = {cid: 0 for cid, _td, _ta in scan_sel}
    eobrun = 0
    p1, m1 = 1 << al, -(1 << al)

    def dc_block(cid, td, base):
        if ah == 0:
            t = reader.huff(htables[(0, td)])
            preds[cid] += _extend(reader.bits(t), t)
            coefs_ci[base] = preds[cid] << al
        elif reader.bit():
            # successive approximation refines the Al bit; |= semantics
            # are exact for negatives because the first pass stored an
            # arithmetic-shifted value (two's complement)
            coefs_ci[base] |= p1

    def ac_first(ta, base):
        nonlocal eobrun
        if eobrun:
            eobrun -= 1
            return
        tbl = htables[(1, ta)]
        k = ss
        while k <= se:
            rs = reader.huff(tbl)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.bits(r)
                break
            k += r
            if k > se:
                raise ValueError("JPEG AC index overflow in progressive scan")
            coefs_ci[base + ZIGZAG[k]] = _extend(reader.bits(s), s) << al
            k += 1

    def ac_refine(ta, base):
        nonlocal eobrun
        tbl = htables[(1, ta)]
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = reader.huff(tbl)
                r, s = rs >> 4, rs & 0x0F
                val = 0
                if s:
                    if s != 1:
                        raise ValueError("invalid JPEG AC refinement symbol")
                    val = p1 if reader.bit() else m1
                elif r != 15:
                    eobrun = (1 << r)
                    if r:
                        eobrun += reader.bits(r)
                    break
                # advance over r zero-history positions, spending one
                # correction bit on every nonzero passed
                while k <= se:
                    idx = base + ZIGZAG[k]
                    if coefs_ci[idx]:
                        _refine_nonzero(coefs_ci, idx, reader.bit(), p1, m1)
                    else:
                        r -= 1
                        if r < 0:
                            break
                    k += 1
                if val and k <= se:
                    coefs_ci[base + ZIGZAG[k]] = val
                k += 1
        if eobrun:
            while k <= se:
                idx = base + ZIGZAG[k]
                if coefs_ci[idx]:
                    _refine_nonzero(coefs_ci, idx, reader.bit(), p1, m1)
                k += 1
            eobrun -= 1

    def maybe_restart(unit_count, rst_n):
        nonlocal eobrun
        if restart_interval and unit_count == restart_interval:
            reader.sync_restart(rst_n & 7)
            for cid in preds:
                preds[cid] = 0
            eobrun = 0
            return 0, rst_n + 1
        return unit_count, rst_n

    try:
        unit = rst = 0
        if is_dc and len(scan_sel) > 1:
            # interleaved DC scan: MCU order over the padded grid
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    unit, rst = maybe_restart(unit, rst)
                    for cid, td, _ta in scan_sel:
                        ci = by_id[cid]
                        _c, hi, vi, _tq = comps[ci]
                        coefs_ci = coefs[ci]
                        bw = mcus_x * hi
                        for by in range(vi):
                            for bx in range(hi):
                                base = ((my * vi + by) * bw + mx * hi + bx) * 64
                                dc_block(cid, td, base)
                    unit += 1
        else:
            # non-interleaved: the component's OWN block grid (T.81
            # A.2.2 — no MCU padding in single-component scans)
            cid, td, ta = scan_sel[0]
            ci = by_id[cid]
            _c, hi, vi, _tq = comps[ci]
            coefs_ci = coefs[ci]
            bw = mcus_x * hi  # padded row stride of the coefficient store
            cw = -(-w * hi // hmax)
            ch = -(-h * vi // vmax)
            nbx, nby = -(-cw // 8), -(-ch // 8)
            for by in range(nby):
                for bx in range(nbx):
                    unit, rst = maybe_restart(unit, rst)
                    base = (by * bw + bx) * 64
                    if is_dc:
                        dc_block(cid, td, base)
                    elif ah == 0:
                        ac_first(ta, base)
                    else:
                        ac_refine(ta, base)
                    unit += 1
    except _MarkerHit:
        raise ValueError(
            f"JPEG marker {reader.marker:#x} inside progressive scan data"
        ) from None
    return _entropy_end(data, reader.pos)


def _finish_progressive(frame, coefs, qtables):
    """Dequantize the accumulated coefficients and run the shared batched
    IDCT; same output contract as the baseline ``_decode_scan``."""
    w, h, comps = frame
    hmax, vmax, mcus_x, mcus_y = _frame_geometry(frame)
    out_planes = []
    samp = []
    for ci, (cid, hi, vi, tq) in enumerate(comps):
        q = qtables[tq]
        bw = mcus_x * hi
        cw = -(-w * hi // hmax)
        ch = -(-h * vi // vmax)
        nbx, nby = -(-cw // 8), -(-ch // 8)
        coefs_ci = coefs[ci]
        batch = []
        place = []
        for by in range(nby):
            for bx in range(nbx):
                base = (by * bw + bx) * 64
                batch.append(
                    [coefs_ci[base + i] * q[i] for i in range(64)]
                )
                place.append((bx * 8, by * 8))
        pw, ph = nbx * 8, nby * 8
        pix = _idct_batch(batch)
        plane = _np.zeros((ph, pw), dtype=_np.int64)
        for k, (ox, oy) in enumerate(place):
            plane[oy : oy + 8, ox : ox + 8] = pix[k]
        out_planes.append(plane[:ch, :cw])
        samp.append((hi, vi))
    return w, h, out_planes, samp


def _idct_batch(coefs: list[list[float]]):
    """8×8 inverse DCT + level shift of every block at once, clamped to
    [0, 255] → int64 array of shape (blocks, 8, 8). With M[u,x] =
    cu[u]·cos[u][x] the separable row pass is (C @ M)/2 and the column
    pass (M.T @ ·)/2; np.rint rounds half-even like round()."""
    M = _idct_matrix()
    B = _np.asarray(coefs, dtype=_np.float64).reshape(-1, 8, 8)
    pix = (M.T @ ((B @ M) * 0.5)) * 0.5
    return _np.clip(_np.rint(pix) + 128, 0, 255).astype(_np.int64)


def _decode_scan(data, pos, frame, scan_sel, qtables, htables, restart_interval):
    w, h, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax > 2 or vmax > 2:
        raise ValueError("JPEG sampling factors above 2 unsupported")
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    # per-component plane dimensions (full MCU-padded, cropped at the end)
    dims = [(mcus_x * 8 * hi, mcus_y * 8 * vi) for _cid, hi, vi, _tq in comps]
    # entropy-decode ALL blocks first (inherently bit-serial), then run
    # one batched matrix IDCT over every block and scatter 8x8 tiles with
    # slice assigns
    batch_coefs: list[list[float]] = []
    batch_place: list[tuple[int, int, int]] = []
    sel = {cs: (td, ta) for cs, td, ta in scan_sel}
    missing = [cid for cid, _hi, _vi, _tq in comps if cid not in sel]
    if missing:
        raise ValueError(
            "non-interleaved/multi-scan baseline JPEG unsupported: frame "
            f"components {missing} absent from the first SOS"
        )
    reader = _BitReader(data, pos)
    preds = [0] * len(comps)
    mcu_count = 0
    rst_n = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count == restart_interval:
                reader.sync_restart(rst_n)
                rst_n = (rst_n + 1) & 7
                preds = [0] * len(comps)
                mcu_count = 0
            try:
                for ci, (cid, hi, vi, tq) in enumerate(comps):
                    td, ta = sel[cid]
                    dc_tbl = htables[(0, td)]
                    ac_tbl = htables[(1, ta)]
                    q = qtables[tq]
                    for by in range(vi):
                        for bx in range(hi):
                            coef = [0.0] * 64
                            t = reader.huff(dc_tbl)
                            diff = _extend(reader.bits(t), t)
                            preds[ci] += diff
                            coef[0] = preds[ci] * q[0]
                            z = 1
                            while z < 64:
                                rs = reader.huff(ac_tbl)
                                r, s = rs >> 4, rs & 0x0F
                                if s == 0:
                                    if r == 15:
                                        z += 16
                                        continue
                                    break  # EOB
                                z += r
                                if z > 63:
                                    raise ValueError("JPEG AC index overflow")
                                nat = ZIGZAG[z]
                                coef[nat] = _extend(reader.bits(s), s) * q[nat]
                                z += 1
                            ox = (mx * hi + bx) * 8
                            oy = (my * vi + by) * 8
                            batch_coefs.append(coef)
                            batch_place.append((ci, ox, oy))
            except _MarkerHit:
                raise ValueError(
                    f"JPEG marker {reader.marker:#x} inside MCU data"
                ) from None
            mcu_count += 1
    pix = _idct_batch(batch_coefs)
    planes = [_np.zeros((ph, pw), dtype=_np.int64) for pw, ph in dims]
    for k, (ci, ox, oy) in enumerate(batch_place):
        planes[ci][oy : oy + 8, ox : ox + 8] = pix[k]
    # crop padded planes to each component's true resolution
    out_planes = []
    samp = []
    for ci, (cid, hi, vi, tq) in enumerate(comps):
        cw = -(-w * hi // hmax)
        ch = -(-h * vi // vmax)
        out_planes.append(planes[ci][:ch, :cw])
        samp.append((hi, vi))
    # luma plane is cropped to (w, h) exactly
    return w, h, out_planes, samp


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _scaled_quant(base: list[int], quality: int) -> list[int]:
    """IJG quality scaling."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return [min(255, max(1, (v * scale + 50) // 100)) for v in base]


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # 1-padding per spec


def _fdct_quant(block: list[float], q: list[int]) -> list[int]:
    cos = _COS
    cu = _CU
    tmp = [0.0] * 64
    for y in range(8):
        base = y * 8
        for u in range(8):
            s = 0.0
            for x in range(8):
                s += block[base + x] * cos[u][x]
            tmp[base + u] = s
    out = [0] * 64
    for u in range(8):
        for v in range(8):
            s = 0.0
            for y in range(8):
                s += tmp[y * 8 + u] * cos[v][y]
            val = s * cu[u] * cu[v] / 4
            qi = v * 8 + u
            out[qi] = int(round(val / q[qi]))
    return out


def _magnitude(v: int) -> tuple[int, int]:
    """signed value → (size, code bits) per T.81 F.1.2.1/F.1.4."""
    if v == 0:
        return 0, 0
    size = v.bit_length() if v > 0 else (-v).bit_length()
    code = v if v > 0 else v + (1 << size) - 1
    return size, code


def _encode_block(
    samples: list[float],
    q: list[int],
    dc_codes,
    ac_codes,
    pred: int,
    bw: _BitWriter,
) -> int:
    coef = _fdct_quant(samples, q)
    dc = coef[0]
    size, code = _magnitude(dc - pred)
    c, ln = dc_codes[size]
    bw.write(c, ln)
    if size:
        bw.write(code, size)
    zz = [coef[ZIGZAG[z]] for z in range(64)]
    run = 0
    last_nz = 0
    for z in range(63, 0, -1):
        if zz[z]:
            last_nz = z
            break
    for z in range(1, last_nz + 1):
        v = zz[z]
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_codes[0xF0]  # ZRL
            bw.write(c, ln)
            run -= 16
        size, code = _magnitude(v)
        c, ln = ac_codes[(run << 4) | size]
        bw.write(c, ln)
        bw.write(code, size)
        run = 0
    if last_nz != 63:
        c, ln = ac_codes[0x00]  # EOB
        bw.write(c, ln)
    return dc


def encode_jpeg(
    width: int,
    height: int,
    pixels: list[tuple[int, int, int]],
    quality: int = 85,
    restart_interval: int = 0,
) -> bytes:
    """Encode row-major RGB pixels as a baseline JFIF JPEG (YCbCr 4:4:4,
    Annex-K Huffman tables). Deterministic bytes for a given input.
    ``restart_interval`` > 0 emits a DRI segment and RSTn markers every N
    MCUs — the resync points a splittable/streaming reader needs."""
    if len(pixels) != width * height:
        raise ValueError(f"expected {width * height} pixels, got {len(pixels)}")
    ql = _scaled_quant(_QUANT_LUMA, quality)
    qc = _scaled_quant(_QUANT_CHROMA, quality)
    dc_l = _canonical_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)
    ac_l = _canonical_codes(_AC_LUMA_BITS, _AC_LUMA_VALS)
    dc_c = _canonical_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
    ac_c = _canonical_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS)

    # color convert once, level-shifted
    yp = [0.0] * (width * height)
    cbp = [0.0] * (width * height)
    crp = [0.0] * (width * height)
    for i, (r, g, b) in enumerate(pixels):
        yp[i] = 0.299 * r + 0.587 * g + 0.114 * b - 128
        cbp[i] = -0.168736 * r - 0.331264 * g + 0.5 * b
        crp[i] = 0.5 * r - 0.418688 * g - 0.081312 * b

    def block_at(plane: list[float], bx: int, by: int) -> list[float]:
        out = [0.0] * 64
        for yy in range(8):
            sy = min(by * 8 + yy, height - 1)
            for xx in range(8):
                sx = min(bx * 8 + xx, width - 1)  # edge replication pad
                out[yy * 8 + xx] = plane[sy * width + sx]
        return out

    bw = _BitWriter()
    preds = [0, 0, 0]
    blocks_x = -(-width // 8)
    blocks_y = -(-height // 8)
    mcu_count = 0
    rst_n = 0
    for by in range(blocks_y):
        for bx in range(blocks_x):
            if restart_interval and mcu_count == restart_interval:
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + rst_n])
                rst_n = (rst_n + 1) & 7
                preds = [0, 0, 0]
                mcu_count = 0
            preds[0] = _encode_block(block_at(yp, bx, by), ql, dc_l, ac_l, preds[0], bw)
            preds[1] = _encode_block(block_at(cbp, bx, by), qc, dc_c, ac_c, preds[1], bw)
            preds[2] = _encode_block(block_at(crp, bx, by), qc, dc_c, ac_c, preds[2], bw)
            mcu_count += 1
    bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(ql[ZIGZAG[z]] for z in range(64)))
    out += seg(0xDB, bytes([0x01]) + bytes(qc[ZIGZAG[z]] for z in range(64)))
    out += seg(
        0xC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    out += seg(0xC4, bytes([0x00]) + bytes(_DC_LUMA_BITS) + bytes(_DC_LUMA_VALS))
    out += seg(0xC4, bytes([0x10]) + bytes(_AC_LUMA_BITS) + bytes(_AC_LUMA_VALS))
    out += seg(0xC4, bytes([0x01]) + bytes(_DC_CHROMA_BITS) + bytes(_DC_CHROMA_VALS))
    out += seg(0xC4, bytes([0x11]) + bytes(_AC_CHROMA_BITS) + bytes(_AC_CHROMA_VALS))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)
