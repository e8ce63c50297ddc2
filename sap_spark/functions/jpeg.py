"""Baseline JPEG codec in pure numpy + stdlib — the real-codec tier for
``image/jpeg`` payloads.

Everything here is implemented from the public ITU-T T.81 spec: baseline
sequential DCT (SOF0, and SOF1's identical Huffman path) AND progressive
DCT (SOF2 — spectral selection, successive approximation with EOB runs,
interleaved DC / non-interleaved AC scans, inter-scan DHT/DRI), 8-bit
samples, grayscale and YCbCr with any 1-2x sampling factors (covers
4:4:4, 4:2:2, 4:2:0), restart markers, byte stuffing, implicit Annex K
default Huffman tables (the MJPEG convention), and the Annex K "typical"
quant / Huffman tables for the encoder. Out of scope — arithmetic
coding, 12-bit, hierarchical, >3 components (CMYK) — raises
``ValueError``, so a caller can null the row instead of failing the
job on one bad upload.

Performance honesty: Huffman entropy decode is a per-symbol Python loop
(everything after it — dequant, zigzag, IDCT, upsample, color convert —
is vectorized numpy over all blocks at once). Round 5 gave it the
libjpeg acceleration structure — a flat 16-bit peek LUT per table plus
a hold-register bit reader with the whole per-block loop fused into
one locals-only method (``_BitReader.decode_block``) — measured at
~1.7 MP/s / ~0.48 MB/s warm on a quality-85 4:2:0 photo-like 1 MP
image (2.2x the round-4 bit-at-a-time walk; output verified
bit-identical). Correct and deterministic, but a production
deployment would use libjpeg-turbo (PIL) instead. A
pixel-count cap bounds worst-case decode cost.

Reference parity note: the reference plugin carries media metadata only,
never bytes (StreamProperty, SapODataConstants.java:220-233); this tier
is part of the training-data-pipeline extension surface, not a port.
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np

# Decode cost/size guard (pixels per component plane, pre-upsample).
MAX_PIXELS = 1 << 24  # 16 MP
# Progressive scan-count cap: libjpeg's default progression script emits
# 10 scans and hand-tuned scripts a few dozen; without a cap, per-scan
# cost (bounded by MAX_PIXELS) times an unbounded scan count lets a
# sub-KB crafted file burn hours of CPU while _BitReader's 1-bit padding
# keeps every scan "valid".
MAX_SCANS = 32

# zigzag position -> raster index (T.81 Figure A.6)
ZIGZAG = np.array([
    0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.1 "typical" quantization tables, raster order.
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K.3 "typical" Huffman tables: (BITS[1..16], HUFFVAL).
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# Orthonormal 8-point DCT-II basis: A @ A.T == I, forward F = A f A.T,
# inverse f = A.T F A — exact-precision float64 both directions.
_k = np.arange(8).reshape(8, 1)
_n = np.arange(8).reshape(1, 8)
DCT_A = 0.5 * np.cos((2 * _n + 1) * _k * np.pi / 16.0)
DCT_A[0, :] *= 1.0 / np.sqrt(2.0)
del _k, _n


def is_jpeg(blob: bytes) -> bool:
    return blob is not None and len(blob) >= 3 and blob[:3] == b"\xff\xd8\xff"


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


class _HuffTable:
    """Canonical Huffman decode state, flattened to a 16-bit lookup
    table: entry i of ``lut_sym``/``lut_len`` answers "if the next 16
    bits of the stream are i, which symbol starts here and how long is
    its code" — the standard libjpeg-style acceleration of T.81
    F.2.2.3's bit-by-bit DECODE (one peek + two list indexes per symbol
    instead of up to 16 read_bit calls). Built with numpy range fills
    (each code of length l owns a contiguous 2^(16-l) slice), then
    converted to plain lists — Python-scalar indexing into lists is
    ~3x faster than into numpy arrays, and the decode loop is exactly
    that. ``lut_len`` 0 marks bit patterns no code owns → invalid
    stream."""

    __slots__ = ("lut_sym", "lut_len")

    def __init__(self, bits: list[int], vals: list[int]):
        if len(bits) != 16 or sum(bits) != len(vals) or sum(bits) > 256:
            raise ValueError("malformed Huffman table")
        lut_sym = np.zeros(1 << 16, np.int16)
        lut_len = np.zeros(1 << 16, np.int8)
        code = 0
        k = 0
        for l in range(1, 17):
            for _ in range(bits[l - 1]):
                start = code << (16 - l)
                span = 1 << (16 - l)
                if start + span > (1 << 16):
                    raise ValueError("overfull Huffman table")
                lut_sym[start : start + span] = vals[k]
                lut_len[start : start + span] = l
                code += 1
                k += 1
            code <<= 1
        if code > (1 << 17):
            raise ValueError("overfull Huffman table")
        self.lut_sym = lut_sym.tolist()
        self.lut_len = lut_len.tolist()


class _BitReader:
    """MSB-first reader over destuffed entropy bytes (one restart
    segment) with a hold-register front end (the libjpeg fill/peek
    idiom): ``hold`` carries the next ≤24 unread bits as a small int,
    refilled one byte at a time with a plain index (no per-read slice
    allocation, no bit-list 64x blowup). ``decode`` peeks 16 bits and
    resolves a whole symbol with two list lookups; ``receive``/
    ``read_bit`` consume from the same register, so baseline and
    progressive scans share one position. Reading past the end refills
    with 1-bits, as the spec's final-byte padding allows — a truly
    truncated scan then decodes an invalid symbol and raises."""

    __slots__ = ("data", "n", "bytepos", "hold", "bits")

    def __init__(self, data: bytes):
        self.data = data
        self.n = len(data)
        self.bytepos = 0
        self.hold = 0  # next `bits` unread bits, MSB-aligned at bit `bits`
        self.bits = 0

    def _fill16(self) -> None:
        data, bp, n = self.data, self.bytepos, self.n
        hold, bits = self.hold, self.bits
        while bits < 16:
            hold = (hold << 8) | (data[bp] if bp < n else 0xFF)
            bp += 1
            bits += 8
        self.bytepos, self.hold, self.bits = bp, hold, bits

    def read_bit(self) -> int:
        if not self.bits:
            self._fill16()
        b = self.bits - 1
        self.bits = b
        v = (self.hold >> b) & 1
        self.hold &= (1 << b) - 1
        return v

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        if self.bits < n:
            self._fill16()  # n ≤ 16 everywhere (T.81 magnitudes cap at 16)
        b = self.bits - n
        self.bits = b
        v = self.hold >> b
        self.hold &= (1 << b) - 1
        return v

    def decode(self, table: _HuffTable) -> int:
        if self.bits < 16:
            self._fill16()
        b = self.bits
        v16 = self.hold >> (b - 16)
        l = table.lut_len[v16]
        if l == 0:
            raise ValueError("invalid Huffman code in scan")
        b -= l
        self.bits = b
        self.hold &= (1 << b) - 1
        return table.lut_sym[v16]

    def decode_block(self, dc: _HuffTable, ac: _HuffTable, pred: int):
        """One full baseline 8x8 block — DC diff + AC run-length — with
        the register state held in LOCALS for the duration (the
        attribute loads of the method-per-symbol form were measured as
        large as the bit work itself). Returns (new DC predictor,
        zigzag coefficient list). Semantically identical to the
        decode/receive/_extend composition the progressive path still
        uses; T.81 F.2.2."""
        data, n = self.data, self.n
        bp, hold, bits = self.bytepos, self.hold, self.bits
        dc_len, dc_sym = dc.lut_len, dc.lut_sym
        ac_len, ac_sym = ac.lut_len, ac.lut_sym
        while bits < 16:
            hold = (hold << 8) | (data[bp] if bp < n else 0xFF)
            bp += 1
            bits += 8
        v16 = hold >> (bits - 16)
        l = dc_len[v16]
        if l == 0:
            raise ValueError("invalid Huffman code in scan")
        t = dc_sym[v16]
        bits -= l
        hold &= (1 << bits) - 1
        if t > 11:
            raise ValueError("bad DC category")
        if t:
            while bits < 16:
                hold = (hold << 8) | (data[bp] if bp < n else 0xFF)
                bp += 1
                bits += 8
            bits -= t
            v = hold >> bits
            hold &= (1 << bits) - 1
            if v < (1 << (t - 1)):  # _extend inlined
                v += 1 - (1 << t)
            pred += v
        zz = [0] * 64
        zz[0] = pred
        k = 1
        while k < 64:
            while bits < 16:
                hold = (hold << 8) | (data[bp] if bp < n else 0xFF)
                bp += 1
                bits += 8
            v16 = hold >> (bits - 16)
            l = ac_len[v16]
            if l == 0:
                raise ValueError("invalid Huffman code in scan")
            rs = ac_sym[v16]
            bits -= l
            hold &= (1 << bits) - 1
            s = rs & 0x0F
            if s == 0:
                if rs == 0xF0:  # ZRL
                    k += 16
                    continue
                break  # EOB
            k += rs >> 4
            if k > 63:
                raise ValueError("AC run past block end")
            while bits < 16:
                hold = (hold << 8) | (data[bp] if bp < n else 0xFF)
                bp += 1
                bits += 8
            bits -= s
            v = hold >> bits
            hold &= (1 << bits) - 1
            if v < (1 << (s - 1)):  # _extend inlined
                v += 1 - (1 << s)
            zz[k] = v
            k += 1
        self.bytepos, self.hold, self.bits = bp, hold, bits
        return pred, zz


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1: map the t-bit magnitude to its signed value."""
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def _parse_dht(seg: bytes, huff: "dict[tuple[int, int], _HuffTable]") -> None:
    """Install every table in one DHT segment (shared by the frame-header
    walk and the progressive between-scans walk)."""
    p = 0
    while p + 17 <= len(seg):
        cls, tid = seg[p] >> 4, seg[p] & 0x0F
        bits = list(seg[p + 1 : p + 17])
        cnt = sum(bits)
        vals = list(seg[p + 17 : p + 17 + cnt])
        if len(vals) != cnt:
            raise ValueError("truncated DHT")
        huff[(cls, tid)] = _huff_table_cached(tuple(bits), tuple(vals))
        p += 17 + cnt


@lru_cache(maxsize=64)
def _huff_table_cached(bits: tuple, vals: tuple) -> "_HuffTable":
    """Tables repeat across images — most encoders ship the Annex K.3
    defaults verbatim — so cache the two 65,536-entry LUT builds by
    table content: a thumbnail batch would otherwise pay ~0.5M list
    fills per image for identical tables. _HuffTable is immutable after
    construction (its LUTs are only ever indexed), so sharing one
    instance across frames is safe."""
    return _HuffTable(list(bits), list(vals))


_DEFAULT_HUFF: dict[tuple[int, int], _HuffTable] = {}


def _default_huff(cls: int, tid: int) -> _HuffTable:
    """Annex K 'typical' tables as implicit defaults. The original MJPEG
    convention omits DHT from every frame and relies on exactly these
    tables; players (ffmpeg's mjpeg decoder, libjpeg-turbo consumers)
    install them when a scan references an undeclared table — matching
    that keeps the AVI tier working on real-world files."""
    if tid not in (0, 1) or cls not in (0, 1):
        raise ValueError("missing Huffman table")
    if not _DEFAULT_HUFF:
        _DEFAULT_HUFF[(0, 0)] = _HuffTable(DC_LUMA_BITS, DC_LUMA_VALS)
        _DEFAULT_HUFF[(0, 1)] = _HuffTable(DC_CHROMA_BITS, DC_CHROMA_VALS)
        _DEFAULT_HUFF[(1, 0)] = _HuffTable(AC_LUMA_BITS, AC_LUMA_VALS)
        _DEFAULT_HUFF[(1, 1)] = _HuffTable(AC_CHROMA_BITS, AC_CHROMA_VALS)
    return _DEFAULT_HUFF[(cls, tid)]


def _split_scan(blob: bytes, start: int) -> tuple[list[bytes], int]:
    """Slice the entropy-coded data beginning at ``start`` into
    destuffed restart segments; return (segments, offset of the
    terminating marker's 0xFF). Stuffed 0xFF00 bytes become literal
    0xFF; RST0-7 delimit segments; any other marker ends the scan."""
    segs: list[bytes] = []
    cur = bytearray()
    i = start
    n = len(blob)
    while i < n:
        b = blob[i]
        if b != 0xFF:
            j = blob.find(b"\xff", i)
            if j < 0:
                cur.extend(blob[i:])
                i = n
                break
            cur.extend(blob[i:j])
            i = j
            continue
        m = blob[i + 1] if i + 1 < n else 0xD9
        if m == 0x00:
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= m <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:
            break
    segs.append(bytes(cur))
    return segs, i


def parse_jpeg(blob: bytes) -> "np.ndarray | None":
    """Baseline or progressive JPEG decode → uint8 array (H, W, C) with
    C in {1, 3}. None when the blob is not JPEG by signature (caller
    falls through to the stub tier); ValueError for JPEG-by-signature
    blobs that are corrupt, truncated, or out of scope (arithmetic /
    12-bit / CMYK) — the caller nulls the row. The ValueError contract
    holds for ARBITRARY bytes after the signature (fuzz-tested): header
    slicing that comes up short surfaces as struct/index errors below
    and is normalized here."""
    if not is_jpeg(blob):
        return None
    try:
        return _parse_jpeg_checked(blob)
    except (struct.error, IndexError, KeyError) as e:
        raise ValueError(f"malformed JPEG structure: {e!r}") from e


def _parse_jpeg_checked(blob: bytes) -> "np.ndarray":
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffTable] = {}  # (class, id)
    sof = None
    dri = 0
    i = 2
    n = len(blob)
    while True:
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
        while i + 1 < n and blob[i] == 0xFF and blob[i + 1] == 0xFF:
            i += 1
        if i + 4 > n:
            raise ValueError("truncated JPEG before SOS")
        if blob[i] != 0xFF:
            raise ValueError("marker sync lost")
        marker = blob[i + 1]
        if marker == 0xD8:  # stray SOI
            i += 2
            continue
        (length,) = struct.unpack(">H", blob[i + 2 : i + 4])
        seg = blob[i + 4 : i + 2 + length]
        if len(seg) != length - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                prec, tid = seg[p] >> 4, seg[p] & 0x0F
                if prec == 0:
                    qt[tid] = np.frombuffer(
                        seg[p + 1 : p + 65], np.uint8
                    ).astype(np.int64)
                    p += 65
                elif prec == 1:
                    qt[tid] = np.frombuffer(
                        seg[p + 1 : p + 129], ">u2"
                    ).astype(np.int64)
                    p += 129
                else:
                    raise ValueError("bad DQT precision")
                if qt[tid].size != 64:
                    raise ValueError("truncated DQT")
        elif marker == 0xC4:  # DHT
            _parse_dht(seg, huff)
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            if nc not in (1, 3):
                raise ValueError(f"unsupported component count {nc}")
            comps = []
            for c in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", seg, 6 + 3 * c)
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
            if nc == 1:
                # T.81 A.2: a single-component scan is non-interleaved —
                # one 8x8 data unit per MCU in raster order at FULL
                # resolution, whatever sampling factors the SOF declares
                # (jpegtran -grayscale keeps the source's 2x2). Forcing
                # 1x1 reproduces exactly that layout.
                comps[0]["h"] = comps[0]["v"] = 1
            sof = {"h": h, "w": w, "comps": comps, "progressive": progressive}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "non-baseline JPEG (arithmetic/lossless/hierarchical) "
                "not supported"
            )
        elif marker == 0xDD:  # DRI
            (dri,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            break
        # APPn / COM / DNL / anything else: skip
        i += 2 + length
    if sof is None:
        raise ValueError("SOS before SOF")

    h, w, comps = sof["h"], sof["w"], sof["comps"]
    if h <= 0 or w <= 0 or h * w > MAX_PIXELS:
        raise ValueError("JPEG dimensions out of range")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if not (1 <= hmax <= 2 and 1 <= vmax <= 2) or any(
        c["h"] not in (1, 2) or c["v"] not in (1, 2) for c in comps
    ):
        raise ValueError("unsupported sampling factors")
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    for ci, c in enumerate(comps):
        if c["tq"] not in qt:
            raise ValueError("missing quant table")
        c["ci"] = ci
        c["gw"] = mcus_x * c["h"]  # block-grid width (incl. MCU padding)
        c["gh"] = mcus_y * c["v"]
        # real (coded in non-interleaved scans) block extent
        comp_w = -(-(w * c["h"]) // hmax)
        comp_h = -(-(h * c["v"]) // vmax)
        c["nbw"] = -(-comp_w // 8)
        c["nbh"] = -(-comp_h // 8)
        c["blocks"] = [None] * (c["gw"] * c["gh"])  # zigzag coef vectors

    if sof["progressive"]:
        _decode_progressive_scans(blob, i, seg, length, comps,
                                  huff, dri, mcus_x, mcus_y)
    else:
        _decode_baseline_scan(blob, i, seg, length, comps,
                              huff, dri, mcus_x, mcus_y)

    # Vectorized tail: dequant + de-zigzag + IDCT + reassemble per plane.
    # DQT entries arrive in zigzag order (T.81 B.2.4.1), matching the
    # blocks' layout elementwise; the joint scatter through ZIGZAG
    # de-zigzags both. Blocks sit in (grid_y, grid_x) raster order.
    zero = [0] * 64
    planes = []
    for c in comps:
        zz = np.asarray(
            [b if b is not None else zero for b in c["blocks"]],
            dtype=np.int64,
        )
        coef = np.zeros_like(zz)
        coef[:, ZIGZAG] = zz * qt[c["tq"]]
        coef = coef.reshape(-1, 8, 8).astype(np.float64)
        pix = np.einsum("ij,njk,kl->nil", DCT_A.T, coef, DCT_A) + 128.0
        pix = np.clip(np.rint(pix), 0, 255).astype(np.uint8)
        plane = pix.reshape(c["gh"], c["gw"], 8, 8).transpose(0, 2, 1, 3)
        plane = plane.reshape(c["gh"] * 8, c["gw"] * 8)
        # upsample to full resolution, crop to (h, w)
        plane = plane.repeat(vmax // c["v"], axis=0).repeat(
            hmax // c["h"], axis=1
        )
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        return planes[0][..., None].copy()
    y = planes[0].astype(np.float64)
    cb = planes[1].astype(np.float64) - 128.0
    cr = planes[2].astype(np.float64) - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


def _decode_baseline_scan(blob, i, seg, length, comps, huff, dri,
                          mcus_x, mcus_y) -> None:
    """The single interleaved baseline scan: fills each component's
    zigzag block vectors in grid order."""
    ns = seg[0]
    if ns != len(comps):
        raise ValueError("multi-scan baseline JPEG not supported")
    scan_tables = {}
    for c in range(ns):
        cid, tabs = seg[1 + 2 * c], seg[2 + 2 * c]
        scan_tables[cid] = (tabs >> 4, tabs & 0x0F)
    for c in comps:
        dc_id, ac_id = scan_tables[c["id"]]
        c["dc"] = huff.get((0, dc_id)) or _default_huff(0, dc_id)
        c["ac"] = huff.get((1, ac_id)) or _default_huff(1, ac_id)

    segments, _ = _split_scan(blob, i + 2 + length)
    blocks_per_mcu = [
        (c, by, bx)
        for c in comps
        for by in range(c["v"])
        for bx in range(c["h"])
    ]
    total_mcus = mcus_x * mcus_y
    mcu_idx = 0
    for segment in segments:
        if mcu_idx >= total_mcus:
            break
        reader = _BitReader(segment)
        pred = dict.fromkeys(range(len(comps)), 0)  # DC predictors reset
        end = min(total_mcus, mcu_idx + dri) if dri else total_mcus
        decode_block = reader.decode_block
        while mcu_idx < end:
            my, mx = divmod(mcu_idx, mcus_x)
            for c, by, bx in blocks_per_mcu:
                ci = c["ci"]
                new_pred, zz = decode_block(c["dc"], c["ac"], pred[ci])
                pred[ci] = new_pred
                c["blocks"][(my * c["v"] + by) * c["gw"] + mx * c["h"] + bx] = zz
            mcu_idx += 1
    if mcu_idx < total_mcus:
        raise ValueError("scan ended before all MCUs")


def _decode_progressive_scans(blob, i, seg, length, comps, huff, dri,
                              mcus_x, mcus_y) -> None:
    """Progressive (SOF2) multi-scan decode per T.81 G: DC/AC spectral
    selection with successive approximation, EOB runs, interleaved DC
    scans and non-interleaved AC scans, restart markers, and DHT/DQT/DRI
    segments appearing between scans. Accumulates coefficients into each
    component's zigzag block vectors; the shared assembly tail runs the
    IDCT once at the end."""
    n = len(blob)
    by_id = {c["id"]: c for c in comps}
    for c in comps:
        c["blocks"] = [[0] * 64 for _ in range(c["gw"] * c["gh"])]

    n_scans = 0
    while True:
        # ---- one SOS scan (header in `seg`) ----
        n_scans += 1
        if n_scans > MAX_SCANS:
            # per-scan cost is pixel-capped but scan COUNT is attacker-
            # controlled: a sub-KB file of empty refinement scans would
            # otherwise cost O(file_size x pixels) CPU
            raise ValueError("progressive scan count exceeds cap")
        ns = seg[0]
        if not 1 <= ns <= len(comps):
            raise ValueError("bad progressive scan component count")
        scan_comps = []
        for k in range(ns):
            cid, tabs = seg[1 + 2 * k], seg[2 + 2 * k]
            c = by_id.get(cid)
            if c is None:
                raise ValueError("scan names unknown component")
            scan_comps.append((c, tabs >> 4, tabs & 0x0F))
        ss, se, a = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
        ah, al = a >> 4, a & 0x0F
        if ss > se or se > 63 or al > 13 or ah > 13:
            raise ValueError("bad spectral selection / approximation")
        if ss == 0 and se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        if ss > 0 and ns != 1:
            raise ValueError("progressive AC scan must be single-component")

        if ss == 0:
            for c, dc_id, _ in scan_comps:
                c["dc"] = (
                    huff.get((0, dc_id)) or _default_huff(0, dc_id)
                ) if ah == 0 else None  # refinement reads raw bits only
        else:
            c, _, ac_id = scan_comps[0]
            c["ac"] = huff.get((1, ac_id)) or _default_huff(1, ac_id)

        segments, pos = _split_scan(blob, i + 2 + length)
        # interleaved scans count MCUs; non-interleaved ones (any AC
        # scan, or a single-component DC scan) count that component's
        # real blocks
        if ss == 0 and ns > 1:
            total = mcus_x * mcus_y
        else:
            total = scan_comps[0][0]["nbw"] * scan_comps[0][0]["nbh"]
        unit = 0
        for segment in segments:
            if unit >= total:
                break
            reader = _BitReader(segment)
            pred = dict.fromkeys(range(len(comps)), 0)
            eobrun = 0
            end = min(total, unit + dri) if dri else total
            while unit < end:
                if ss == 0:
                    _prog_dc_unit(reader, scan_comps, pred, ah, al,
                                  unit, ns, mcus_x)
                else:
                    eobrun = _prog_ac_block(
                        reader, scan_comps[0][0], ss, se, ah, al,
                        unit, eobrun,
                    )
                unit += 1
        if unit < total:
            raise ValueError("progressive scan ended before all units")

        # ---- walk markers to the next SOS or EOI ----
        i = pos
        while True:
            while i + 1 < n and blob[i] == 0xFF and blob[i + 1] == 0xFF:
                i += 1
            if i + 2 > n:
                raise ValueError("truncated between progressive scans")
            m = blob[i + 1]
            if m == 0xD9:  # EOI
                return
            if i + 4 > n:
                raise ValueError("truncated segment between scans")
            (length,) = struct.unpack(">H", blob[i + 2 : i + 4])
            seg = blob[i + 4 : i + 2 + length]
            if len(seg) != length - 2:
                raise ValueError("truncated segment between scans")
            if m == 0xDA:
                break  # next scan; outer loop consumes `seg`
            if m == 0xC4:  # DHT between scans
                _parse_dht(seg, huff)
            elif m == 0xDD:
                (dri,) = struct.unpack(">H", seg[:2])
            # DQT between scans is legal but cannot retroactively apply;
            # APPn/COM skipped
            i += 2 + length


def _prog_dc_unit(reader, scan_comps, pred, ah, al, unit, ns, mcus_x):
    """One DC-scan unit: an MCU (interleaved) or one block (ns==1)."""
    if ns > 1:
        my, mx = divmod(unit, mcus_x)
        for c, _dc_id, _ in scan_comps:
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    idx = (my * c["v"] + by) * c["gw"] + mx * c["h"] + bx
                    _prog_dc_block(reader, c, pred, ah, al, idx)
    else:
        c = scan_comps[0][0]
        by, bx = divmod(unit, c["nbw"])
        _prog_dc_block(reader, c, pred, ah, al, by * c["gw"] + bx)


def _prog_dc_block(reader, c, pred, ah, al, idx):
    blk = c["blocks"][idx]
    if ah == 0:  # first DC scan: diff-coded, scaled by 2^Al
        t = reader.decode(c["dc"])
        if t > 11:
            raise ValueError("bad DC category")
        pred[c["ci"]] += _extend(reader.receive(t), t)
        blk[0] = pred[c["ci"]] << al
    else:  # refinement: one correction bit
        if reader.read_bit():
            blk[0] |= 1 << al


def _prog_ac_block(reader, c, ss, se, ah, al, unit, eobrun):
    """One block of an AC scan (T.81 G.1.2.2-3); returns updated EOB run."""
    by, bx = divmod(unit, c["nbw"])
    blk = c["blocks"][by * c["gw"] + bx]
    if ah == 0:  # first pass for this band
        if eobrun:
            return eobrun - 1
        k = ss
        while k <= se:
            rs = reader.decode(c["ac"])
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                return (1 << r) - 1 + (reader.receive(r) if r else 0)
            k += r
            if k > se:
                raise ValueError("AC run past band end")
            blk[k] = _extend(reader.receive(s), s) << al
            k += 1
        return 0
    # refinement pass
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.decode(c["ac"])
            r, s = rs >> 4, rs & 0x0F
            newval = 0
            if s == 0:
                if r < 15:
                    eobrun = (1 << r) + (reader.receive(r) if r else 0)
                    break
                # r == 15: skip 16 zero-history coefficients
            elif s == 1:
                newval = p1 if reader.read_bit() else m1
            else:
                raise ValueError("bad AC refinement symbol")
            while k <= se:
                v = blk[k]
                if v != 0:
                    if reader.read_bit() and not (v & p1):
                        blk[k] = v + (p1 if v > 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if k <= se and newval:
                blk[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            v = blk[k]
            if v != 0 and reader.read_bit() and not (v & p1):
                blk[k] = v + (p1 if v > 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


# ---------------------------------------------------------------------------
# encoder (baseline, Annex K tables; 4:4:4 or 4:2:0)
# ---------------------------------------------------------------------------


class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


def _encode_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) via canonical assignment (T.81 C.2)."""
    table = {}
    code = 0
    k = 0
    for l in range(1, 17):
        for _ in range(bits[l - 1]):
            table[vals[k]] = (code, l)
            code += 1
            k += 1
        code <<= 1
    return table


def _scale_quant(base: "np.ndarray", quality: int) -> "np.ndarray":
    """IJG quality scaling of an Annex K table."""
    quality = min(max(quality, 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255)


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _encode_blocks(
    writer: _BitWriter,
    blocks: "np.ndarray",
    q: "np.ndarray",
    dc_codes: dict,
    ac_codes: dict,
    pred: int,
) -> int:
    """Huffman-encode quantized coefficients for a (n, 8, 8) stack of
    level-shifted pixel blocks; returns the updated DC predictor."""
    coef = np.einsum("ij,njk,kl->nil", DCT_A, blocks, DCT_A.T)
    quant = np.rint(coef.reshape(-1, 64) / q).astype(np.int64)
    zz = quant[:, ZIGZAG]
    for row in zz:
        dc = int(row[0])
        diff = dc - pred
        pred = dc
        t = _category(diff)
        code, length = dc_codes[t]
        writer.write(code, length)
        if t:
            writer.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
        run = 0
        last = 63
        while last > 0 and row[last] == 0:
            last -= 1
        for k in range(1, last + 1):
            v = int(row[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_codes[0xF0]  # ZRL
                writer.write(code, length)
                run -= 16
            s = _category(v)
            code, length = ac_codes[(run << 4) | s]
            writer.write(code, length)
            writer.write(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if last < 63:
            code, length = ac_codes[0x00]  # EOB
            writer.write(code, length)
    return pred


def encode_jpeg(
    arr: "np.ndarray",
    quality: int = 85,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Baseline JFIF encoder for uint8 (H, W, 1|3) arrays. 4:4:4 by
    default; ``subsample=True`` writes 4:2:0 (box-filtered chroma);
    ``restart_interval=N`` emits a DRI segment and RST markers every N
    MCUs — both mainly so the decoder's subsampling and restart paths
    have same-repo fixtures. Round-trips through ``parse_jpeg`` within
    normal quantization loss."""
    if arr.ndim != 3 or arr.shape[2] not in (1, 3):
        raise ValueError("expected (H, W, 1|3) uint8 array")
    h, w, nc = arr.shape
    gray = nc == 1
    if gray:
        subsample = False
    ql = _scale_quant(QUANT_LUMA, quality)
    qc = _scale_quant(QUANT_CHROMA, quality)

    if gray:
        planes = [arr[:, :, 0].astype(np.float64)]
    else:
        rgb = arr.astype(np.float64)
        y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
        cb = -0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2] + 128.0
        cr = 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2] + 128.0
        planes = [y, cb, cr]

    factor = 2 if subsample else 1
    mcu = 8 * factor
    mcus_x, mcus_y = -(-w // mcu), -(-h // mcu)

    def pad(plane: "np.ndarray", ph: int, pw: int) -> "np.ndarray":
        return np.pad(
            plane,
            ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
            mode="edge",
        )

    def blockify(plane: "np.ndarray") -> "np.ndarray":
        """(H8, W8) → (by, bx, 8, 8) block grid."""
        bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
        return plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)

    comp_blocks = []  # per component: (by, bx, 8, 8) level-shifted grid
    samp = []
    for ci, plane in enumerate(planes):
        if ci > 0 and subsample:
            p = pad(plane, mcus_y * mcu, mcus_x * mcu)
            p = p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2).mean(
                axis=(1, 3)
            )
            samp.append((1, 1))
        else:
            p = pad(plane, mcus_y * mcu, mcus_x * mcu)
            samp.append((factor, factor) if ci == 0 or not subsample else (1, 1))
        comp_blocks.append(blockify(p - 128.0))

    dc_l = _encode_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_l = _encode_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c = _encode_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c = _encode_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)

    writer = _BitWriter()
    preds = [0] * len(planes)
    mcu_no = 0
    rst_no = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if (
                restart_interval
                and mcu_no
                and mcu_no % restart_interval == 0
            ):
                writer.flush()
                writer.out += bytes([0xFF, 0xD0 + (rst_no % 8)])
                rst_no += 1
                preds = [0] * len(planes)
            mcu_no += 1
            for ci, grid in enumerate(comp_blocks):
                ch, cv = samp[ci]
                q = ql if ci == 0 else qc
                dc_codes = dc_l if ci == 0 else dc_c
                ac_codes = ac_l if ci == 0 else ac_c
                blocks = [
                    grid[my * cv + by, mx * ch + bx]
                    for by in range(cv)
                    for bx in range(ch)
                ]
                preds[ci] = _encode_blocks(
                    writer,
                    np.stack(blocks),
                    q,
                    dc_codes,
                    ac_codes,
                    preds[ci],
                )
    writer.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    def dqt(tid: int, table: "np.ndarray") -> bytes:
        # table is raster-ordered in this module; the wire format is
        # zigzag-ordered (T.81 B.2.4.1)
        return seg(0xDB, bytes([tid]) + bytes(int(x) for x in table[ZIGZAG]))

    def dht(cls: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
        return seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))

    ncomp = 1 if gray else 3
    sof_comps = b"".join(
        struct.pack(
            ">BBB", ci + 1, (samp[ci][0] << 4) | samp[ci][1], 0 if ci == 0 else 1
        )
        for ci in range(ncomp)
    )
    sos_comps = b"".join(
        struct.pack(">BB", ci + 1, 0x00 if ci == 0 else 0x11)
        for ci in range(ncomp)
    )
    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += dqt(0, ql)
    if not gray:
        out += dqt(1, qc)
    out += seg(0xC0, struct.pack(">BHHB", 8, h, w, ncomp) + sof_comps)
    out += dht(0, 0, DC_LUMA_BITS, DC_LUMA_VALS)
    out += dht(1, 0, AC_LUMA_BITS, AC_LUMA_VALS)
    if not gray:
        out += dht(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS)
        out += dht(1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, bytes([ncomp]) + sos_comps + b"\x00\x3f\x00")
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)
