"""JPEG codec — ITU-T T.81 sequential (SOF0) and progressive (SOF2) DCT
with Huffman coding, stdlib+numpy.

Re-implemented from the public spec (ITU-T Recommendation T.81, 1992:
Annex A DCT/zigzag/quantization and data-unit order, Annex B interchange
format, Annex F sequential coding, Annex G progressive coding, Annex K
standard tables) — no image library. Retires the repo's last multimodal
stub: the reference's multimodal surface treats images as opaque
payloads; here decode AND encode are real for the codecs a crawl
actually sees (PNG, BMP, JPEG).

One data-unit walker and one coefficient path carry every scan mode,
decode and encode. ``_data_units`` yields the blocks of a scan in T.81
order (A.2.2 row-major over a lone component's own ceil grid, A.2.3 MCU
order for several components) with the restart points of the DRI
interval. Decoding: every scan, sequential (Ss=0, Se=63, Ah=Al=0) or
progressive (spectral selection + successive approximation, EOB runs,
refinement bits), lands in per-component zigzag coefficient arrays
allocated at SOF; ``_reconstruct_coefs`` dequantizes and runs one
batched IDCT per component at EOI. Encoding: every block is quantized
once, then each ``scan_mode`` is a scan script written by one scan
writer.

Decoder: 8-bit, 1 component (grayscale) or 3 components (YCbCr → RGB,
JFIF conversion), arbitrary h/v sampling factors (4:4:4, 4:2:2, 4:2:0),
any grouping of components into scans, restart intervals (DRI/RSTn).
Chroma upsampling is the triangular filter for 2x factors (libjpeg's
default shape; spec A.1.1 leaves the filter open), nearest otherwise.
Not supported (raise NotImplementedError): arithmetic coding, 12-bit,
hierarchical, CMYK.

Encoder: gray or RGB→YCbCr at 4:4:4, 4:2:2 or 4:2:0, with the Annex K
standard quantization + Huffman tables and libjpeg-compatible quality
scaling; interleaved, per-component or progressive scan scripts, with
an optional restart interval; deterministic (pure numpy).

Verified against an INDEPENDENT decoder (gdk-pixbuf/libjpeg renderings of
real-world files, plus gdk decoding OUR encoder's output) in
tests/test_jpeg.py.
"""

from __future__ import annotations

import struct

import numpy as np

# standard quantization tables (T.81 Annex K.1, Tables K.1/K.2) in
# natural (row-major) order
_Q_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.float64)
_Q_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.float64)

# standard Huffman tables (T.81 Annex K.3): (BITS[1..16], HUFFVAL)
_HUFF_DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
                bytes(range(12)))
_HUFF_DC_CHROM = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                  bytes(range(12)))
_HUFF_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    bytes([
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ]))
_HUFF_AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    bytes([
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ]))

# zigzag scan order (T.81 Figure A.6): index i in scan order -> (row, col)
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# 8x8 IDCT basis (T.81 A.3.3): A[u, x] = c(u)/2 * cos((2x+1) u pi / 16)
_U = np.arange(8)
_A = 0.5 * np.cos((2 * _U[None, :] + 1) * _U[:, None] * np.pi / 16.0)
_A[0, :] *= 1.0 / np.sqrt(2.0)


class _Huffman:
    """Canonical Huffman table from DHT BITS/HUFFVAL (T.81 C.2), compiled
    to a 16-bit peek table: lut[peek16] = (length << 8) | value — one
    array read per symbol instead of a bit-by-bit tree walk."""

    def __init__(self, bits: list[int], vals: bytes):
        self.lut = np.zeros(1 << 16, dtype=np.uint32)
        code, k = 0, 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                prefix = code << (16 - length)
                span = 1 << (16 - length)
                self.lut[prefix:prefix + span] = (length << 8) | vals[k]
                code += 1
                k += 1
            code <<= 1


class _BitReader:
    """Entropy-coded segment reader: 0xFF00 unstuffing, 1-padding at
    markers (T.81 F.2.2.5), byte-aligned RSTn consumption."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0

    def _ensure(self, n: int) -> None:
        data = self.data
        while self.nbits < n:
            b = data[self.pos] if self.pos < len(data) else 0xFF
            if b == 0xFF:
                nxt = data[self.pos + 1] if self.pos + 1 < len(data) else 0xD9
                if nxt == 0x00:          # stuffed 0xFF data byte
                    self.pos += 2
                else:                    # marker (EOI/RSTn/...): pad with 1s
                    self.bitbuf = (self.bitbuf << 8) | 0xFF
                    self.nbits += 8
                    continue
            else:
                self.pos += 1
            self.bitbuf = (self.bitbuf << 8) | b
            self.nbits += 8

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._ensure(n)
        self.nbits -= n
        v = (self.bitbuf >> self.nbits) & ((1 << n) - 1)
        self.bitbuf &= (1 << self.nbits) - 1
        return v

    def decode_huff(self, table: _Huffman) -> int:
        if self.nbits < 16:
            self._ensure(16)
        peek = (self.bitbuf >> (self.nbits - 16)) & 0xFFFF
        entry = int(table.lut[peek])
        length = entry >> 8
        if length == 0:
            raise ValueError("invalid Huffman code in entropy stream")
        self.nbits -= length
        self.bitbuf &= (1 << self.nbits) - 1
        return entry & 0xFF

    def align_and_consume_rst(self) -> None:
        """Byte-align and step over an RSTn marker (T.81 F.2.1.3.1)."""
        self.bitbuf = 0
        self.nbits = 0
        data = self.data
        while self.pos < len(data) and data[self.pos] != 0xFF:
            self.pos += 1
        if self.pos + 1 < len(data) and 0xD0 <= data[self.pos + 1] <= 0xD7:
            self.pos += 2


def _extend(v: int, t: int) -> int:
    """EXTEND (T.81 F.2.2.1): map t-bit magnitude to signed value."""
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def _need(seg: bytes, n: int, what: str) -> None:
    """Refuse a marker segment shorter than the ``n`` bytes it declares."""
    if len(seg) < n:
        raise ValueError(f"JPEG {what} runs past its segment")


def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG bytes (sequential or progressive) → (h, w, c) uint8 (c = 1
    gray, 3 RGB). Every scan decodes into the coefficient arrays; the
    pixels are reconstructed once, at EOI. Malformed input raises
    ValueError (NotImplementedError for valid but unsupported coding)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _Huffman] = {}
    huff_ac: dict[int, _Huffman] = {}
    frame = None
    coefs = None   # per-component zigzag coefficient arrays, from SOF
    scanned = False
    restart_interval = 0
    pos = 2
    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        if pos + 1 >= len(data):
            raise ValueError("JPEG truncated inside a marker")
        marker = data[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:  # EOI
            break
        if pos + 4 > len(data):
            raise ValueError("JPEG truncated inside a segment length")
        (length,) = struct.unpack(">H", data[pos + 2:pos + 4])
        if length < 2:
            raise ValueError(f"JPEG segment length {length} (B.1.1.4: >= 2)")
        if pos + 2 + length > len(data):
            raise ValueError("JPEG segment runs past the data")
        seg = data[pos + 4:pos + 2 + length]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                prec, tid = seg[i] >> 4, seg[i] & 15
                i += 1
                _need(seg, i + (128 if prec else 64), "DQT table")
                if prec:
                    q = np.frombuffer(seg[i:i + 128], dtype=">u2").astype(np.float64)
                    i += 128
                else:
                    q = np.frombuffer(seg[i:i + 64], dtype=np.uint8).astype(np.float64)
                    i += 64
                qt[tid] = q
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                cls, tid = seg[i] >> 4, seg[i] & 15
                _need(seg, i + 17, "DHT code counts")
                bits = list(seg[i + 1:i + 17])
                n = sum(bits)
                _need(seg, i + 17 + n, "DHT symbol table")
                vals = seg[i + 17:i + 17 + n]
                (huff_ac if cls else huff_dc)[tid] = _Huffman(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            _need(seg, 6, "SOF header")
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError(f"JPEG precision {prec} (8-bit only)")
            if nc not in (1, 3):
                raise NotImplementedError(
                    "JPEG with %d components (grayscale/YCbCr only)" % nc)
            _need(seg, 6 + 3 * nc, "SOF component list")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                if not (1 <= hv >> 4 <= 4 and 1 <= hv & 15 <= 4):
                    raise ValueError("JPEG sampling factors %dx%d (B.2.2 "
                                     "allows 1-4)" % (hv >> 4, hv & 15))
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            frame = _frame(h, w, comps, progressive=marker == 0xC2)
            my, mx = frame["mcus"]
            coefs = [np.zeros((my * c["v"], mx * c["h"], 64), dtype=np.int32)
                     for c in comps]
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF marker 0xFF{marker:02X} "
                "(baseline sequential + progressive only)")
        elif marker == 0xDD:  # DRI
            _need(seg, 2, "DRI")
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — scan follows
            if frame is None:
                raise ValueError("JPEG missing SOF before SOS")
            _need(seg, 1, "SOS header")
            ns = seg[0]
            _need(seg, 4 + 2 * ns, "SOS component list")
            ids = {c["id"] for c in frame["comps"]}
            scan = {}
            for c in range(ns):
                cid, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                if cid not in ids:
                    raise ValueError(f"SOS component {cid} not in the frame")
                scan[cid] = (tt >> 4, tt & 15)
            ss, se, ahal = seg[1 + 2 * ns:4 + 2 * ns]
            if not frame["progressive"]:
                ss, se, ahal = 0, 63, 0    # the full band, full precision
            pos = _decode_scan(
                data, pos + 2 + length, frame, scan, huff_dc, huff_ac,
                restart_interval, ss, se, ahal >> 4, ahal & 15, coefs)
            scanned = True
            continue
        pos += 2 + length
    if scanned:
        return _reconstruct_coefs(frame, coefs, qt)
    raise ValueError("JPEG truncated before SOS")


def _frame(h: int, w: int, comps: list[dict], progressive: bool) -> dict:
    """Frame geometry shared by the decoder and the encoder: image size,
    components (id, h, v, tq), the maximum sampling factors and the MCU
    grid (A.2.4), plus the progression history of delivered bands."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    return {"h": h, "w": w, "comps": comps, "progressive": progressive,
            "hmax": hmax, "vmax": vmax,
            "mcus": (-(-h // (8 * vmax)), -(-w // (8 * hmax))),
            "delivered": {}}


def _data_units(frame: dict, members: list[int], dri: int):
    """Yield ``(restart, ci, by, bx)`` for every data unit of a scan over
    component indices ``members``, in T.81 order: one component is
    non-interleaved, row-major over that component's OWN ceil(size/8)
    block grid (A.2.2, narrower than the MCU-padded arrays for subsampled
    edges); several components walk the MCU grid, each contributing its
    h x v blocks per MCU (A.2.3). ``restart`` is true on the first unit
    of every MCU that a restart marker precedes (every ``dri`` MCUs)."""
    comps = frame["comps"]
    if len(members) == 1:
        c = comps[members[0]]
        cw = -(-(frame["w"] * c["h"]) // frame["hmax"])   # A.1.1
        ch = -(-(frame["h"] * c["v"]) // frame["vmax"])
        mcus_y, mcus_x = -(-ch // 8), -(-cw // 8)
        layout = [(members[0], 1, 1)]
    else:
        mcus_y, mcus_x = frame["mcus"]
        layout = [(ci, comps[ci]["h"], comps[ci]["v"]) for ci in members]
    mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            restart = bool(dri) and mcu > 0 and mcu % dri == 0
            mcu += 1
            for ci, h, v in layout:
                for by in range(v):
                    for bx in range(h):
                        yield restart, ci, my * v + by, mx * h + bx
                        restart = False


def _check_progression(hist: dict, ci: int, ss: int, se: int, ah: int,
                       al: int) -> None:
    """G.1.1.1.1 progression checks for one component of a progressive
    scan: the DC band must arrive before any AC band of the component,
    no band may be delivered twice, and a refinement scan's Ah must
    equal the Al at which the band was previously delivered — violations
    decode garbage silently if let through. ``hist`` maps (ci, k) to the
    Al each coefficient was last delivered at."""
    if ss == 0:
        prev = hist.get((ci, 0))
        if ah == 0:
            if prev is not None:
                raise ValueError(
                    "duplicate progressive DC first scan (G.1.1.1.1)")
        elif prev != ah:
            raise ValueError(
                "progressive DC refinement at Ah=%d but band delivered "
                "at Al=%s (G.1.1.1.1)" % (ah, prev))
        hist[(ci, 0)] = al
        return
    if hist.get((ci, 0)) is None:
        raise ValueError(
            "progressive AC scan before the component's DC scan "
            "(G.1.1.1.1)")
    for k in range(ss, se + 1):
        prev = hist.get((ci, k))
        if ah == 0:
            if prev is not None:
                raise ValueError(
                    "overlapping progressive AC first scans for "
                    "coefficient %d (G.1.1.1.1)" % k)
        elif prev != ah:
            raise ValueError(
                "progressive AC refinement at Ah=%d but coefficient "
                "%d delivered at Al=%s (G.1.1.1.1)" % (ah, k, prev))
        hist[(ci, k)] = al


def _decode_scan(data, pos, frame, scan, huff_dc, huff_ac, dri,
                 ss, se, ah, al, coefs):
    """Decode one scan into ``coefs``: band Ss..Se of the scan's
    components at bit position Al (refining from Ah when Ah > 0). A
    sequential scan is Ss=0, Se=63, Ah=Al=0: its DC difference and its
    AC run-lengths are coded exactly as a progressive DC first scan and
    an AC first scan, except that an EOB run longer than one block is
    illegal (F.1.2.2). Returns the position of the marker following the
    entropy-coded segment."""
    comps = frame["comps"]
    cidx = {c["id"]: i for i, c in enumerate(comps)}
    members = [cidx[cid] for cid in scan]     # SOS order
    sequential = not frame["progressive"]
    if not sequential:
        if ss == 0 and se != 0:
            raise ValueError("progressive DC scan with Se != 0")
        if ss != 0 and len(members) != 1:
            raise ValueError(
                "progressive AC scan with %d components (G.1.1.1.1 allows "
                "1)" % len(members))
    tables = {}
    for ci in members:
        td, ta = scan[comps[ci]["id"]]
        if ss == 0 and ah == 0 and td not in huff_dc:
            raise ValueError("missing DHT DC table %d for scan" % td)
        if se > 0 and ta not in huff_ac:
            raise ValueError("missing DHT AC table %d for scan" % ta)
        if not sequential:
            _check_progression(frame["delivered"], ci, ss, se, ah, al)
        tables[ci] = (huff_dc.get(td), huff_ac.get(ta))
    rd = _BitReader(data, pos)
    preds = dict.fromkeys(members, 0)
    eobrun = 0
    for restart, ci, by, bx in _data_units(frame, members, dri):
        if restart:
            rd.align_and_consume_rst()
            preds = dict.fromkeys(members, 0)
            eobrun = 0
        blk = coefs[ci][by, bx]
        dc, ac = tables[ci]
        if ss == 0:
            if ah == 0:
                t = rd.decode_huff(dc)
                if t > 11:
                    raise ValueError("DC difference category %d (F.1.2.1 "
                                     "allows 0-11 at 8-bit)" % t)
                preds[ci] += _extend(rd.read_bits(t), t)
                blk[0] = preds[ci] << al
            elif rd.read_bits(1):
                blk[0] |= 1 << al
        if se == 0:
            continue
        if ah:
            eobrun = _refine_ac_block(rd, blk, ac, ss, se, al, eobrun)
            continue
        eobrun = _first_ac_block(rd, blk, ac, max(ss, 1), se, al, eobrun)
        if sequential and eobrun:
            raise ValueError("EOB run in a sequential scan (F.1.2.2 codes "
                             "one block's end only)")
    return _next_marker(data, rd.pos)


def _reconstruct_coefs(frame, coefs, qt):
    """Dequantize + IDCT the accumulated coefficient arrays — one batched
    ``_A.T @ blocks @ _A`` matmul per component over all its blocks —
    then upsample chroma, crop to the image size and convert YCbCr→RGB
    (JFIF)."""
    planes = []
    for c, cf in zip(frame["comps"], coefs):
        if c["tq"] not in qt:
            raise ValueError("missing DQT table %d for scan" % c["tq"])
        nby, nbx = cf.shape[:2]
        blocks = np.zeros((nby, nbx, 64))
        # qt tables are kept in DQT (zigzag) order, matching cf's indexing
        blocks[:, :, ZIGZAG] = cf.astype(np.float64) * qt[c["tq"]]
        px = _A.T @ blocks.reshape(nby, nbx, 8, 8) @ _A + 128.0
        p = px.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        p = _upsample(p, frame["vmax"] // c["v"], frame["hmax"] // c["h"])
        planes.append(p[:frame["h"], :frame["w"]])
    if len(planes) == 1:
        y = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return y[:, :, None]
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _tri2(p: np.ndarray, axis: int) -> np.ndarray:
    """2x triangular upsample with sample-centered alignment — the filter
    libjpeg's "fancy" upsampler uses (jdsample.c h2v1/h2v2):
    out[2i] = (3 p[i] + p[i-1])/4, out[2i+1] = (3 p[i] + p[i+1])/4,
    edges replicated."""
    p = np.moveaxis(p, axis, 0)
    prev = np.concatenate([p[:1], p[:-1]])
    nxt = np.concatenate([p[1:], p[-1:]])
    out = np.empty((2 * p.shape[0],) + p.shape[1:], dtype=p.dtype)
    out[0::2] = (3.0 * p + prev) / 4.0
    out[1::2] = (3.0 * p + nxt) / 4.0
    return np.moveaxis(out, 0, axis)


def _upsample(p: np.ndarray, fy: int, fx: int) -> np.ndarray:
    """Chroma upsampling: triangular for 2x factors (matches libjpeg's
    default), nearest-neighbor replication otherwise."""
    if fy == 2:
        p = _tri2(p, 0)
    elif fy > 1:
        p = np.repeat(p, fy, axis=0)
    if fx == 2:
        p = _tri2(p, 1)
    elif fx > 1:
        p = np.repeat(p, fx, axis=1)
    return p


def _first_ac_block(rd, blk, ac, ss, se, al, eobrun):
    """One block of an AC first scan (G.2.2, Figure G.3/G.5): run-length
    coding with EOBn end-of-band runs; new coefficients arrive scaled by
    2^Al. A sequential block's AC coefficients (F.2.2.2) are the same
    coding at Ss=1, Se=63, Al=0, where EOB is the EOBn with r=0. Returns
    the updated EOB run counter."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = rd.decode_huff(ac)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:              # ZRL: 16 zero coefficients
                k += 16
                continue
            eobrun = (1 << r) - 1    # EOBn: this block + 2^r-1+ext more
            if r:
                eobrun += rd.read_bits(r)
            break
        k += r
        if k > se:
            raise ValueError("AC index overrun")
        blk[k] = _extend(rd.read_bits(s), s) << al
        k += 1
    return eobrun


def _refine_ac_block(rd, blk, ac, ss, se, al, eobrun):
    """One block of an AC refinement scan (G.1.2.3): each
    already-nonzero coefficient in the band receives a correction bit;
    newly-nonzero coefficients are inserted at ±2^Al after skipping r
    zero-history positions. Mirrors the spec's decision flow (the same
    one libjpeg's jdphuff.c implements)."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = rd.decode_huff(ac)
            r, s = rs >> 4, rs & 15
            newval = 0
            if s == 0:
                if r != 15:          # EOBn
                    eobrun = 1 << r
                    if r:
                        eobrun += rd.read_bits(r)
                    break
                # ZRL: r=15 → skip 16 zero-history coefficients below
            elif s == 1:             # newly-nonzero coefficient
                newval = p1 if rd.read_bits(1) else -p1
            else:
                # G.1.2.3 allows only s in (0, 1) in a refinement scan;
                # anything else means the stream is desynchronized.
                raise ValueError(
                    "AC refinement scan with magnitude %d "
                    "(G.1.2.3 allows 0 or 1)" % s)
            while k <= se:           # advance r zero-history positions,
                v = int(blk[k])      # refining nonzero-history ones
                if v != 0:
                    if rd.read_bits(1) and not (v & p1):
                        blk[k] = v + (p1 if v > 0 else -p1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                blk[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:               # inside an EOB run every remaining
            v = int(blk[k])          # nonzero coefficient still refines
            if v != 0:
                if rd.read_bits(1) and not (v & p1):
                    blk[k] = v + (p1 if v > 0 else -p1)
            k += 1
        eobrun -= 1
    return eobrun


def _next_marker(data, pos):
    """Position of the next real marker at/after ``pos`` (skipping
    stuffed 0xFF00 and stray RSTn)."""
    while pos < len(data) - 1:
        if data[pos] == 0xFF:
            nxt = data[pos + 1]
            if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                pos += 2
                continue
            if nxt == 0xFF:
                pos += 1
                continue
            return pos
        pos += 1
    return len(data)



# ---- encoder (standard Annex K tables) ---------------------------------------

class _BitWriter:
    """Entropy bit writer with 0xFF byte stuffing (T.81 F.1.2.3)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s
        return bytes(self.out)

    def restart(self, m: int) -> None:
        """Pad to a byte boundary and emit RSTm (raw — restart markers
        are not stuffed)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + (m & 7)])


def _huff_codes(bits: list[int], vals: bytes) -> dict[int, tuple[int, int]]:
    """value -> (code, length) from canonical BITS/HUFFVAL."""
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _magnitude(v: int) -> tuple[int, int]:
    """(category t, t-bit code) for a signed value (T.81 F.1.2.1.1)."""
    t = int(v).bit_length() if v > 0 else int(-v).bit_length()
    return t, (v if v >= 0 else v + (1 << t) - 1)


def _scaled_q(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg-compatible quality scaling of a base table (jcparam.c)."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip(np.floor((base * scale + 50) / 100), 1, 255)




def _encode_dc(zz0: int, pred: int, dc_codes, bw: _BitWriter) -> int:
    """Huffman-code one DC difference, returning the new predictor."""
    t, code = _magnitude(zz0 - pred)
    c, ln = dc_codes[t]
    bw.write(c, ln)
    bw.write(code, t)
    return zz0


def _encode_ac_band(zz: np.ndarray, ac_codes, bw: _BitWriter) -> None:
    """Huffman-code coefficients 1..63 of one block: (run, size) symbols
    with ZRL and a terminal EOB (F.1.2.2). The identical coding is a
    legal progressive AC first scan at Ah=Al=0 — there 0x00 means an EOB
    run of exactly 1 (G.1.2.2), which is what baseline EOB does."""
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_codes[0xF0]                      # ZRL
            bw.write(c, ln)
            run -= 16
        t, code = _magnitude(v)
        c, ln = ac_codes[(run << 4) | t]
        bw.write(c, ln)
        bw.write(code, t)
        run = 0
    if last_nz < 63:
        c, ln = ac_codes[0x00]                          # EOB
        bw.write(c, ln)


def _quantize(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """FDCT + quantize every 8x8 block of an MCU-padded sample plane to
    zigzag-order integers, shape (blocks_y, blocks_x, 64) — one batched
    ``_A @ blocks @ _A.T`` matmul for the whole plane."""
    nby, nbx = plane.shape[0] // 8, plane.shape[1] // 8
    blocks = np.ascontiguousarray(
        (plane - 128.0).reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3))
    coef = (_A @ blocks @ _A.T).reshape(nby, nbx, 64)     # forward DCT
    return np.round(coef[..., ZIGZAG] / q[ZIGZAG]).astype(np.int64)


def _encode_scan(frame, coefs, members, ss, se, dri, codes) -> bytes:
    """Entropy-code one scan of the quantized ``coefs``: the DC
    difference of every data unit when Ss=0, coefficients 1..63 when
    Se=63 (the encoder's scan scripts use no other bands), in
    ``_data_units`` order with RSTn every ``dri`` MCUs. ``codes[tq]``
    holds the (DC, AC) Huffman codes of quantization table tq's
    component class."""
    bw = _BitWriter()
    preds = dict.fromkeys(members, 0)
    rst = 0
    for restart, ci, by, bx in _data_units(frame, members, dri):
        if restart:
            bw.restart(rst)
            rst = (rst + 1) & 7
            preds = dict.fromkeys(members, 0)
        zz = coefs[ci][by, bx]
        dc, ac = codes[frame["comps"][ci]["tq"]]
        if ss == 0:
            preds[ci] = _encode_dc(int(zz[0]), preds[ci], dc, bw)
        if se:
            _encode_ac_band(zz, ac, bw)
    return bw.flush()


_SUBSAMPLE = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}


def encode_jpeg(arr: np.ndarray, quality: int = 85,
                subsample: str = "444",
                scan_mode: str = "interleaved",
                dri: int = 0) -> bytes:
    """(h, w) / (h, w, 1) grayscale or (h, w, 3) RGB uint8 -> JPEG bytes
    (standard Annex K quant + Huffman tables, libjpeg quality scaling).
    ``subsample``: "444", "422" or "420" chroma subsampling
    (box-filtered; ignored for grayscale). ``scan_mode`` picks the scan
    script over the same quantized coefficients: "interleaved" (SOF0,
    one SOS over every component, A.2.3 MCU order), "separate" (SOF0,
    one SOS per component, A.2.2 order over the component's own
    ceil-grid), or "progressive" (SOF2, spectral selection only: an
    interleaved DC scan, then one full-band AC scan per component,
    Ah=Al=0). ``dri``: restart interval in MCUs; when > 0 a DRI segment
    is written and every scan carries RSTn markers. Deterministic: pure
    numpy arithmetic."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nc = arr.shape
    if nc not in (1, 3):
        raise ValueError("encode_jpeg takes gray or RGB input")
    every = list(range(nc))
    scripts = {"interleaved": [(every, 0, 63)],
               "separate": [([ci], 0, 63) for ci in every],
               "progressive": [(every, 0, 0)]
               + [([ci], 1, 63) for ci in every]}
    if scan_mode not in scripts:
        raise ValueError(f"unknown scan_mode {scan_mode!r}")
    hf, vf = _SUBSAMPLE[subsample] if nc == 3 else (1, 1)
    mh, mw = 8 * vf, 8 * hf                      # MCU size in samples
    ph, pw = -(-h // mh) * mh, -(-w // mw) * mw
    padded = np.pad(arr.astype(np.float64),
                    ((0, ph - h), (0, pw - w), (0, 0)), mode="edge")
    if nc == 3:
        r, g, b = padded[..., 0], padded[..., 1], padded[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if (hf, vf) != (1, 1):                   # box-filter downsample
            cb = cb.reshape(ph // vf, vf, pw // hf, hf).mean(axis=(1, 3))
            cr = cr.reshape(ph // vf, vf, pw // hf, hf).mean(axis=(1, 3))
        planes = [y, cb, cr]
    else:
        planes = [padded[..., 0]]
    frame = _frame(h, w, [{"id": ci + 1, "h": hf if ci == 0 else 1,
                           "v": vf if ci == 0 else 1, "tq": min(ci, 1)}
                          for ci in every],
                   progressive=scan_mode == "progressive")
    qts = [_scaled_q(_Q_LUM, quality)]
    if nc == 3:
        qts.append(_scaled_q(_Q_CHROM, quality))
    coefs = [_quantize(p, qts[c["tq"]])
             for p, c in zip(planes, frame["comps"])]

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    for tq, q in enumerate(qts):
        out += seg(0xDB, bytes([tq]) + q[ZIGZAG].astype(np.uint8).tobytes())
    comp_spec = b"".join(bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]])
                         for c in frame["comps"])
    out += seg(0xC2 if frame["progressive"] else 0xC0,
               struct.pack(">BHHB", 8, h, w, nc) + comp_spec)
    tables = [(_HUFF_DC_LUM, _HUFF_AC_LUM), (_HUFF_DC_CHROM, _HUFF_AC_CHROM)]
    for tq in range(len(qts)):
        for cls in (0, 1):
            bits, vals = tables[tq][cls]
            out += seg(0xC4, bytes([(cls << 4) | tq]) + bytes(bits) + vals)
    if dri:
        out += seg(0xDD, struct.pack(">H", dri))
    codes = [(_huff_codes(*dc), _huff_codes(*ac)) for dc, ac in tables]
    for members, ss, se in scripts[scan_mode]:
        # table selectors name only the tables the scan uses (Td for a DC
        # band, Ta for an AC band); component class tq picks the table
        uses = (0x10 if ss == 0 else 0) | (0x01 if se else 0)
        spec = b"".join(bytes([ci + 1, frame["comps"][ci]["tq"] * uses])
                        for ci in members)
        out += seg(0xDA, bytes([len(members)]) + spec + bytes([ss, se, 0]))
        out += _encode_scan(frame, coefs, members, ss, se, dri, codes)
    out += b"\xff\xd9"
    return bytes(out)
