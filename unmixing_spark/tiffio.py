"""Minimal pure-Python GeoTIFF reader for the reference's test fixtures.

The engine itself never reads TIFFs (its sources are parquet/Iceberg); this
exists solely so tests/test_golden_fixtures.py can load the reference's
bundled rasters (uncompressed, strip-based GDAL GeoTIFFs — see FIXTURES.md)
without GDAL and verify our operators against the reference's golden values
(test/tests.py). Returns the same (array(p,m,n), gt, nodata) triple shape
as utils.as_array (utils.py:45-63).
"""

from __future__ import annotations

import struct

import numpy as np

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8, 11: 4, 12: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 8: "h", 9: "i", 11: "f", 12: "d", 16: "Q", 17: "q"}


def _read_values(buf: bytes, endian: str, ftype: int, count: int,
                 value_field: bytes):
    size = _TYPE_SIZE.get(ftype, 1) * count
    if size <= 4:
        raw = value_field[:size]
    else:
        off = struct.unpack(endian + "I", value_field)[0]
        raw = buf[off: off + size]
    if ftype == 2:  # ASCII
        return raw.rstrip(b"\x00").decode("ascii", "replace")
    if ftype == 5:  # RATIONAL
        vals = struct.unpack(endian + "II" * count, raw)
        return [vals[i] / vals[i + 1] for i in range(0, len(vals), 2)]
    fmt = _TYPE_FMT.get(ftype)
    if fmt is None:
        return raw
    return list(struct.unpack(endian + fmt * count, raw))


def read_tiff(path: str):
    """→ (array float64 (p, m, n), gt 6-tuple, nodata float|None)."""
    with open(path, "rb") as f:
        buf = f.read()
    endian = "<" if buf[:2] == b"II" else ">"
    magic, ifd_off = struct.unpack(endian + "HI", buf[2:8])
    assert magic == 42, "classic TIFF expected"

    tags: dict[int, object] = {}
    while ifd_off:
        (n_entries,) = struct.unpack(endian + "H", buf[ifd_off: ifd_off + 2])
        for i in range(n_entries):
            e = ifd_off + 2 + i * 12
            tag, ftype, count = struct.unpack(endian + "HHI", buf[e: e + 8])
            tags[tag] = _read_values(buf, endian, ftype, count, buf[e + 8: e + 12])
        (ifd_off,) = struct.unpack(endian + "I", buf[ifd_off + 2 + n_entries * 12:
                                                     ifd_off + 6 + n_entries * 12])
        break  # GDAL band-sequential fixtures carry everything in IFD 0

    width = int(tags[256][0])
    height = int(tags[257][0])
    bits = tags.get(258, [8])
    spp = int(tags.get(277, [1])[0])
    compression = int(tags.get(259, [1])[0])
    assert compression == 1, f"compressed TIFF not supported ({compression})"
    planar = int(tags.get(284, [1])[0])
    sample_format = tags.get(339, [1] * spp)
    strip_offsets = tags[273]
    strip_counts = tags[279]
    rows_per_strip = int(tags.get(278, [height])[0])

    bps = int(bits[0])
    sf = int(sample_format[0])
    dtype = {(1, 8): np.uint8, (1, 16): np.uint16, (1, 32): np.uint32,
             (2, 8): np.int8, (2, 16): np.int16, (2, 32): np.int32,
             (3, 32): np.float32, (3, 64): np.float64}[(sf, bps)]
    dt = np.dtype(dtype).newbyteorder("<" if endian == "<" else ">")

    payload = b"".join(buf[int(o): int(o) + int(c)]
                       for o, c in zip(strip_offsets, strip_counts))
    arr = np.frombuffer(payload, dtype=dt)

    if planar == 2:  # band-sequential
        arr = arr.reshape(spp, height, width)
    else:  # pixel-interleaved
        arr = arr.reshape(height, width, spp).transpose(2, 0, 1)

    gt = None
    if 33550 in tags and 33922 in tags:
        sx, sy = float(tags[33550][0]), float(tags[33550][1])
        tp = tags[33922]
        # tiepoint: (i, j, k, x, y, z) — raster (i,j) maps to world (x,y)
        x0 = float(tp[3]) - float(tp[0]) * sx
        y0 = float(tp[4]) + float(tp[1]) * sy
        gt = (x0, sx, 0.0, y0, 0.0, -sy)

    nodata = None
    if 42113 in tags:
        try:
            nodata = float(str(tags[42113]).strip())
        except ValueError:
            nodata = None

    return arr.astype(np.float64), gt, nodata
