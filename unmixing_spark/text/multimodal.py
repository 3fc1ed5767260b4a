"""Multimodal columns: opaque binary payloads + typed metadata + UDF plumbing.

Images/audio/video travel as `binary` columns with a metadata struct
(modality, codec, width/height/duration). The Spark-side plumbing
(schemas, Arrow batch shapes, partitioning) is real and tested, and two
REAL codecs are implemented from the public specs with only the stdlib:

- PNG (RFC 2083): full 8-bit decode — chunk walk, zlib inflate, all five
  scanline filters (None/Sub/Up/Average/Paeth) — for gray, gray+alpha,
  RGB and RGBA; encode with filter 0 + zlib. Interlaced or <8-bit PNGs
  raise NotImplementedError.
- BMP (24-bit BI_RGB): bottom-up rows, 4-byte padding, BGR order.
- JPEG baseline (ITU-T T.81 SOF0, text/jpeg.py): Huffman + IDCT +
  triangular chroma upsampling, gray/YCbCr, restart intervals — verified
  against independent gdk-pixbuf/libjpeg renderings (tests/test_jpeg.py).
  Progressive (SOF2) raises NotImplementedError.

The deterministic `fake/raw` codec remains for synthetic video payloads.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unmixing_spark.boundary import map_rows

FAKE_MAGIC = b"FAKE"
PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_PNG_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}


def encode_png(arr: np.ndarray) -> bytes:
    """(h, w, c) uint8 → PNG bytes (filter 0 scanlines, zlib deflate)."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _PNG_COLOR_TYPE[c], 0, 0, 0)
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + ctype + payload
                + struct.pack(">I", zlib.crc32(ctype + payload)))

    return (PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


def _png_unfilter(ftype: int, line: np.ndarray, prev: np.ndarray,
                  bpp: int) -> np.ndarray:
    """Reconstruct one scanline (RFC 2083 §6: None/Sub/Up/Average/Paeth)."""
    if ftype == 0:
        return line
    if ftype == 2:  # Up
        return (line.astype(np.uint16) + prev) % 256
    if ftype == 1:  # Sub — per-lane prefix sum mod 256
        out = line.copy()
        for lane in range(bpp):
            out[lane::bpp] = np.cumsum(line[lane::bpp], dtype=np.uint64) % 256
        return out
    # Average/Paeth carry a left-pixel recurrence, so the loop runs over
    # PIXELS while every per-step op is vectorized across the bpp lanes —
    # h·w numpy steps instead of h·w·c per-byte Python (the loop cannot be
    # removed outright: out[x] depends on out[x-1] through floor/mod).
    cur = line.reshape(-1, bpp).astype(np.int32)      # (w, bpp)
    up = prev.reshape(-1, bpp).astype(np.int32)
    res = np.empty_like(cur)
    left = np.zeros(bpp, dtype=np.int32)
    if ftype == 3:  # Average
        for x in range(cur.shape[0]):
            left = (cur[x] + ((left + up[x]) >> 1)) & 255
            res[x] = left
        return res.reshape(-1).astype(np.uint8)
    if ftype == 4:  # Paeth
        ul = np.zeros(bpp, dtype=np.int32)            # up-left pixel
        for x in range(cur.shape[0]):
            p = left + up[x] - ul
            pa = np.abs(p - left)
            pb = np.abs(p - up[x])
            pc = np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, up[x], ul))
            left = (cur[x] + pred) & 255
            res[x] = left
            ul = up[x]
        return res.reshape(-1).astype(np.uint8)
    raise ValueError(f"bad PNG filter type {ftype}")


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → (h, w, c) uint8. 8-bit, non-interlaced only."""
    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        ctype = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif ctype == b"IDAT":
            idat.append(payload)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color_type, _, _, interlace = ihdr
    if depth != 8 or interlace != 0 or color_type not in _PNG_CHANNELS:
        raise NotImplementedError(
            f"PNG depth={depth} color_type={color_type} interlace={interlace}"
            " not supported (8-bit non-interlaced gray/GA/RGB/RGBA only)")
    c = _PNG_CHANNELS[color_type]
    raw = zlib.decompress(b"".join(idat))
    stride = w * c
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    p = 0
    for y in range(h):
        ftype = raw[p]
        line = np.frombuffer(raw[p + 1:p + 1 + stride], dtype=np.uint8)
        p += 1 + stride
        prev = _png_unfilter(ftype, line, prev, c).astype(np.uint8)
        out[y] = prev
    return out.reshape(h, w, c)


def encode_bmp(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit BI_RGB BMP (bottom-up, BGR,
    4-byte-padded rows)."""
    arr = np.asarray(arr, dtype=np.uint8)
    h, w, c = arr.shape
    assert c == 3, "BMP writer is 24-bit RGB only"
    pad = (-3 * w) % 4
    rows = [arr[y, :, ::-1].tobytes() + b"\x00" * pad
            for y in range(h - 1, -1, -1)]
    pixels = b"".join(rows)
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels),
                       2835, 2835, 0, 0)
    return header + info + pixels


def decode_bmp(data: bytes) -> np.ndarray:
    """24-bit BI_RGB BMP → (h, w, 3) uint8 RGB."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    (offset,) = struct.unpack("<I", data[10:14])
    _, w, h, _, bpp, comp = struct.unpack("<IiiHHI", data[14:34])
    if bpp != 24 or comp != 0:
        raise NotImplementedError("BMP reader is 24-bit BI_RGB only")
    pad = (-3 * w) % 4
    stride = 3 * w + pad
    flip = h > 0
    h = abs(h)
    rows = np.frombuffer(data[offset:offset + stride * h],
                         dtype=np.uint8).reshape(h, stride)[:, :3 * w]
    img = rows.reshape(h, w, 3)[:, :, ::-1]
    return img[::-1] if flip else img


def encode_fake_image(arr: np.ndarray) -> bytes:
    """Deterministic fake codec: b'FAKE' + u16 h + u16 w + u8 channels +
    raw uint8 payload. Stands in for PNG/JPEG in tests."""
    h, w, c = arr.shape
    return FAKE_MAGIC + struct.pack("<HHB", h, w, c) + arr.astype(np.uint8).tobytes()


def decode_image(payload: bytes) -> np.ndarray:
    """Decode a binary image payload → (h, w, c) uint8 array.

    PNG, 24-bit BMP and JPEG (sequential and progressive) all decode for
    real (stdlib+numpy implementations from the public specs; JPEG in
    text/jpeg.py, verified against independent gdk-pixbuf/libjpeg
    renderings)."""
    if payload[:4] == FAKE_MAGIC:
        h, w, c = struct.unpack("<HHB", payload[4:9])
        return np.frombuffer(payload[9:9 + h * w * c], dtype=np.uint8).reshape(h, w, c)
    if payload[:8] == PNG_MAGIC:
        return decode_png(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"\xff\xd8":
        from unmixing_spark.text.jpeg import decode_jpeg
        return decode_jpeg(payload)
    raise ValueError("unknown image codec")


def image_features(frames: DataFrame) -> DataFrame:
    """Per-image (id, image) decode + per-channel stats, one Python
    decode per payload; a channel the image lacks reads NULL."""
    schema = ("id long, height int, width int, channels int, "
              "mean_r double, mean_g double, mean_b double")

    def _feat(i, payload):
        arr = decode_image(bytes(payload))
        means = arr.mean(axis=(0, 1))
        yield (int(i), *arr.shape,
               *(float(means[ch]) if ch < arr.shape[2] else float("nan")
                 for ch in range(3)))

    return map_rows(frames.select("id", "image"), _feat, schema)


def resize_images(frames: DataFrame, out_h: int, out_w: int) -> DataFrame:
    """Nearest-neighbor resize of each (id, image) row (pure NumPy —
    works for any decoded image), re-encoded with the fake codec.
    Demonstrates binary→binary transforms."""
    def _resize(i, payload):
        arr = decode_image(bytes(payload))
        ys = (np.arange(out_h) * arr.shape[0] // out_h)
        xs = (np.arange(out_w) * arr.shape[1] // out_w)
        yield int(i), encode_fake_image(arr[np.ix_(ys, xs)])

    return map_rows(frames.select("id", "image"), _resize,
                    "id long, image binary")


def _block_mean(a: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Area-mean downsample of a 2-D array to (out_h, out_w): each output
    cell averages its contiguous source block (boundaries k*n//out, the
    same integer grid the nearest-neighbor resizer uses), so the result
    is deterministic for any input size. Inputs smaller than the target
    on an axis are nearest-neighbor upsampled first."""
    for axis, out_n in ((0, out_h), (1, out_w)):
        n = a.shape[axis]
        if n < out_n:
            a = np.take(a, np.arange(out_n) * n // out_n, axis=axis)
            n = out_n
        starts = np.arange(out_n) * n // out_n
        counts = np.diff(np.append(starts, n)).astype(np.float64)
        sums = np.add.reduceat(a, starts, axis=axis)
        a = sums / (counts[:, None] if axis == 0 else counts[None, :])
    return a


def dhash64(arr: np.ndarray) -> int:
    """64-bit difference hash (Krawetz 2013, the LAION-style perceptual
    dedup key): ITU-R BT.601 luma -> 8x9 area-mean downsample -> 64
    left-vs-right brightness comparisons packed row-major MSB-first.
    Returned as a SIGNED 64-bit int so it lands in a Spark `bigint`
    column unchanged. Robust to re-encoding (PNG<->BMP bit-identical,
    JPEG within a few bits) because it keys on coarse luma structure,
    not pixel values."""
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 3:
        if a.shape[2] >= 3:
            a = 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]
        else:
            a = a[..., 0]
    m = _block_mean(a, 8, 9)
    v = 0
    for bit in (m[:, 1:] > m[:, :-1]).reshape(-1):
        v = (v << 1) | int(bit)
    return v - (1 << 64) if v >= (1 << 63) else v


def image_dhash(frames: DataFrame) -> DataFrame:
    """Per-image (id, image) decode + perceptual hash, (id, dhash bigint)
    out, one Python decode per payload. This is the map side of image
    near-dup dedup — the join side (dhash_pairs) is pure DataFrame ops,
    so only the unavoidable decode runs in Python."""

    def _hash(i, payload):
        yield int(i), dhash64(decode_image(bytes(payload)))

    return map_rows(frames.select("id", "image"), _hash, "id long, dhash long")


def dhash_pairs(hashes: DataFrame, hash_col: str = "dhash",
                max_hamming: int = 7, n_bands: int = 8) -> DataFrame:
    """Image near-dup pairs at Hamming distance <= max_hamming over the
    64-bit dHash, blocked on n_bands equal bit-slices (the Manku et al.
    2007 construction q_simhash_pairs uses): a pair differing in fewer
    bits than there are bands collides on an intact band by pigeonhole,
    so for max_hamming < n_bands the blocking is EXACT — the pytest pin
    asserts equality with the brute-force all-pairs answer. Candidate
    generation is a (band, value)-keyed self-join: O(images x n_bands)
    bucket rows, never all-pairs, which is the 100 TB shape (hot
    buckets are exact-duplicate clusters — run exact byte/hash dedup
    first, as with text)."""
    if not 64 % n_bands == 0:
        raise ValueError("n_bands must divide 64")
    if max_hamming >= n_bands:
        raise ValueError("pigeonhole exactness needs max_hamming < n_bands")
    width = 64 // n_bands
    mask = (1 << width) - 1
    h = hashes.select("id", F.col(hash_col).alias("h"))
    # arithmetic shift sign-extends negative hashes; the & mask keeps
    # exactly the band's bits, so band values are identical either way
    banded = (h.select(
        "id", "h",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("blk"),
                     F.shiftright(F.col("h"), b * width)
                     .bitwiseAND(F.lit(mask)).alias("bval"))
            for b in range(n_bands)])).alias("bb"))
        .select("id", "h", F.col("bb.blk").alias("blk"),
                F.col("bb.bval").alias("bval")))
    cand = (banded.alias("a")
            .join(banded.alias("b"),
                  (F.col("a.blk") == F.col("b.blk"))
                  & (F.col("a.bval") == F.col("b.bval"))
                  & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    F.col("a.h").alias("ha"), F.col("b.h").alias("hb"))
            .distinct())
    return (cand
            .withColumn("hamming",
                        F.expr("bit_count(ha ^ hb)").cast("long"))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def sample_video_frames(videos: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame sampling over (id, video) fake video payloads (concatenated
    fake-image frames): one output row per sampled frame — the UDTF-style
    expansion shape (1 row → m rows) a real ffmpeg sampler produces."""
    def _sample(i, payload):
        buf = bytes(payload)
        off, fno = 0, 0
        while off < len(buf):
            h, w, c = struct.unpack("<HHB", buf[off + 4:off + 9])
            size = 9 + h * w * c
            if fno % every_n == 0:
                yield int(i), fno, buf[off:off + size]
            off += size
            fno += 1

    return map_rows(videos.select("id", "video"), _sample,
                    "id long, frame_no int, image binary")


def frame_dhash(frames: DataFrame) -> DataFrame:
    """Per-frame (id, frame_no, image) decode + dHash keeping the
    (id, frame_no) key — the map side of video near-dup signatures."""

    def _hash(i, frame_no, payload):
        yield int(i), int(frame_no), dhash64(decode_image(bytes(payload)))

    return map_rows(frames.select("id", "frame_no", "image"), _hash,
                    "id long, frame_no int, dhash long")


def video_signatures(videos: DataFrame, every_n: int = 5) -> DataFrame:
    """64-bit video near-dup signature: sample frames, dHash each, then
    take the PER-BIT MAJORITY across sampled frames (the temporal
    pooling used for video copy detection over frame hashes — order-
    free, so it survives frame drops, insertions and re-sampling
    offsets; per-frame noise is voted away).

    Python touches only the unavoidable decode+hash; the majority vote
    is pure Spark SQL — one groupBy with 64 conditional-sum aggregates
    (JVM-side, whole-stage codegen, one exchange keyed by video id),
    rebuilt into a signed bigint so the result pairs with dhash_pairs.
    Reads (id, video) rows; returns (id, vhash, n_frames)."""
    hashes = frame_dhash(sample_video_frames(videos, every_n=every_n))
    aggs = [F.sum(F.shiftright(F.col("dhash"), k)
                  .bitwiseAND(F.lit(1))).alias(f"s{k}")
            for k in range(64)] + [F.count(F.lit(1)).alias("c")]
    per_bit = hashes.groupBy("id").agg(*aggs)
    # strict majority per bit; bit 63 re-enters as the sign term so the
    # packed value is the same signed 64-bit word dhash64 would emit
    low = sum((F.when(2 * F.col(f"s{k}") > F.col("c"), 1).otherwise(0)
               .cast("long") * F.lit(1 << k)) for k in range(63))
    sign = F.when(2 * F.col("s63") > F.col("c"),
                  F.lit(-(1 << 63)).cast("long")).otherwise(F.lit(0))
    return per_bit.select(
        "id", (low + sign).alias("vhash"),
        F.col("c").cast("int").alias("n_frames"))
