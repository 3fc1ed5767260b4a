"""Baseline JPEG decoder vs an INDEPENDENT decoder (gdk-pixbuf/libjpeg).

Fixtures under tests/fixtures/: four real-world baseline JPEGs from
public system packages (CPython test suite, IPython tests, Spark's mllib
data, gsutil's vendored requests) plus their gdk-pixbuf-thumbnailer
renderings to PNG at native size (decoded here by our own PNG decoder).
Tolerances: 4:4:4 and grayscale differ only by IDCT rounding (≤1 LSB);
4:2:0 adds chroma-upsampling filter differences (our triangular filter is
libjpeg's default shape but float, not libjpeg's exact integer rounding).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pytest

from unmixing_spark.text.jpeg import decode_jpeg
from unmixing_spark.text.multimodal import decode_image, decode_png

FIX = os.path.join(os.path.dirname(__file__), "fixtures")

CASES = [
    # (name, channels, mean_tol, max_tol)
    ("gray2x2", 1, 0.0, 0),          # 2x2 grayscale: bit-exact
    ("flower_444_dri", 3, 0.05, 1),  # 4:4:4 + restart markers: IDCT only
    ("py16_420", 3, 1.0, 8),         # 16x16 4:2:0 icon, sharp chroma
    ("spark_420", 3, 1.0, 8),        # 300x215 4:2:0 natural image
]


def _load(name):
    jpg = open(os.path.join(FIX, f"{name}.jpg"), "rb").read()
    ref = decode_png(open(os.path.join(FIX, f"{name}.ref.png"), "rb").read())
    return jpg, ref


@pytest.mark.parametrize("name,channels,mean_tol,max_tol", CASES)
def test_decode_matches_independent_decoder(name, channels, mean_tol, max_tol):
    jpg, ref = _load(name)
    img = decode_jpeg(jpg)
    assert img.shape[2] == channels
    if channels == 1:
        img = np.repeat(img, 3, axis=2)
    assert img.shape == ref.shape
    d = np.abs(img.astype(np.int64) - ref.astype(np.int64))
    assert d.mean() <= mean_tol, f"mean |Δ| = {d.mean()}"
    assert d.max() <= max_tol, f"max |Δ| = {d.max()}"


def test_decode_image_dispatches_jpeg():
    jpg, _ = _load("py16_420")
    img = decode_image(jpg)
    assert img.shape == (16, 16, 3)


PROG_CASES = [
    # prog_444: nodejs doc image, 4:4:4, spectral-selection luma bands
    # (1-8 / 9-63) + chroma AC successive approximation (Al=1 → refine).
    # Differs from libjpeg by IDCT rounding only.
    ("prog_444", 0.05, 2),
    # prog_422: rust embedded-book photo, 4:2:2, the canonical libjpeg
    # scan script — interleaved DC first at Al=1 + interleaved DC
    # refinement, luma AC in three bands at Al=2 with an Ah=2→1
    # refinement pass, chroma refinement — over subsampled
    # (non-interleaved ceil-grid) component geometry.
    ("prog_422", 0.6, 4),
]


@pytest.mark.parametrize("name,mean_tol,max_tol", PROG_CASES)
def test_progressive_decode_matches_independent_decoder(name, mean_tol,
                                                        max_tol):
    jpg, ref = _load(name)
    img = decode_jpeg(jpg)
    assert img.shape == ref.shape
    d = np.abs(img.astype(np.int64) - ref.astype(np.int64))
    assert d.mean() <= mean_tol, f"mean |Δ| = {d.mean()}"
    assert d.max() <= max_tol, f"max |Δ| = {d.max()}"


def test_arithmetic_coding_raises():
    # SOF9 (arithmetic sequential) stays out of scope
    sof9 = b"\xff\xd8\xff\xc9\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00"
    with pytest.raises(NotImplementedError, match="SOF"):
        decode_jpeg(sof9)


def test_truncated_raises():
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xdb\x00\x04\x00\x00")
    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")


def test_mutated_fixtures_raise_named_errors():
    """Malformed input raises a named error, never an IndexError,
    KeyError, struct.error or ZeroDivisionError out of the parser: 1-3
    seeded random bytes overwritten (past SOI) in each fixture, 25
    decodes per fixture, and every decode returns an array or raises
    ValueError/NotImplementedError. prog_422.jpg (259 KB, ~0.6 s a
    decode) sits out; prog_444 and enc_prog_dri_420 cover the
    progressive path."""
    rng = np.random.default_rng(17)
    names = sorted(n for n in os.listdir(FIX)
                   if n.endswith(".jpg") and n != "prog_422.jpg")
    escaped, decodes = [], 0
    for name in names:
        base = open(os.path.join(FIX, name), "rb").read()
        for _ in range(25):
            data = bytearray(base)
            for _ in range(rng.integers(1, 4)):
                data[rng.integers(2, len(data))] = rng.integers(256)
            decodes += 1
            try:
                assert isinstance(decode_jpeg(bytes(data)), np.ndarray)
            except (ValueError, NotImplementedError):
                pass
            except Exception as e:  # noqa: BLE001
                escaped.append((name, type(e).__name__, str(e)))
    assert decodes >= 250
    assert escaped == []


def test_zero_sampling_factor_raises():
    """A sampling factor of 0 in SOF is malformed (B.2.2 allows 1-4);
    it used to divide by zero in the frame geometry."""
    data = bytearray(open(os.path.join(FIX, "gray2x2.jpg"), "rb").read())
    s = next(s for m, s, _e in _jpeg_segments(bytes(data)) if m == 0xC0)
    data[s + 11] = 0x00       # component 1's HiVi byte
    with pytest.raises(ValueError, match="sampling factors"):
        decode_jpeg(bytes(data))


def _test_image():
    yy, xx = np.mgrid[0:40, 0:56]
    img = np.zeros((40, 56, 3), dtype=np.uint8)
    img[..., 0] = (yy * 4) % 256
    img[..., 1] = (xx * 3) % 256
    img[..., 2] = ((yy + xx) * 2) % 256
    img[10:20, 10:30] = [200, 40, 90]
    return img


def test_encoder_roundtrip():
    from unmixing_spark.text.jpeg import encode_jpeg
    img = _test_image()
    dec = decode_jpeg(encode_jpeg(img, quality=95))
    d = np.abs(dec.astype(np.int64) - img.astype(np.int64))
    assert d.mean() < 1.0 and d.max() <= 20     # q95 quantization loss
    gray = img[:, :, 0]
    decg = decode_jpeg(encode_jpeg(gray, quality=95))
    dg = np.abs(decg[:, :, 0].astype(np.int64) - gray.astype(np.int64))
    assert dg.mean() < 0.5 and dg.max() <= 8


def test_encoder_bitstream_readable_by_independent_decoder():
    """The committed fixture pair proves spec conformance: the encoder is
    deterministic (byte-equal re-encode) and gdk-pixbuf/libjpeg decoded
    those exact bytes (encoded_rgb_q90.ref.png, generated once at fixture
    build time) to within 2 LSB of our own decoder."""
    from unmixing_spark.text.jpeg import encode_jpeg
    enc = encode_jpeg(_test_image(), quality=90)
    fixture = open(os.path.join(FIX, "encoded_rgb_q90.jpg"), "rb").read()
    assert enc == fixture, "encoder no longer byte-reproduces the fixture"
    ref = decode_png(open(os.path.join(FIX, "encoded_rgb_q90.ref.png"),
                          "rb").read())
    ours = decode_jpeg(fixture)
    d = np.abs(ref.astype(np.int64) - ours.astype(np.int64))
    assert d.max() <= 2


@pytest.mark.parametrize("sub", ["422", "420"])
def test_encoder_subsampled_bitstream_independent(sub):
    """4:2:2 / 4:2:0 encodes: deterministic bytes + gdk-pixbuf/libjpeg
    decoded those exact bytes within 2 LSB of our decoder — covering the
    decoder's subsampled MCU interleave and the encoder's box filter."""
    from unmixing_spark.text.jpeg import encode_jpeg
    enc = encode_jpeg(_test_image(), quality=95, subsample=sub)
    fixture = open(os.path.join(FIX, f"enc_{sub}.jpg"), "rb").read()
    assert enc == fixture
    ref = decode_png(open(os.path.join(FIX, f"enc_{sub}.ref.png"), "rb").read())
    ours = decode_jpeg(fixture)
    assert np.abs(ref.astype(np.int64) - ours.astype(np.int64)).max() <= 2


def test_restart_interval_exercised():
    """flower_444_dri carries DRI + RSTn markers; count them to prove the
    restart path is really exercised, not just tolerated."""
    jpg, _ = _load("flower_444_dri")
    n_rst = sum(jpg.count(bytes([0xFF, 0xD0 + i])) for i in range(8))
    assert n_rst >= 10
    assert decode_jpeg(jpg).shape == (161, 161, 3)


# ---- malformed-stream guards (T.81 G.1.1.1.1 / G.1.2.3) ----

def _jpeg_segments(data):
    """[(marker, start, end)] — SOS segments include their entropy data."""
    import struct
    from unmixing_spark.text.jpeg import _next_marker
    segs = []
    pos = 2
    while pos < len(data) - 1:
        assert data[pos] == 0xFF
        marker = data[pos + 1]
        if marker == 0xD9:
            segs.append((marker, pos, pos + 2))
            break
        (length,) = struct.unpack(">H", data[pos + 2:pos + 4])
        end = pos + 2 + length
        if marker == 0xDA:
            end = _next_marker(data, end)
        segs.append((marker, pos, end))
        pos = end
    return segs


def _scan_blocks(data):
    """Group segments into (prelude, [scan_block...], trailer) where each
    scan block carries the DHT/DRI segments immediately preceding its SOS
    (progressive encoders emit per-scan tables)."""
    segs = _jpeg_segments(data)
    prelude_end = next(i for i, s in enumerate(segs) if s[0] == 0xDA)
    while prelude_end and segs[prelude_end - 1][0] in (0xC4, 0xDD):
        prelude_end -= 1
    blocks, cur = [], []
    for s in segs[prelude_end:]:
        if s[0] == 0xD9:
            break
        cur.append(s)
        if s[0] == 0xDA:
            blocks.append(cur)
            cur = []
    prelude = data[:segs[prelude_end][1]]
    return prelude, [b"".join(data[s[1]:s[2]] for s in blk)
                     for blk in blocks], b"\xff\xd9"


def test_progressive_ac_scan_before_dc_raises():
    jpg, _ = _load("prog_444")
    prelude, scans, eoi = _scan_blocks(jpg)
    assert len(scans) >= 2
    # first scan of a progressive file is the DC scan; move it last
    reordered = prelude + b"".join(scans[1:]) + scans[0] + eoi
    with pytest.raises(ValueError, match="AC scan before|missing DHT"):
        decode_jpeg(reordered)


def test_progressive_missing_dht_raises():
    jpg, _ = _load("prog_444")
    segs = _jpeg_segments(jpg)
    # drop every DHT segment: the first SOS must refuse, not KeyError
    keep = b"".join(jpg[s:e] for m, s, e in segs if m != 0xC4)
    with pytest.raises(ValueError, match="missing DHT"):
        decode_jpeg(b"\xff\xd8" + keep)


def test_progressive_refinement_ah_mismatch_raises():
    jpg, _ = _load("prog_444")
    segs = _jpeg_segments(jpg)
    data = bytearray(jpg)
    for m, s, e in segs:
        if m != 0xDA:
            continue
        ns = data[s + 4]
        ss_off = s + 5 + 2 * ns
        ss, ahal = data[ss_off], data[ss_off + 2]
        ah = ahal >> 4
        if ss != 0 and ah != 0:
            # claim one more refinement level than was delivered
            data[ss_off + 2] = ((ah + 1) << 4) | (ahal & 15)
            break
    else:
        pytest.skip("fixture has no AC refinement scan")
    with pytest.raises(ValueError, match="G.1.1.1.1"):
        decode_jpeg(bytes(data))


def test_refine_ac_bad_magnitude_raises():
    from unmixing_spark.text.jpeg import _refine_ac_block

    class _FakeReader:
        def decode_huff(self, _table):
            return 0x02            # r=0, s=2: illegal in a refinement scan

        def read_bits(self, n):
            return 0

    blk = np.zeros(64, dtype=np.int32)
    with pytest.raises(ValueError, match="G.1.2.3"):
        _refine_ac_block(_FakeReader(), blk, None, 1, 5, 0, 0)


@pytest.mark.parametrize("sub", ["444", "420"])
def test_encoder_separate_scans_bitstream_independent(sub):
    """Per-component (non-interleaved, T.81 A.2.2) baseline scans:
    deterministic bytes + gdk-pixbuf/libjpeg decoded those exact bytes
    within 2 LSB of our decoder — covering the decoder's per-component
    scan path and the encoder's A.2.2 data-unit order over the
    component ceil-grid (narrower than the MCU-padded plane for 4:2:0
    luma at this 40x56 size)."""
    from unmixing_spark.text.jpeg import encode_jpeg
    enc = encode_jpeg(_test_image(), quality=95, subsample=sub,
                      scan_mode="separate")
    fixture = open(os.path.join(FIX, f"enc_sep_{sub}.jpg"), "rb").read()
    assert enc == fixture
    ref = decode_png(open(os.path.join(FIX, f"enc_sep_{sub}.ref.png"),
                          "rb").read())
    ours = decode_jpeg(fixture)
    assert np.abs(ref.astype(np.int64) - ours.astype(np.int64)).max() <= 2


def test_separate_scan_decode_equals_interleaved():
    """Scan layout must not change pixels: separate-scan and interleaved
    encodes of the same image carry identical quantized coefficients, so
    the decodes are EXACTLY equal (also covers grayscale, whose
    single-component scan is always non-interleaved per A.2.2)."""
    from unmixing_spark.text.jpeg import encode_jpeg
    img = _test_image()
    for sub in ("444", "422", "420"):
        a = decode_jpeg(encode_jpeg(img, quality=95, subsample=sub))
        b = decode_jpeg(encode_jpeg(img, quality=95, subsample=sub,
                                    scan_mode="separate"))
        assert np.array_equal(a, b), sub
    g = img[..., 0]
    assert np.array_equal(
        decode_jpeg(encode_jpeg(g, quality=95)),
        decode_jpeg(encode_jpeg(g, quality=95, scan_mode="separate")))


def test_encoder_progressive_bitstream_independent():
    """Progressive (SOF2, spectral-selection scan script) encode with
    DRI: gdk-pixbuf/libjpeg decoded these exact bytes within 2 LSB of
    our decoder — the first independent-decoder coverage of the
    progressive RESTART path (the real-file fixtures carry no DRI)."""
    from unmixing_spark.text.jpeg import encode_jpeg
    enc = encode_jpeg(_test_image(), quality=95, subsample="420",
                      scan_mode="progressive", dri=4)
    fixture = open(os.path.join(FIX, "enc_prog_dri_420.jpg"), "rb").read()
    assert enc == fixture, "progressive encoder no longer byte-reproduces"
    n_rst = sum(fixture.count(bytes([0xFF, 0xD0 + i])) for i in range(8))
    assert n_rst >= 10, "fixture must actually exercise restarts"
    ref = decode_png(open(os.path.join(FIX, "enc_prog_dri_420.ref.png"),
                          "rb").read())
    ours = decode_jpeg(fixture)
    assert np.abs(ref.astype(np.int64) - ours.astype(np.int64)).max() <= 2


def test_progressive_encode_decode_equals_baseline():
    """Spectral-selection framing must not change pixels: the scan
    script delivers the same quantized coefficients, so our decode of
    our progressive encode equals the baseline decode EXACTLY — for all
    subsamplings, with and without restart intervals."""
    from unmixing_spark.text.jpeg import encode_jpeg
    img = _test_image()
    for sub in ("444", "422", "420"):
        base = decode_jpeg(encode_jpeg(img, quality=95, subsample=sub))
        for dri in (0, 4):
            prog = decode_jpeg(encode_jpeg(
                img, quality=95, subsample=sub,
                scan_mode="progressive", dri=dri))
            assert np.array_equal(base, prog), (sub, dri)
    g = img[..., 0]
    assert np.array_equal(
        decode_jpeg(encode_jpeg(g, quality=95)),
        decode_jpeg(encode_jpeg(g, quality=95,
                                scan_mode="progressive", dri=3)))


# ---- sha256 pins: decoder output and encoder bytes, frozen ----
#
# Any change to the coefficient path, the IDCT/FDCT arithmetic or the
# scan writers that moves one byte or one pixel shows up here.


def _sha(b):
    return hashlib.sha256(b).hexdigest()[:16]


def _pixels_sha(img):
    return _sha(str(img.shape).encode() + img.tobytes())


# fixture name -> digest of decode_jpeg(fixture bytes)
DECODE_PINS = {
    "enc_420": "ff335bf74cd91f35",
    "enc_422": "3b4266f62e58a9b1",
    "enc_prog_dri_420": "ff335bf74cd91f35",
    "enc_sep_420": "ff335bf74cd91f35",
    "enc_sep_444": "325b50f2f25446e6",
    "encoded_rgb_q90": "846b61aad7b47880",
    "flower_444_dri": "e07f19d0d3b266ae",
    "gray2x2": "72d6dc8d325b2349",
    "prog_422": "0dd5711806097f9a",
    "prog_444": "e0a6a2fdde55c442",
    "py16_420": "e50fe2343c436de1",
    "spark_420": "cd184b709db7bd1f",
}


@pytest.mark.parametrize("name", sorted(DECODE_PINS))
def test_fixture_decode_pinned(name):
    jpg = open(os.path.join(FIX, f"{name}.jpg"), "rb").read()
    assert _pixels_sha(decode_jpeg(jpg)) == DECODE_PINS[name]


# "kind-quality-subsample" -> (decoded pixels, then the encoded bytes of
# each (scan_mode, dri) in _PINNED_SCRIPTS). Every scan mode and restart
# interval carries the same quantized coefficients, so all of them decode
# to the one pixel digest. Grayscale ignores the subsampling argument.
_PINNED_SCRIPTS = [("interleaved", 0), ("separate", 0),
                   ("progressive", 0), ("progressive", 3)]
CODEC_PINS = {
    "rgb-q50-444": ("a9229fe618db61b2", "4d75f7030cbb9936", "4ae3b9b8d45ab048",
                    "7e8b9633ec549403", "e5486c3fbcf70129"),
    "rgb-q50-422": ("7b641aa5650d2dfa", "b1aa55bd0ecea542", "c76d756637fb1d13",
                    "f87b513332f7b5c8", "dfb590eaba7c5dc1"),
    "rgb-q50-420": ("4344bc2b9d258e9f", "b05cc01613186b36", "6e3d118b9b305e09",
                    "67303aeac5899f10", "d24dd195a204f034"),
    "rgb-q90-444": ("846b61aad7b47880", "8e0e1370555ae24b", "df2a4cfe4514e44b",
                    "04c2474a8af16e9e", "d71b1db2c1d5cbe8"),
    "rgb-q90-422": ("679bb2cb39b663f1", "a2688ad3c6008135", "bcb611a94711cbf3",
                    "9a6429373ebbafab", "4245e9b90ccab7d9"),
    "rgb-q90-420": ("19b8ebd12706f291", "50d75843c2fa428b", "abd68e9fe4cfbc12",
                    "0c5ee7bd9b91fbcf", "f44ad552a6acef8b"),
    "gray-q50-444": ("5000c87190efa8fe", "3b686de0369e9b0b", "3b686de0369e9b0b",
                     "cece60c94ecaf98b", "7472bd23c48fda24"),
    "gray-q50-422": ("5000c87190efa8fe", "3b686de0369e9b0b", "3b686de0369e9b0b",
                     "cece60c94ecaf98b", "7472bd23c48fda24"),
    "gray-q50-420": ("5000c87190efa8fe", "3b686de0369e9b0b", "3b686de0369e9b0b",
                     "cece60c94ecaf98b", "7472bd23c48fda24"),
    "gray-q90-444": ("df13359dcbdd043d", "ecd525dc08ea0685", "ecd525dc08ea0685",
                     "9247f8f656db1fa9", "58423a2ac7cc121f"),
    "gray-q90-422": ("df13359dcbdd043d", "ecd525dc08ea0685", "ecd525dc08ea0685",
                     "9247f8f656db1fa9", "58423a2ac7cc121f"),
    "gray-q90-420": ("df13359dcbdd043d", "ecd525dc08ea0685", "ecd525dc08ea0685",
                     "9247f8f656db1fa9", "58423a2ac7cc121f"),
}


@pytest.mark.parametrize("case", sorted(CODEC_PINS))
def test_codec_matrix_pinned(case):
    from unmixing_spark.text.jpeg import encode_jpeg
    kind, q, sub = case.split("-")
    img = _test_image()
    if kind == "gray":
        img = img[..., 0]
    px, *byte_pins = CODEC_PINS[case]
    for (mode, dri), want in zip(_PINNED_SCRIPTS, byte_pins):
        enc = encode_jpeg(img, quality=int(q[1:]), subsample=sub,
                          scan_mode=mode, dri=dri)
        assert _sha(enc) == want, (mode, dri)
    for mode in ("interleaved", "separate", "progressive"):
        for dri in (0, 3):
            enc = encode_jpeg(img, quality=int(q[1:]), subsample=sub,
                              scan_mode=mode, dri=dri)
            assert _pixels_sha(decode_jpeg(enc)) == px, (mode, dri)


# ---- sequential scans through the shared scan walker ----

def test_sequential_eob_run_raises():
    """EOBn with r > 0 (an end-of-band run over several blocks) exists
    only in progressive AC scans (G.1.2.2); a sequential block ends with
    EOB alone (F.1.2.2). Relabel the AC-luma code of EOB (HUFFVAL 0x00)
    as EOB2 (0x10) and the first luma block's end must refuse."""
    data = bytearray(open(os.path.join(FIX, "encoded_rgb_q90.jpg"),
                          "rb").read())
    for m, s, _e in _jpeg_segments(bytes(data)):
        if m == 0xC4 and data[s + 4] == 0x10:        # DHT class 1, id 0
            vals = s + 4 + 17
            eob = data.index(0x00, vals)
            assert eob < vals + sum(data[s + 5:s + 21])
            data[eob] = 0x10
            break
    else:
        pytest.fail("fixture has no AC-luma DHT")
    with pytest.raises(ValueError, match="EOB run in a sequential scan"):
        decode_jpeg(bytes(data))


def test_dc_category_out_of_range_raises():
    """An 8-bit DC difference has category 0-11 (F.1.2.1); a DHT that
    maps a code to a larger one must refuse, not read that many bits
    and overflow the coefficient arrays."""
    data = bytearray(open(os.path.join(FIX, "encoded_rgb_q90.jpg"),
                          "rb").read())
    for m, s, _e in _jpeg_segments(bytes(data)):
        if m == 0xC4 and data[s + 4] == 0x00:        # DHT class 0, id 0
            vals = s + 4 + 17
            data[vals:vals + sum(data[s + 5:s + 21])] = bytes(
                [200] * sum(data[s + 5:s + 21]))
            break
    with pytest.raises(ValueError, match="DC difference category"):
        decode_jpeg(bytes(data))


@pytest.mark.parametrize("mode", ["interleaved", "separate", "progressive"])
def test_restart_interval_every_scan_mode(mode):
    """dri > 0 writes DRI and RSTn in every scan mode; restart markers
    reset the DC predictors but carry no coefficients, so the decode
    equals the dri=0 decode exactly."""
    from unmixing_spark.text.jpeg import encode_jpeg
    img = _test_image()
    for sub in ("444", "422", "420"):
        enc = encode_jpeg(img, quality=90, subsample=sub, scan_mode=mode,
                          dri=3)
        assert any(m == 0xDD for m, _s, _e in _jpeg_segments(enc))
        assert sum(enc.count(bytes([0xFF, 0xD0 + i])) for i in range(8)) >= 3
        plain = encode_jpeg(img, quality=90, subsample=sub, scan_mode=mode)
        assert np.array_equal(decode_jpeg(enc), decode_jpeg(plain)), sub


def test_sequential_scan_over_some_components(monkeypatch):
    """A sequential scan over 2 of 3 components interleaves them in MCU
    order (A.2.3) and the third follows in its own scan (A.2.2). Re-code
    a 4:2:0 image's coefficients as scans [Y, Cb] + [Cr] with the
    codec's own scan writer: the decode equals the one-scan decode."""
    from unmixing_spark.text import jpeg
    base = jpeg.encode_jpeg(_test_image(), quality=90, subsample="420")
    seen = {}
    real = jpeg._reconstruct_coefs

    def capture(frame, coefs, qt):
        seen.update(frame=frame, coefs=coefs)
        return real(frame, coefs, qt)

    monkeypatch.setattr(jpeg, "_reconstruct_coefs", capture)
    want = decode_jpeg(base)
    monkeypatch.undo()
    codes = [(jpeg._huff_codes(*jpeg._HUFF_DC_LUM),
              jpeg._huff_codes(*jpeg._HUFF_AC_LUM)),
             (jpeg._huff_codes(*jpeg._HUFF_DC_CHROM),
              jpeg._huff_codes(*jpeg._HUFF_AC_CHROM))]
    sos = base.index(b"\xff\xda")
    out = bytearray(base[:sos])
    for members in ([0, 1], [2]):
        spec = b"".join(bytes([ci + 1, 0 if ci == 0 else 0x11])
                        for ci in members)
        payload = bytes([len(members)]) + spec + b"\x00\x3f\x00"
        out += b"\xff\xda" + (len(payload) + 2).to_bytes(2, "big") + payload
        out += jpeg._encode_scan(seen["frame"], seen["coefs"], members,
                                 0, 63, 0, codes)
    out += b"\xff\xd9"
    assert np.array_equal(decode_jpeg(bytes(out)), want)
