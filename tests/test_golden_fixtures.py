"""Golden-value tests against the reference's bundled GeoTIFF fixtures.

Reproduces every deterministic golden from /root/reference test/tests.py
with OUR kernels (pure NumPy — same code the tile UDFs ship). Goldens that
depend on pysptools internals (its RNG for PPI skewers, its cvxopt FCLS
bytes, its MNF scaling conventions) are replaced by the documented
invariants (SURVEY.md §7.4 fallback): constraint properties, eigen-order,
and our own pinned regression values.
"""

from __future__ import annotations

import numpy as np
import pytest

from unmixing_spark.functions.mnf import mnf_rotate
from unmixing_spark.functions.transforms import (
    biophysical_composition_index, ndvi, tasseled_cap)
from unmixing_spark.lsma.endmembers import (
    combine_dicts, convex_hull, hall_rectification, spectra_at_idx,
    spectra_at_xy)
from unmixing_spark.lsma.fcls import fcls_abundance
from unmixing_spark.lsma.ppi import ppi_local
from unmixing_spark.raster import masks
from unmixing_spark.spatial.affine import pixel_to_xy, xy_to_pixel
from unmixing_spark.tiffio import read_tiff

FIX = "/root/reference/unmixing/test"
needs_fix = pytest.mark.reference_fixtures(FIX)

CASES = {  # the reference's LSMA test candidate coordinates (tests.py:111-120)
    "Vegetation": [(341663, 4709229), (314333, 4694229), (301583, 4697919),
                   (320843, 4709769), (288053, 4741239)],
    "High/Bright": [(331583, 4690839), (343313, 4707999), (351143, 4718739),
                    (334913, 4709109), (305603, 4676919), (300683, 4707459),
                    (318923, 4724259)],
    "Low/Dark": [(325973, 4682799), (322193, 4678389), (321383, 4686279),
                 (320033, 4694229), (334793, 4700829), (350393, 4727439)],
}


@pytest.fixture(scope="module")
def multi7():
    return read_tiff(f"{FIX}/multi7_raster.tiff")


@pytest.fixture(scope="module")
def lt05():
    return read_tiff(f"{FIX}/LT05_020030_merge_19950712_stack_clip.tiff")


# ---- Tasseled Cap (tests.py:362-375) ---------------------------------------

@needs_fix
def test_tasseled_cap_golden(multi7):
    rast, gt, nd = multi7
    tm = tasseled_cap(rast, ncomp=6)
    assert tm.shape == (6, 74, 81)
    assert round(float(tm.mean()), 0) == 212.0
    assert (tm[:, 1, 1] == np.zeros(6)).all()
    assert (np.round(tm[:, 50, 50], 0) ==
            np.array([3269., 2328., -1752., -1140., 407., 18.])).all()


# ---- BCI (tests.py:377-391) -------------------------------------------------

@needs_fix
def test_bci_golden(multi7):
    rast, gt, nd = multi7
    bci = biophysical_composition_index(rast)
    assert bci.shape == (1, 74, 81)
    assert round(float(bci.mean()) * 100, 0) == -65.0
    assert round(float(bci[0, 1, 1]), 3) == -0.574
    assert round(float(bci[0, 50, 50]), 3) == -0.702


# ---- masks (tests.py:444-481, 534-545) ---------------------------------------

@needs_fix
def test_binary_mask_golden(multi7):
    rast, gt, nd = multi7
    masked = masks.binary_mask(rast, masks.density_slice(rast[4]))
    assert masked.shape == (6, 74, 81)
    assert round(float(masked.mean()), 0) == -3627.0
    assert (masked[:, 15, 19] == np.array([348, 576, 374, 3159, 2033, 2386])).all()


@needs_fix
def test_saturation_mask_golden(multi7):
    rast, gt, nd = multi7
    masked = masks.binary_mask(rast, masks.saturation_mask(rast))
    assert round(float(masked.mean()), 0) == 881.0
    assert (masked[:, 15, 19] == np.array([348, 576, 374, 3159, 2033, 2386])).all()


@needs_fix
def test_density_slice_golden(multi7):
    rast, gt, nd = multi7
    assert np.count_nonzero(masks.density_slice(rast[4])) == 2675
    assert np.count_nonzero(masks.density_slice(rast[4], threshold=500)) == 2642
    assert np.count_nonzero(
        masks.density_slice(rast[4], rel=np.greater_equal)) == 3319


@needs_fix
def test_cfmask_golden(multi7):
    rast, gt, nd = multi7
    mask_r, _, _ = read_tiff(f"{FIX}/multi7_mask.tiff")
    mask = masks.cfmask(mask_r)
    masked = masks.binary_mask(rast, mask)
    assert rast.diagonal()[0, 0] == 0
    assert masked.diagonal()[0, 0] == -9999


# ---- convex hull (tests.py:224-231) ------------------------------------------

def test_convex_hull_golden():
    assert convex_hull(CASES["High/Bright"]) == [
        (300683, 4707459), (305603, 4676919), (331583, 4690839),
        (351143, 4718739), (318923, 4724259)]


# ---- combine_dicts (tests.py:400-411) -----------------------------------------

def test_combine_dicts_golden():
    foo = {"a": [1, 2, 3], "b": [1]}
    bar = {"a": [4], "b": [2, 3]}
    assert combine_dicts(foo, bar) == {"a": [1, 2, 3, 4], "b": [1, 2, 3]}
    assert foo == {"a": [1, 2, 3], "b": [1]}
    assert bar == {"a": [4], "b": [2, 3]}


# ---- coordinates (tests.py:483-532) -------------------------------------------

@needs_fix
def test_pixel_xy_roundtrip():
    _, gt, _ = read_tiff(f"{FIX}/multi3_raster.tiff")
    rng = np.random.default_rng(42)
    coords = rng.integers(1, 70, (10, 2))
    xy = pixel_to_xy(coords, gt)
    back = xy_to_pixel(xy, gt)
    assert np.abs(back - coords).max() <= 1


@needs_fix
def test_spectra_golden():
    rast, gt, nd = read_tiff(f"{FIX}/multi3_raster.tiff")
    pixels = [(18, 0), (2, 59)]
    golden = np.array([[237, 418, 325], [507, 616, 445]])
    sp = spectra_at_idx(rast, pixels)
    assert sp.tolist() == golden.tolist()
    # via world coordinates (native projection units)
    xy = pixel_to_xy(np.array(pixels, dtype=float) + 0.5, gt)  # centers
    sp2 = spectra_at_xy(rast, xy, gt)
    assert sp2.tolist() == golden.tolist()


# ---- Hall rectification (tests.py:233-249) ------------------------------------

@needs_fix
def test_hall_rectification_golden(multi7):
    ref, gt_ref, _ = multi7
    sub, gt_sub, _ = read_tiff(f"{FIX}/multi7_raster2.tiff")
    control_sets = {
        "High/Bright": [(331501.45, 4694346.66), (319495.39, 4706820.66),
                        (298527.006, 4691417.99)],
        "Low/Dark": [(322577.40, 4658508.99), (361612.79, 4694665.62),
                     (378823.69, 4692132.56)],
    }
    out = hall_rectification(ref, sub, control_sets, control_sets,
                             gt_ref, gt_sub)
    assert out.shape == (6, 74, 81)
    # reference writes int32 (lsma.py:581 dtype) — truncate like the golden
    assert (out[:, 50, 50].astype(np.int32) ==
            np.array([17, 1331, 1442, 3422, 2916, 2708])).all()


# ---- SASMA concat shape (tests.py:85-101) ---------------------------------------

@needs_fix
def test_sasma_concat_shape(lt05):
    arr, gt, nd = lt05
    vbd, _, _ = read_tiff(f"{FIX}/LT05_020030_merge_19950712_VBD_endmember_PIFs.tiff")
    from unmixing_spark.sasma.learn import concat_endmember_arrays
    emv = np.where(vbd == 1, arr, 0)
    emb = np.where(vbd == 2, arr, 0)
    emd = np.where(vbd == 3, arr, 0)
    em = concat_endmember_arrays(emv, emb, emd)
    assert em.shape == (56639, 3, 6)


# ---- MNF invariants (tests.py:331-340 replaced per SURVEY §7.4) -----------------

@needs_fix
def test_mnf_eigen_order_and_whiteness(multi7):
    rast, gt, nd = multi7
    out, snr = mnf_rotate(rast)
    assert out.shape == rast.shape
    # eigen-order: SNR strictly decreasing (north-star MNF eigen-order)
    assert (np.diff(snr) <= 1e-9).all()
    # noise-whiteness: shift-difference variance of component i is ~2
    # (unit noise variance in whitened space)
    Y = out.reshape(6, -1).T
    dY = np.diff(Y, axis=0)
    noise_var = (dY ** 2).mean(axis=0)
    assert (noise_var[0] <= noise_var).all() or noise_var.max() / noise_var.min() < 50
    # pinned regression value (ours; the reference's pysptools-dependent
    # golden 132 is solver-convention-specific — SURVEY §7.4 fallback)
    diag0 = out.transpose(2, 1, 0).diagonal()[0].sum()
    assert abs(diag0 - 38.1291873507536) < 1e-6
    # SNR eigenvalues pinned: leading component carries ~19x noise variance
    assert abs(snr[0] - 18.69) < 0.01 and abs(snr[-1] - 1.0) < 0.01


# ---- PPI invariant (tests.py:342-356 replaced: seeded skewers) -------------------

@needs_fix
def test_ppi_pure_pixels(multi7):
    rast, gt, nd = multi7
    out, _ = mnf_rotate(rast)
    X = out.reshape(6, -1).T[:, :3]
    counts = ppi_local(X, n_skewers=10000, seed=42)
    # structure invariants: total hits == 2 * skewers; extremes concentrate
    assert counts.sum() == 20000
    assert (counts > 0).sum() < 200  # purity concentrates on few pixels


# ---- FCLS on the reference scene (tests.py:45-82 semantics) ----------------------

@needs_fix
def test_fcls_on_reference_scene(lt05):
    arr, gt, nd = lt05
    em_locs = [(326701, 4696895), (324978, 4699651), (328823, 4696835)]
    out, _ = mnf_rotate(arr)
    endmembers = spectra_at_xy(out, em_locs, gt)
    sub = out[:, 100:110, 100:110]
    X = sub.reshape(6, -1).T
    # q-1 component slice (Settle & Drake constraint, lsma.py:190-197)
    A = fcls_abundance(X[:, :2], endmembers[:, :2])
    assert A.shape == (100, 3)
    assert (A >= -1e-10).all()
    assert np.abs(A.sum(axis=1) - 1).max() < 1e-4
    # determinism across chunking == the reference's 1-vs-2-process test
    A2 = np.vstack([fcls_abundance(X[:37, :2], endmembers[:, :2]),
                    fcls_abundance(X[37:, :2], endmembers[:, :2])])
    assert np.allclose(A, A2, atol=1e-9)


@needs_fix
def test_spectra_at_xy_decimal_degrees():
    """The reference's dd flag (utils.py:1030 via get_coord_transform,
    utils.py:657-673): decimal-degree queries against the projected
    fixture (EPSG:32617, tests.py:555) must gather the same spectra as
    native UTM queries."""
    import numpy as np

    from unmixing_spark.spatial.reproject import (lonlat_from_utm,
                                                  utm_from_lonlat)
    rast, gt, nd = read_tiff(f"{FIX}/multi3_raster.tiff")
    native = [(gt[0] + 10.5 * gt[1], gt[3] + 12.5 * gt[5]),
              (gt[0] + 40.5 * gt[1], gt[3] + 33.5 * gt[5])]
    e = np.array([p[0] for p in native])
    n = np.array([p[1] for p in native])
    lon, lat = lonlat_from_utm(e, n, 32617)
    # closed-form reprojection round-trips to ~mm even at the far zone
    # edge (this fixture sits at easting ~150 km, 3.5 deg off the central
    # meridian) — vs the fixture's 3000 m pixels
    e2, n2 = utm_from_lonlat(lon, lat, 32617)
    assert np.abs(e2 - e).max() < 1e-2 and np.abs(n2 - n).max() < 1e-2
    want = spectra_at_xy(rast, native, gt)
    got = spectra_at_xy(rast, np.stack([lon, lat], axis=1), gt,
                        dd=True, epsg=32617)
    assert np.array_equal(got, want)
