"""Composite semantics goldens (reference tests.py:179-222, 262-329) and
SASMA kernel/focal goldens."""

from __future__ import annotations

import warnings

import numpy as np

from unmixing_spark.raster.composite import composite2, composite3, fill_nodata_bandwise
from unmixing_spark.sasma.focal import normalized_convolution
from unmixing_spark.sasma.kernels import eye_kernel, kernel_idw_l1

ND = -9999.0

EX1 = [  # the reference's multi-date example (tests.py:183-207)
    np.array([[[-9999., 0.1], [-9999., -9999.]], [[-9999., 0.5], [-9999., -9999.]]]),
    np.array([[[-9999., 0.9], [-9999., -9999.]], [[-9999., 0.2], [-9999., -9999.]]]),
    np.array([[[-9999., 0.03], [-9999., -9999.]], [[-9999., 0.03], [-9999., -9999.]]]),
    np.array([[[-9999., -9999.], [-9999., 0.2]], [[-9999., -9999.], [-9999., 0.2]]]),
    np.array([[[-9999., 0.3], [0.4, 0.5]], [[-9999., 0.3], [0.4, 0.5]]]),
]


def test_composite2_goldens():
    out = np.round(composite2(("max", "median"), *EX1, normalize=None), 2)
    assert (out == np.array([[[-9999., 0.9], [0.4, 0.5]],
                             [[-9999., 0.25], [0.4, 0.35]]])).all()
    out = np.round(composite2(("min", "median"), *EX1, normalize=None), 2)
    assert (out == np.array([[[-9999., 0.03], [0.4, 0.2]],
                             [[-9999., 0.25], [0.4, 0.35]]])).all()
    # dtype=int must NOT corrupt the masked path (tests.py:211)
    out = np.round(composite2(("max", "median"), *EX1, normalize=None, dtype=int), 2)
    assert (out == np.array([[[-9999., 0.9], [0.4, 0.5]],
                             [[-9999., 0.25], [0.4, 0.35]]])).all()


def test_composite3_goldens():
    out = np.round(composite3(("max", "median"), *EX1, normalize=None), 2)
    assert (out == np.array([[[-9999., 0.9], [0.4, 0.5]],
                             [[-9999., 0.25], [0.4, 0.35]]])).all()
    # plain 'min' does NOT strip NoData (tests.py:216)
    out = np.round(composite3(("min", "median"), *EX1, normalize=None), 2)
    assert (out[0] == -9999.).all()
    # the int dtype-coercion trap (tests.py:218, 262-329)
    out = np.round(composite3(("max", "median"), *EX1, normalize=None, dtype=int), 2)
    assert (out == np.array([[[-9999., 0.9], [0.4, 0.5]],
                             [[-9999., 0.], [0., 0.]]])).all()


def test_composite_none_subtracts_endmember():
    out = composite2(("max", None), *EX1, normalize=None)
    assert (out == np.array([[[-9999., 0.9], [0.4, 0.5]]])).all()
    out = composite3(("max", None), *EX1, normalize=None)
    assert (out == np.array([[[-9999., 0.9], [0.4, 0.5]]])).all()
    # normalize='sum' under a single band -> all non-null pixels equal 1
    out = composite2(("max", None), *EX1, normalize="sum")
    assert (out == np.array([[[-9999., 1.], [1., 1.]]])).all()
    out = composite3(("max", None), *EX1, normalize="sum")
    assert (out == np.array([[[-9999., 1.], [1., 1.]]])).all()


def test_composite_goldens_raise_no_runtime_warning():
    """All-NoData pixels are expected input: the kernels handle them
    without a numpy RuntimeWarning (all-NaN slice, NaN-to-int cast)."""
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        test_composite2_goldens()
        test_composite3_goldens()
        test_composite_none_subtracts_endmember()


def test_fill_nodata_bandwise():
    cube = np.array([[[1.0, ND], [3.0, ND]]])
    out = fill_nodata_bandwise(cube)
    assert (out == np.array([[[1.0, 2.0], [3.0, 2.0]]])).all()


def test_idw_kernel_goldens():
    """The docstring tables of sasma.kernel_idw_l1 (sasma.py:139-186)."""
    w = kernel_idw_l1(5)
    inv = np.where(w == 0, 0, np.round(1 / np.where(w == 0, np.inf, w)))
    assert (inv == np.array([[4, 3, 2, 3, 4], [3, 2, 1, 2, 3], [2, 1, 0, 1, 2],
                             [3, 2, 1, 2, 3], [4, 3, 2, 3, 4]])).all()
    wm = kernel_idw_l1(5, moore_contiguity=True)
    invm = np.where(wm == 0, 0, np.round(1 / np.where(wm == 0, np.inf, wm)))
    assert (invm == np.array([[2, 2, 2, 2, 2], [2, 1, 1, 1, 2], [2, 1, 0, 1, 2],
                              [2, 1, 1, 1, 2], [2, 2, 2, 2, 2]])).all()
    assert abs(kernel_idw_l1(5, normalize=True).sum() - 1.0) < 1e-12
    e = eye_kernel(3)
    assert e[1, 1] == 0 and e.sum() == 8


def test_normalized_convolution_excludes_zeros():
    """Zero (masked) pixels contribute to neither numerator nor weight sum
    (sasma.py:285-292)."""
    band = np.array([[0.0, 2.0, 0.0],
                     [2.0, 0.0, 4.0],
                     [0.0, 4.0, 0.0]])
    w = eye_kernel(3)
    out = normalized_convolution(band, w)[0]
    # center: neighbors {2,2,4,4} weights 1 -> mean 3
    assert abs(out[1, 1] - 3.0) < 1e-12
    # corner (0,0): window covers [0,2],[2,0] nonzero -> mean 2
    assert abs(out[0, 0] - 2.0) < 1e-12
