"""Endmember induction: spectra gathers, convex hull, combination search.

Candidate sets are tiny (tens of points — lsma.py:587-655 iterates
itertools combinations), so the search itself is driver-side NumPy after a
distributed spectra-gather join (queries/spatial_q.q_spectra_at_xy is the
relational form; queries/linalg_q has the SQL cross-join forms). The
hull composes under union (hull(A ∪ B) = hull(hull(A) ∪ hull(B))), so the
scale path is per-partition hull → hull-of-hulls.
"""

from __future__ import annotations

from itertools import combinations, product

import numpy as np

from unmixing_spark.raster import NODATA
from unmixing_spark.spatial.affine import GT, xy_to_pixel


def spectra_at_idx(cube: np.ndarray, idx) -> np.ndarray:
    """Gather spectra at (col, row) pixel indices from a (p, m, n) cube →
    (q, p). Matches utils.spectra_at_idx (utils.py:1000-1009), which
    indexes the HSI transpose by (x, y)."""
    return np.array([cube[:, r, c] for c, r in idx])


def spectra_at_xy(cube: np.ndarray, xy, gt: GT, dd: bool = False,
                  epsg: int | None = None) -> np.ndarray:
    """World coords → truncating pixel lookup → spectra (utils.py:1012-1033).

    dd=True accepts decimal-degree coordinates against a projected raster,
    like the reference's dd flag (utils.py:1030, via get_coord_transform,
    utils.py:657-673): coordinates are reprojected closed-form to the
    raster's UTM CRS (``epsg``, e.g. 32617 for the reference fixtures)
    before the inverse-affine lookup."""
    pts = np.asarray(xy, dtype=np.float64)
    if dd:
        if epsg is None:
            raise ValueError("dd=True requires the raster's UTM epsg")
        from unmixing_spark.spatial.reproject import utm_from_lonlat
        e, n = utm_from_lonlat(pts[:, 0], pts[:, 1], epsg)
        pts = np.stack([e, n], axis=1)
    return spectra_at_idx(cube, xy_to_pixel(pts, gt))


def convex_hull(points, indices: bool = False):
    """Convex hull in CCW order via Andrew's monotone chain; returns the
    same vertex cycle as the reference's Graham scan (lsma.py:333-364),
    starting from the lexicographically smallest point."""
    pts = sorted(map(tuple, points))

    def half(seq):
        out: list[tuple] = []
        for r in seq:
            while len(out) > 1 and (
                (out[-1][0] - out[-2][0]) * (r[1] - out[-2][1])
                - (r[0] - out[-2][0]) * (out[-1][1] - out[-2][1])
            ) <= 0:
                out.pop()
            if not out or out[-1] != r:
                out.append(r)
        return out

    lower = half(pts)
    upper = half(reversed(pts))
    hull = lower + upper[1:-1]
    if indices:
        # dict lookup instead of list.index: O(n + h), first occurrence
        # wins for duplicate points (same answer list.index gave)
        first_at: dict[tuple, int] = {}
        for i, p in enumerate(map(tuple, points)):
            first_at.setdefault(p, i)
        return [first_at[h] for h in hull], hull
    return hull


def _candidate_groups(cases, cube, gt, ncom: int, ndim: int):
    """cases may be a dict {class: [(x, y), ...]} (grouped product search,
    lsma.py:616-632: ONE candidate from every group, regardless of ncom)
    or a flat coordinate sequence (ncom-combinations, lsma.py:634-644).
    Spectra are truncated to the leading ``ndim`` components at gather
    time, exactly like iterate_endmember_combinations' ``[..., 0:ndim]``
    slice (lsma.py:621, 637)."""
    if isinstance(cases, dict):
        groups = [[(xy, spectra_at_xy(cube, [xy], gt)[0][:ndim]) for xy in v]
                  for v in cases.values()]
        return list(product(*groups))
    cands = [(xy, spectra_at_xy(cube, [xy], gt)[0][:ndim]) for xy in cases]
    return list(combinations(cands, min(ncom, len(cands))))


def endmembers_by_maximum_volume(cube, cases, ref_target=None, ndim: int = 3,
                                 gt: GT = None):
    """argmax |det| of the (ndim x ndim) spectra matrix over candidate
    combos (lsma.py:461-498). Reference semantics exactly: spectra are
    truncated to ndim components, and a fixed ref_target (prepended,
    494-497) shrinks the combination size to ndim-1 so the matrix stays
    square (iterate_endmember_combinations, lsma.py:624/641)."""
    ref = None
    if ref_target is not None:
        ref = spectra_at_xy(cube, [ref_target], gt)[0][:ndim]
        if isinstance(cases, dict):
            # the reference's own constraint (lsma.py:622-623): grouped
            # search takes ONE candidate per group, so with a ref_target
            # the group count must be ndim-1 for the matrix to stay square
            assert ndim == len(cases) + 1, (
                "Number of groups among target endmembers should be one "
                "less than the dimensionality when ref_target is used")
    ncom = ndim - (1 if ref is not None else 0)
    combos = _candidate_groups(cases, cube, gt, ncom, ndim)
    best, best_v = None, -np.inf
    for combo in combos:
        spectra = [ref] if ref is not None else []
        spectra += [s for _, s in combo]
        m = np.array(spectra, dtype=np.float64)
        v = abs(np.linalg.det(m))
        if v > best_v:
            best_v, best = v, combo
    coords = ([ref_target] if ref_target is not None else []) + [xy for xy, _ in best]
    spectra = ([ref] if ref is not None else []) + [s for _, s in best]
    return np.array(spectra), coords


def endmembers_by_maximum_area(cube, cases, area_dim: int = 2,
                               ndim: int = 3, gt: GT = None):
    """argmax triangle area 0.5*||cross(b-a, c-a)|| over ndim-combinations,
    scored on the leading ``area_dim`` components (lsma.py:432-458;
    area_dim=2 is the reference default at 433)."""
    combos = _candidate_groups(cases, cube, gt, ndim, ndim)
    best, best_a = None, -np.inf
    for combo in combos:
        if len(combo) < 3:
            continue
        a, b, c = (np.asarray(s[:area_dim], dtype=np.float64)
                   for _, s in combo[:3])
        u, v = b - a, c - a
        if area_dim == 2:  # np.cross on 2-vectors is removed in NumPy 2
            area = 0.5 * abs(u[0] * v[1] - u[1] * v[0])
        else:
            area = 0.5 * np.linalg.norm(np.cross(u, v))
        if area > best_a:
            best_a, best = area, combo
    return np.array([s for _, s in best]), [xy for xy, _ in best]


def endmembers_by_maximum_angle(cube, cases, ref_target, gt: GT = None):
    """argmax angle at the fixed reference vertex between pairs of
    candidate unit vectors — arccos of the clipped dot product
    (lsma.py:367-429, angle calc at 384-392)."""
    cands = [(xy, spectra_at_xy(cube, [xy], gt)[0]) for xy in
             (cases if not isinstance(cases, dict) else
              [xy for v in cases.values() for xy in v])]
    ref = spectra_at_xy(cube, [ref_target], gt)[0].astype(np.float64)
    best, best_ang = None, -np.inf
    for (xy1, s1), (xy2, s2) in combinations(cands, 2):
        u = np.asarray(s1, dtype=np.float64) - ref
        v = np.asarray(s2, dtype=np.float64) - ref
        nu, nv = np.linalg.norm(u), np.linalg.norm(v)
        if nu == 0 or nv == 0:
            continue
        ang = np.arccos(np.clip(u @ v / (nu * nv), -1.0, 1.0))
        if ang > best_ang:
            best_ang, best = ang, ((xy1, s1), (xy2, s2))
    spectra = [ref] + [s for _, s in best]
    coords = [ref_target] + [xy for xy, _ in best]
    return np.array(spectra), coords


def hall_rectification(reference: np.ndarray, subject: np.ndarray,
                       ref_sets: dict, sub_sets: dict, gt_ref: GT, gt_sub: GT,
                       keys=("High/Bright", "Low/Dark"),
                       nodata: float = NODATA) -> np.ndarray:
    """Radiometric rectification after Hall et al. (1991): per-band linear
    map m·x + b fitted so the subject's bright/dark control-set means match
    the reference's (lsma.py:523-584). NoData-filtered control means;
    NoData re-stamped on output (577)."""
    def control_mean(cube, coords, gt):
        s = spectra_at_xy(cube, coords, gt)
        return s[s[:, 0] != nodata].mean(axis=0)

    bright_ref = control_mean(reference, ref_sets[keys[0]], gt_ref)
    dark_ref = control_mean(reference, ref_sets[keys[1]], gt_ref)
    mean_bright = control_mean(subject, sub_sets[keys[0]], gt_sub)
    mean_dark = control_mean(subject, sub_sets[keys[1]], gt_sub)

    m = (bright_ref - dark_ref) / (mean_bright - mean_dark)
    b = (dark_ref * mean_bright - mean_dark * bright_ref) / (mean_bright - mean_dark)

    p, mm, nn = subject.shape
    out = (subject.reshape(p, -1) * m[:, None] + b[:, None]).reshape(p, mm, nn)
    out[subject == nodata] = nodata
    return out


def nfindr(candidates: np.ndarray, q: int, max_iter: int = 10,
           seed: int = 42) -> np.ndarray:
    """N-FINDR endmember extraction (Winter 1999): iteratively swap
    candidate pixels into a q-simplex to maximize |det| volume.

    The reference wraps pysptools.eea.NFINDR (lsma.py:122-123); this is a
    fresh implementation of the published algorithm over an explicit
    candidate matrix (N, p) with p >= q-1 — run it on PPI survivors or a
    sample, never the full table (the candidate pre-filter IS the
    distributed stage; see lsma/ppi.py). Deterministic: seeded init,
    first-improvement sweep order. Returns indices of the q endmembers."""
    X = np.asarray(candidates, dtype=np.float64)[:, :q - 1]  # affine dim
    n = len(X)
    rng = np.random.default_rng(seed)
    idx = list(rng.choice(n, size=q, replace=False))

    def volume(ids):
        # |det [1; x_i]| — simplex volume up to a constant
        m = np.vstack([np.ones(q), X[ids].T])
        return abs(np.linalg.det(m))

    best = volume(idx)
    for _ in range(max_iter):
        improved = False
        for pos in range(q):
            cur = idx[pos]
            for cand in range(n):
                if cand in idx:
                    continue
                idx[pos] = cand
                v = volume(idx)
                if v > best + 1e-12:
                    best = v
                    cur = cand
                    improved = True
            idx[pos] = cur
        if not improved:
            break
    return np.array(sorted(idx))


def combine_dicts(a: dict, b: dict) -> dict:
    """Bag union of grouped candidate lists, no side effects
    (utils.combine_dicts, utils.py:283-306)."""
    keys = set(a) | set(b)
    return {k: list(a.get(k, [])) + list(b.get(k, [])) for k in keys}
