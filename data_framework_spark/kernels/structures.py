"""Numpy kernels for magnetic-structure finding (single-timestep
tiles) — the executor-side halves of the reference's
`find_structures` pipeline (src/datasets/vpicdataset.py:295-533),
reimplemented from the documented semantics (SURVEY.md §2.10).

Geometry primitives use the standard public formulas:
- counter-clockwise orientation test / segment intersection
  (vpicdataset.py:25-46 uses the same classic ccw construction;
  colinear segments are not handled, same as the reference);
- line-line intersection via the determinant formula
  (vpicdataset.py:49-68 cites the same Wikipedia closed form).

All functions take/return plain ndarrays so they unit-test without
Spark; pipelines/structures.py runs them inside per-timestep
`applyInPandas` kernels.
"""

from __future__ import annotations

import numpy as np

from data_framework_spark.kernels.ndimage import (
    binary_dilation,
    extrema_filter,
    find_contours,
    flood,
    gap_fill,
    label,
)


def _ccw(a, b, c) -> np.ndarray:
    """(b-a) × (c-a) > 0, vectorized over leading dims."""
    return (c[..., 1] - a[..., 1]) * (b[..., 0] - a[..., 0]) > (
        b[..., 1] - a[..., 1]
    ) * (c[..., 0] - a[..., 0])


def segments_intersect(a, b, c, d) -> np.ndarray:
    """Proper intersection test of segments (a,b) × (c,d); colinear
    contacts are not detected (reference's documented limitation,
    vpicdataset.py:28)."""
    return (_ccw(a, c, d) != _ccw(b, c, d)) & (_ccw(a, b, c) != _ccw(a, b, d))


def line_intersection_point(a, b, c, d) -> np.ndarray:
    """Intersection of the supporting lines of (a,b) and (c,d)."""
    x1, y1 = a[..., 0], a[..., 1]
    x2, y2 = b[..., 0], b[..., 1]
    x3, y3 = c[..., 0], c[..., 1]
    x4, y4 = d[..., 0], d[..., 1]
    den = (x1 - x2) * (y3 - y4) - (y1 - y2) * (x3 - x4)
    px = ((x1 * y2 - y1 * x2) * (x3 - x4) - (x1 - x2) * (x3 * y4 - y3 * x4)) / den
    py = ((x1 * y2 - y1 * x2) * (y3 - y4) - (y1 - y2) * (x3 * y4 - y3 * x4)) / den
    return np.stack([px, py], axis=-1)


def _contour_segments(contours: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """Flatten polylines to (start, end) segment arrays, index space."""
    starts, ends = [], []
    for c in contours:
        if len(c) >= 2:
            starts.append(c[:-1])
            ends.append(c[1:])
    if not starts:
        z = np.empty((0, 2))
        return z, z
    return np.concatenate(starts), np.concatenate(ends)


def find_nulls(b1: np.ndarray, b2: np.ndarray) -> np.ndarray:
    """Null points of the 2-D field (b1, b2): intersections of the
    b1=0 and b2=0 iso-contours (vpicdataset.py:383-426). All-pairs
    segment test — the reference's own O(S1·S2) hot spot; bounded
    here because inputs are single-timestep tiles. Returns (n, 2)
    fractional grid coordinates (row, col)."""
    c1 = find_contours(b1, 0.0)
    c2 = find_contours(b2, 0.0)
    s1a, s1b = _contour_segments(c1)
    s2a, s2b = _contour_segments(c2)
    if len(s1a) == 0 or len(s2a) == 0:
        return np.empty((0, 2))
    A = s1a[:, None, :]
    B = s1b[:, None, :]
    C = s2a[None, :, :]
    D = s2b[None, :, :]
    hits = segments_intersect(A, B, C, D)
    ii, jj = np.nonzero(hits)
    if len(ii) == 0:
        return np.empty((0, 2))
    pts = line_intersection_point(s1a[ii], s1b[ii], s2a[jj], s2b[jj])
    return pts


def bilinear_at(field: np.ndarray, pts: np.ndarray) -> np.ndarray:
    """Bilinear sample of `field` at fractional (row, col) points."""
    if len(pts) == 0:
        return np.empty(0)
    r = np.clip(pts[:, 0], 0, field.shape[0] - 1 - 1e-9)
    c = np.clip(pts[:, 1], 0, field.shape[1] - 1 - 1e-9)
    r0 = np.floor(r).astype(int)
    c0 = np.floor(c).astype(int)
    fr = r - r0
    fc = c - c0
    return (
        field[r0, c0] * (1 - fr) * (1 - fc)
        + field[r0 + 1, c0] * fr * (1 - fc)
        + field[r0, c0 + 1] * (1 - fr) * fc
        + field[r0 + 1, c0 + 1] * fr * fc
    )


def hessian_det(
    sb1: np.ndarray, sb2: np.ndarray, m0: np.ndarray, m1: np.ndarray
) -> np.ndarray:
    """Hessian determinant of ψ from gradients of the smoothed fields
    on mesh (m0, m1) (vpicdataset.py:378-380):
    det = db1_d2·(−db2_d1) − (−db2_d2)·db1_d1."""
    db1_d1, db1_d2 = np.gradient(sb1, m0, m1)
    db2_d1, db2_d2 = np.gradient(sb2, m0, m1)
    return db1_d2 * (-db2_d1) - (-db2_d2) * db1_d1


def classify_nulls(hess_det: np.ndarray, nulls: np.ndarray):
    """X vs O by the sign of the interpolated Hessian determinant of ψ
    (vpicdataset.py:431-439): positive → O point, negative → X."""
    vals = bilinear_at(hess_det, nulls)
    signs = np.sign(vals)
    return nulls[signs < 0], nulls[signs > 0]  # (x_points, o_points)


def _rasterize(points: np.ndarray, shape: tuple[int, int]) -> np.ndarray:
    """Mark the cell `tuple(point.astype(np.int64))` for each point —
    the reference's TRUNCATING rasterization (vpicdataset.py:451,
    :458), not nearest-rounding (r16 correction; contour/X-point
    coords are nonnegative, so truncation == floor). The clip is a
    no-op on valid inputs (coords lie in [0, n-1]) and only guards
    degenerate callers."""
    mask = np.zeros(shape, dtype=bool)
    if len(points):
        r = np.clip(points[:, 0].astype(np.int64), 0, shape[0] - 1)
        c = np.clip(points[:, 1].astype(np.int64), 0, shape[1] - 1)
        mask[r, c] = True
    return mask


def separatrices_and_o_structures(
    flux: np.ndarray,
    x_points: np.ndarray,
    d_per_de: int,
    de_tol: float,
):
    """Separatrix mask + O-structure decomposition
    (vpicdataset.py:441-479), per-X-point as the reference does it:

    for EACH X point — flux iso-contours at the X point's
    bilinearly-interpolated flux value (the reference's
    RegularGridInterpolator over the index mesh, :389-395); keep
    contours whose closest approach to the X point is within
    d_per_de·de_tol (:455-456); rasterize their points by truncation
    (:458); mark + dilate the X point cell (:450-452); gap_fill THIS
    X point's local mask (:461); OR it into the global separatrix
    mask; then flood-decompose the complement of the LOCAL filled
    mask and keep regions not touching the boundary as O-structures
    (:465-479). The per-X-point structure matters: gap_fill runs
    before the union (gaps between different X points' contours stay
    open), and a region interior w.r.t. one X point's mask can span
    cells another X point's contours would cover (r16 correction —
    the previous version unioned first, then gap-filled and
    decomposed once, a different operator on multi-X fields).

    Seeds are deterministic (min scan-order unfilled cell); the
    reference picks random 0-cells, but each 0-region is processed
    exactly once so the union is order-independent (SURVEY §2.8).
    Returns (separatrix int mask, o_structure int mask).
    """
    shape = flux.shape
    sep = np.zeros(shape, dtype=bool)
    o_mask = np.zeros(shape, dtype=bool)
    radius = d_per_de * de_tol  # no floor — the reference has none
    x_flux = bilinear_at(flux, x_points)
    for k in range(len(x_points)):
        contours = find_contours(flux, float(x_flux[k]))
        local = binary_dilation(_rasterize(x_points[k : k + 1], shape))
        for c in contours:
            dist = np.sqrt(((c - x_points[k][None, :]) ** 2).sum(axis=1)).min()
            if dist <= radius:
                local |= _rasterize(c, shape)
        local_filled = gap_fill(local).astype(bool)
        sep |= local_filled

        # flood-decompose THIS X point's complement; keep interior regions
        remaining = ~local_filled
        while remaining.any():
            seed = np.argwhere(remaining)[0]
            region = flood(remaining, (int(seed[0]), int(seed[1])))
            touches_border = (
                region[0, :].any()
                or region[-1, :].any()
                or region[:, 0].any()
                or region[:, -1].any()
            )
            if not touches_border:
                o_mask |= region
            remaining &= ~region
    return sep.astype(np.int64), o_mask.astype(np.int64)


def current_sheets(
    jy_smooth: np.ndarray, cs_limit: float = 0.5
) -> np.ndarray:
    """Signed current-sheet mask (vpicdataset.py:482-520), transcribed
    step-for-step from the reference:

    - cs_maxes/cs_mins = the FULL 10×10 max/min-filtered arrays
      (:483-484) — NOT the values at local-max cells;
    - thresholds = mean ± 3·std over those FILTERED arrays (:485-486;
      np.std = population std);
    - label the connected regions where the filtered array beats its
      threshold (:489-490, cross connectivity — scipy.ndimage.label
      default);
    - per REGION (not per cell): seed = scan-order-first argmax
      (argmin) of jy_smooth within the region (:492-495,
      nd.maximum_position tie rule), peak = region max/min of
      jy_smooth (:497-500);
    - flood the STRICT mask jy > peak·cs_limit from the seed
      (:508-509; negative side jy < peak·0.5 — the reference
      hardcodes 0.5 instead of cs_limit at :516, quirk kept). When a
      peak is ≤ 0 the seed cell itself is outside the mask and flood
      grows the seed's False region — the reference's quirk, kept
      (skimage.flood floods the seed's VALUE).

    r16 correction: the previous version thresholded on stats over
    local-max CELL VALUES and flooded from every qualifying cell with
    non-strict comparisons — a different operator; it is now verbatim
    (differential test: tests/test_reference_formulas.py).
    Returns int mask in {-1, 0, +1} (pos minus neg, :530-533).
    """
    shape = jy_smooth.shape
    cs_maxes = extrema_filter(jy_smooth, (10, 10), "max")
    cs_mins = extrema_filter(jy_smooth, (10, 10), "min")
    max_thresh = cs_maxes.mean() + cs_maxes.std() * 3
    min_thresh = cs_mins.mean() - cs_mins.std() * 3
    max_labels, max_num = label(cs_maxes > max_thresh)
    min_labels, min_num = label(cs_mins < min_thresh)

    pos = np.zeros(shape, dtype=bool)
    for i in range(1, max_num + 1):
        masked = np.where(max_labels == i, jy_smooth, -np.inf)
        seed = np.unravel_index(np.argmax(masked), shape)
        peak = masked[seed]
        cs_pos = jy_smooth > peak * cs_limit
        pos |= flood(cs_pos, (int(seed[0]), int(seed[1])))
    neg = np.zeros(shape, dtype=bool)
    for i in range(1, min_num + 1):
        masked = np.where(min_labels == i, jy_smooth, np.inf)
        seed = np.unravel_index(np.argmin(masked), shape)
        trough = masked[seed]
        cs_neg = jy_smooth < trough * 0.5  # reference's 0.5 literal (:516)
        neg |= flood(cs_neg, (int(seed[0]), int(seed[1])))
    return pos.astype(np.int64) - neg.astype(np.int64)
