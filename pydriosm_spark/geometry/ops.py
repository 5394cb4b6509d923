"""Vectorized computational-geometry kernels (numpy; no external geo libs).

These run inside Arrow pandas UDFs (batch-vectorized) or driver-side for
small broadcast geometry.  The ray-casting point-in-polygon here is the
"refinement" half of the filter-refine spatial join the north rule
mandates; the "filter" half is the quadcell cover equi-join
(pydriosm_spark/operators/spatial_join.py).
"""

from __future__ import annotations

import numpy as np


def polygon_bbox(rings) -> tuple[float, float, float, float]:
    outer = np.asarray(rings[0], dtype=np.float64)
    return (
        float(outer[:, 0].min()),
        float(outer[:, 1].min()),
        float(outer[:, 0].max()),
        float(outer[:, 1].max()),
    )


def _ray_cast_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray cast of many points against one ring.

    Returns a bool array that flips per crossing.  Points exactly on an
    edge are engine-defined (callers keep test points off boundaries).
    Complexity O(V * P) with pure numpy ops — no Python per point.
    """
    ring = np.asarray(ring, dtype=np.float64)
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    inside = np.zeros(px.shape[0], dtype=bool)
    for i in range(x0.shape[0]):  # loop over VERTICES (small), not points
        xa, ya, xb, yb = x0[i], y0[i], x1[i], y1[i]
        if ya == yb:
            continue
        cond = (ya > py) != (yb > py)
        if not cond.any():
            continue
        t = (py - ya) / (yb - ya)
        xint = xa + t * (xb - xa)
        inside ^= cond & (px < xint)
    return inside


def points_in_polygon(px, py, rings) -> np.ndarray:
    """Even-odd containment of points in a polygon with holes.

    ``rings``: list of (N,2) arrays, first = outer shell, rest = holes.
    Even-odd over all rings implements shell-minus-holes directly.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape[0], dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if r.shape[0] < 3:
            continue
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        inside ^= _ray_cast_ring(px, py, r)
    return inside


def points_in_multipolygon(px, py, polys) -> np.ndarray:
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape[0], dtype=bool)
    for rings in polys:
        inside |= points_in_polygon(px, py, rings)
    return inside


def _segments_intersect_box(ring: np.ndarray, box) -> bool:
    """True if any ring segment intersects the axis-aligned box (incl.
    touching).  Uses a vectorized separating-axis test per segment batch."""
    minx, miny, maxx, maxy = box
    r = np.asarray(ring, dtype=np.float64)
    x0, y0, x1, y1 = r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]
    # reject: both endpoints strictly on one outside side
    sminx, smaxx = np.minimum(x0, x1), np.maximum(x0, x1)
    sminy, smaxy = np.minimum(y0, y1), np.maximum(y0, y1)
    cand = ~((smaxx < minx) | (sminx > maxx) | (smaxy < miny) | (sminy > maxy))
    if not cand.any():
        return False
    # Liang-Barsky clip on candidate segments
    for i in np.nonzero(cand)[0]:
        ax, ay, bx, by = x0[i], y0[i], x1[i], y1[i]
        dx, dy = bx - ax, by - ay
        t0, t1 = 0.0, 1.0
        ok = True
        for p, q in (
            (-dx, ax - minx),
            (dx, maxx - ax),
            (-dy, ay - miny),
            (dy, maxy - ay),
        ):
            if p == 0:
                if q < 0:
                    ok = False
                    break
            else:
                t = q / p
                if p < 0:
                    t0 = max(t0, t)
                else:
                    t1 = min(t1, t)
                if t0 > t1:
                    ok = False
                    break
        if ok:
            return True
    return False


def box_intersects_polygon(box, rings) -> bool:
    """Conservative box-polygon intersection test (exact for the uses in
    cover computation): true iff the box touches the polygon."""
    minx, miny, maxx, maxy = box
    pminx, pminy, pmaxx, pmaxy = polygon_bbox(rings)
    if pmaxx < minx or pminx > maxx or pmaxy < miny or pminy > maxy:
        return False
    # any corner of the box inside polygon?
    cx = np.array([minx, maxx, maxx, minx])
    cy = np.array([miny, miny, maxy, maxy])
    if points_in_polygon(cx, cy, rings).any():
        return True
    # any polygon vertex inside the box?
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if (
            ((r[:, 0] >= minx) & (r[:, 0] <= maxx) & (r[:, 1] >= miny) & (r[:, 1] <= maxy)).any()
        ):
            return True
    # any edge crossing the box?
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        if _segments_intersect_box(r, box):
            return True
    return False


def polygon_contains_box(rings, box) -> bool:
    """True iff the box is fully inside the polygon (no edge crossing and
    a corner inside)."""
    minx, miny, maxx, maxy = box
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        if _segments_intersect_box(r, box):
            return False
    cx = np.array([minx, maxx, maxx, minx, (minx + maxx) / 2])
    cy = np.array([miny, miny, maxy, maxy, (miny + maxy) / 2])
    return bool(points_in_polygon(cx, cy, rings).all())


def _segments_cross(a: np.ndarray, b: np.ndarray) -> bool:
    """True if any segment of closed ring ``a`` properly intersects any
    segment of closed ring ``b`` (orientation test, vectorized over b
    per a-segment)."""
    ax0, ay0, ax1, ay1 = a[:-1, 0], a[:-1, 1], a[1:, 0], a[1:, 1]
    bx0, by0, bx1, by1 = b[:-1, 0], b[:-1, 1], b[1:, 0], b[1:, 1]

    def orient(px, py, qx, qy, rx, ry):
        return (qx - px) * (ry - py) - (qy - py) * (rx - px)

    for i in range(ax0.shape[0]):
        d1 = orient(ax0[i], ay0[i], ax1[i], ay1[i], bx0, by0)
        d2 = orient(ax0[i], ay0[i], ax1[i], ay1[i], bx1, by1)
        d3 = orient(bx0, by0, bx1, by1, ax0[i], ay0[i])
        d4 = orient(bx0, by0, bx1, by1, ax1[i], ay1[i])
        if np.any((d1 * d2 < 0) & (d3 * d4 < 0)):
            return True
    return False


def polygons_intersect(rings_a, rings_b) -> bool:
    """True iff two polygons (outer+holes ring lists) share interior
    area or touch: vertex-in-other tests both ways + proper edge
    crossings.  Exact for the simple-polygon inputs the engine carries
    (callers keep vertices off the other polygon's edges)."""
    pa, pb = polygon_bbox(rings_a), polygon_bbox(rings_b)
    if pa[2] < pb[0] or pb[2] < pa[0] or pa[3] < pb[1] or pb[3] < pa[1]:
        return False
    va = np.asarray(rings_a[0], dtype=np.float64)
    vb = np.asarray(rings_b[0], dtype=np.float64)
    if points_in_polygon(va[:, 0], va[:, 1], rings_b).any():
        return True
    if points_in_polygon(vb[:, 0], vb[:, 1], rings_a).any():
        return True
    for ra in rings_a:
        a = np.asarray(ra, dtype=np.float64)
        if not np.array_equal(a[0], a[-1]):
            a = np.vstack([a, a[:1]])
        for rb in rings_b:
            b = np.asarray(rb, dtype=np.float64)
            if not np.array_equal(b[0], b[-1]):
                b = np.vstack([b, b[:1]])
            if _segments_cross(a, b):
                return True
    return False


def polygon_area(rings) -> float:
    """Planar polygon area (shoelace; holes subtract via even-odd ring
    composition — each ring's |signed area| after the first subtracts)."""
    total = 0.0
    for i, ring in enumerate(rings):
        r = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        x, y = r[:-1, 0], r[:-1, 1]
        x1, y1 = r[1:, 0], r[1:, 1]
        a = abs(float(np.sum(x * y1 - x1 * y)) / 2.0)
        total += a if i == 0 else -a
    return total


def polygon_perimeter(rings) -> float:
    """Sum of ring lengths (planar)."""
    total = 0.0
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        d = np.diff(r, axis=0)
        total += float(np.sqrt((d * d).sum(axis=1)).sum())
    return total


def polygon_measures_wkt_batch(wkt) -> tuple[np.ndarray, np.ndarray]:
    """(areas, perimeters) for a batch of POLYGON WKTs — genuinely
    batch-vectorized: ONE string split over the whole batch feeds a
    single coordinate matrix, and per-ring/per-polygon sums run as
    ``np.add.reduceat`` over offset arrays.  No per-row Python in the
    numeric path (the round-2 `.map(lambda)` anti-pattern this replaces);
    semantics identical to :func:`polygon_area` / :func:`polygon_perimeter`
    (holes subtract; unclosed rings close implicitly).
    """
    import pandas as pd

    s = pd.Series(wkt).reset_index(drop=True)
    if len(s) == 0:  # a post-filter Arrow batch can be empty (ADVICE r3)
        return np.empty(0, dtype=np.float64), np.empty(0, dtype=np.float64)
    if not s.str.match(r"^\s*POLYGON\s*\(").all():
        raise ValueError("polygon_measures_wkt_batch handles POLYGON WKT only")
    body = s.str.replace(r"^\s*POLYGON\s*\(\(", "", regex=True).str.replace(
        r"\)\)\s*$", "", regex=True
    )
    rings = body.str.split(r"\)\s*,\s*\(", regex=True).explode()
    poly_of_ring = rings.index.to_numpy(dtype=np.int64)
    ring_strs = rings.to_numpy(dtype=object)
    n_verts = np.fromiter(
        (r.count(",") + 1 for r in ring_strs), dtype=np.int64, count=len(ring_strs)
    )
    coords = np.array(
        ",".join(ring_strs).replace(",", " ").split(), dtype=np.float64
    ).reshape(-1, 2)
    x, y = coords[:, 0], coords[:, 1]
    starts = np.concatenate(([0], np.cumsum(n_verts)[:-1]))
    ends = starts + n_verts - 1  # last vertex index per ring

    # consecutive-pair terms over the whole matrix; cross-ring pairs zeroed
    cx = np.zeros(len(x), dtype=np.float64)
    sl = np.zeros(len(x), dtype=np.float64)
    cx[:-1] = x[:-1] * y[1:] - x[1:] * y[:-1]
    d = np.diff(coords, axis=0)
    sl[:-1] = np.sqrt((d * d).sum(axis=1))
    cx[ends] = 0.0
    sl[ends] = 0.0
    ring_cx = np.add.reduceat(cx, starts)
    ring_len = np.add.reduceat(sl, starts)
    # implicit closure for rings whose first vertex != last
    open_ring = (x[starts] != x[ends]) | (y[starts] != y[ends])
    ring_cx += np.where(open_ring, x[ends] * y[starts] - x[starts] * y[ends], 0.0)
    ring_len += np.where(
        open_ring, np.hypot(x[ends] - x[starts], y[ends] - y[starts]), 0.0
    )
    ring_area = np.abs(ring_cx) / 2.0

    first_ring = np.empty(len(ring_area), dtype=bool)
    first_ring[0] = True
    first_ring[1:] = poly_of_ring[1:] != poly_of_ring[:-1]
    poly_starts = np.nonzero(first_ring)[0]
    areas = np.add.reduceat(np.where(first_ring, ring_area, -ring_area), poly_starts)
    perims = np.add.reduceat(ring_len, poly_starts)
    return areas, perims
