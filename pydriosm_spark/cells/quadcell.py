"""quadcell — a from-scratch hierarchical spatial cell index (H3/S2-style).

A quadtree over the equirectangular projection of WGS84:

* resolution ``r`` in [0, 29]; the world is a ``2^r x 2^r`` grid
* ``x = floor((lon+180)/360 * 2^r)``, ``y = floor((lat+90)/180 * 2^r)``
  (clamped to the grid)
* packed 64-bit id: ``(r << 58) | (x << 29) | y``

Like H3/S2 this gives O(1) point->cell, parent/child traversal (bit
shifts), and *compact covers* (mixed-resolution cell sets covering a
region — coarse cells where fully contained, fine cells on the
boundary).  Unlike H3 the cells are axis-aligned rectangles,
which makes the index expressible as pure integer/float arithmetic in BOTH
Spark native column expressions (JVM-side, whole-stage codegen — no Python
in the hot path) and ANSI SQL for the DuckDB differential oracle.

Reference parity: pydriosm has no spatial index at all (its geometry work
is per-feature Python via GDAL, /root/reference/pydriosm/reader/parser.py:1638);
the cell index is the scale mechanism the north rule mandates on top of the
reference's semantics.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 29
_RES_SHIFT = 58
_X_SHIFT = 29
_XY_MASK = (1 << 29) - 1
COVER_SPREAD = 3  # a compact cover spans resolutions res - COVER_SPREAD .. res


# ---------------------------------------------------------------------------
# numpy kernels (used inside Arrow pandas UDFs and for driver-side covers)
# ---------------------------------------------------------------------------

def _grid_xy(lon, lat, res: int):
    """Vectorized (lon, lat) -> integer grid coords at ``res``."""
    n = 1 << res
    x = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n).astype(np.int64)
    x = np.clip(x, 0, n - 1)
    y = np.clip(y, 0, n - 1)
    return x, y


def cell_id(lon, lat, res: int):
    """Vectorized point -> packed cell id (int64 scalar or ndarray)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    x, y = _grid_xy(lon, lat, res)
    out = (np.int64(res) << _RES_SHIFT) | (x << _X_SHIFT) | y
    return out if out.ndim else int(out)


def from_xy(x, y, res: int):
    return (np.int64(res) << _RES_SHIFT) | (np.asarray(x, dtype=np.int64) << _X_SHIFT) | np.asarray(y, dtype=np.int64)


def cell_res(cid):
    return np.asarray(cid, dtype=np.int64) >> _RES_SHIFT


def cell_xy(cid):
    c = np.asarray(cid, dtype=np.int64)
    return (c >> _X_SHIFT) & _XY_MASK, c & _XY_MASK


def parent(cid, parent_res: int):
    """Ancestor cell at coarser ``parent_res`` (vectorized)."""
    c = np.asarray(cid, dtype=np.int64)
    r = c >> _RES_SHIFT
    dr = r - parent_res
    if np.any(dr < 0):
        raise ValueError("parent_res must be <= cell res")
    x = ((c >> _X_SHIFT) & _XY_MASK) >> dr
    y = (c & _XY_MASK) >> dr
    return (np.int64(parent_res) << _RES_SHIFT) | (x << _X_SHIFT) | y


def children(cid: int):
    """The 4 direct children of a single cell."""
    r = int(cell_res(cid))
    x, y = cell_xy(cid)
    x, y = int(x) << 1, int(y) << 1
    cr = r + 1
    return [int(from_xy(x + dx, y + dy, cr)) for dx in (0, 1) for dy in (0, 1)]


def cell_bounds(cid):
    """Vectorized cell id -> (min_lon, min_lat, max_lon, max_lat)."""
    c = np.asarray(cid, dtype=np.int64)
    r = c >> _RES_SHIFT
    n = (np.int64(1) << r).astype(np.float64)
    x = ((c >> _X_SHIFT) & _XY_MASK).astype(np.float64)
    y = (c & _XY_MASK).astype(np.float64)
    w, h = 360.0 / n, 180.0 / n
    return x * w - 180.0, y * h - 90.0, (x + 1) * w - 180.0, (y + 1) * h - 90.0


def cover_bbox(min_lon: float, min_lat: float, max_lon: float, max_lat: float, res: int):
    """All cells at ``res`` intersecting the (closed) bbox.  Driver-side
    helper for small geometry sides; the big-side equivalent is the native
    column expression ``cell_expr``."""
    x0, y0 = _grid_xy(min_lon, min_lat, res)
    x1, y1 = _grid_xy(max_lon, max_lat, res)
    xs = np.arange(int(x0), int(x1) + 1, dtype=np.int64)
    ys = np.arange(int(y0), int(y1) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return from_xy(gx.ravel(), gy.ravel(), res)


def compact(cids) -> list:
    """Compact a set of same-resolution cells into a mixed-resolution cover:
    whenever all 4 children of a parent are present, replace them by the
    parent (applied recursively).  This is the H3 ``compact`` analogue."""
    cur = {int(c) for c in np.asarray(cids, dtype=np.int64).ravel()}
    out: set[int] = set()
    while cur:
        by_parent: dict[int, list[int]] = {}
        rs = {int(cell_res(c)) for c in cur}
        if rs == {0}:
            out |= cur
            break
        nxt: set[int] = set()
        for c in cur:
            r = int(cell_res(c))
            if r == 0:
                out.add(c)
                continue
            p = int(parent(c, r - 1))
            by_parent.setdefault(p, []).append(c)
        for p, kids in by_parent.items():
            if len(kids) == 4:
                nxt.add(p)
            else:
                out.update(kids)
        cur = nxt
    return sorted(out)


def cover_polygon(rings_xy, res: int, max_cells: int = 8192):
    """Compact cover of a polygon (outer ring + optional holes) given as a
    list of (N,2) float arrays.  Recursive quadtree descent:

    * a cell fully inside the polygon at ``r >= res - COVER_SPREAD`` is
      emitted with ``full=True`` (join hits in it skip PIP refinement),
    * a boundary cell is split until ``res`` and emitted with ``full=False``,
    * cells outside are dropped.

    ``COVER_SPREAD`` bounds the resolution spread of the cover: the probe
    side of the join explodes each point into at most ``COVER_SPREAD + 1``
    ancestor cells, so a tight bound keeps the fact-table blow-up small at
    100 TB scale while the cover stays compact.

    Returns ``list[(cell_id, full_inside)]``.  Pure numpy; runs on the
    driver (``build_cover``) or in a task (``build_cover_df``).
    """
    from pydriosm_spark.geometry.ops import polygon_contains_box, box_intersects_polygon

    min_res = max(0, res - COVER_SPREAD)
    outer = np.asarray(rings_xy[0], dtype=np.float64)
    minx, miny = outer.min(axis=0)
    maxx, maxy = outer.max(axis=0)
    start_res = 0
    # descend to the coarsest res where the bbox spans <= ~2 cells per axis
    while start_res < min_res:
        n = 1 << start_res
        if (maxx - minx) >= 360.0 / n / 2 or (maxy - miny) >= 180.0 / n / 2:
            break
        start_res += 1
    frontier = [int(c) for c in cover_bbox(minx, miny, maxx, maxy, start_res)]
    out: list[tuple[int, bool]] = []
    while frontier:
        c = frontier.pop()
        b = cell_bounds(c)
        box = (float(b[0]), float(b[1]), float(b[2]), float(b[3]))
        if not box_intersects_polygon(box, rings_xy):
            continue
        r = int(cell_res(c))
        if r >= min_res and polygon_contains_box(rings_xy, box):
            out.append((c, True))
        elif r >= res:
            out.append((c, False))
        else:
            frontier.extend(children(c))
        if len(out) > max_cells:
            raise ValueError("cover exceeds max_cells; lower res")
    return sorted(out)


# ---------------------------------------------------------------------------
# expression builders — same arithmetic as SQL text, rendered for Spark SQL
# and for DuckDB (the differential oracle).  Keeping one template guarantees
# the two engines compute identical cell ids.
# ---------------------------------------------------------------------------

def _cell_sql(lon: str, lat: str, res: int, shift_fn) -> str:
    n = 1 << res
    nm1 = n - 1
    x = f"greatest(0, least({nm1}, CAST(floor(({lon} + 180.0) / 360.0 * {n}) AS BIGINT)))"
    y = f"greatest(0, least({nm1}, CAST(floor(({lat} + 90.0) / 180.0 * {n}) AS BIGINT)))"
    return shift_fn(res, x, y)


def _spark_pack(res: int, x: str, y: str) -> str:
    return f"(CAST({res} AS BIGINT) * {1 << _RES_SHIFT} + ({x}) * {1 << _X_SHIFT} + ({y}))"


def cell_expr(lon: str, lat: str, res: int) -> str:
    """Spark SQL expression (for ``F.expr``): point -> packed cell id.
    Pure built-ins → stays inside whole-stage codegen."""
    return _cell_sql(lon, lat, res, _spark_pack)


def parent_expr(cell: str, parent_res: int, child_res: int, dialect: str = "spark") -> str:
    """Ancestor id of ``cell`` (at child_res) at parent_res, as SQL text.
    Uses div/mod instead of bit ops; ``dialect`` picks the integer-division
    spelling (Spark ``DIV`` / DuckDB ``//``)."""
    dr = child_res - parent_res
    d = 1 << dr
    div = "DIV" if dialect == "spark" else "//"
    x = f"((({cell}) {div} {1 << _X_SHIFT}) % {1 << _RES_SHIFT - _X_SHIFT})"
    y = f"(({cell}) % {1 << _X_SHIFT})"
    return (
        f"(CAST({parent_res} AS BIGINT) * {1 << _RES_SHIFT}"
        f" + ({x} {div} {d}) * {1 << _X_SHIFT} + ({y} {div} {d}))"
    )
