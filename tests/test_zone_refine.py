"""The broadcast zone join's native refine (a Spark ``aggregate`` ray
cast over the edges each partial cover row carries) keeps exactly the
rows the numpy ray cast ``geometry.ops.points_in_polygon`` keeps: for
every cover-filter hit, the join returns it iff its cell is full or the
point is inside.  Inputs: points on the integer e5 grid (on vertex rows
and on edges), holes, an open ring, a ring of fewer than 3 points,
horizontal edges, a 4,096-vertex star, and the compact cover."""

import numpy as np
import pandas as pd
import pytest

from pydriosm_spark.cells import quadcell
from pydriosm_spark.geometry.ops import points_in_polygon, polygon_edges
from pydriosm_spark.operators import spatial_join as SJ
from pydriosm_spark.sources.synth import _e5

RES = 17
U0, V0 = -82_000, 5_252_000  # e5 origin of the fixtures


def _ring(*uv):
    return np.array([(_e5(U0 + u), _e5(V0 + v)) for u, v in uv], dtype=np.float64)


def _grid_polygons():
    """Vertices on multiples of 10 e5 units, so the 5-unit point grid
    puts points on every vertex row and on the axis-parallel edges."""
    l_shape = _ring((0, 0), (900, 0), (900, 400), (400, 400), (400, 800), (0, 800), (0, 0))
    square = _ring((600, 300), (1100, 300), (1100, 1000), (600, 1000), (600, 300))
    holes = [_ring((700, 400), (800, 400), (800, 500), (700, 500), (700, 400)),
             _ring((850, 600), (1000, 650), (900, 900), (850, 600))]
    # open ring (not closed), a 2-point ring (skipped), a slanted edge
    open_ring = _ring((100, 850), (500, 820), (300, 1150))
    stub = _ring((200, 900), (250, 950))
    return [
        {"feature_id": 1, "rings": [l_shape]},
        {"feature_id": 2, "rings": [square] + holes},
        {"feature_id": 3, "rings": [open_ring, stub]},
    ]


def _star(n_vertices, r_out=0.03, r_in=0.015):
    a = np.arange(n_vertices) * (2 * np.pi / n_vertices)
    r = np.where(np.arange(n_vertices) % 2 == 0, r_out, r_in)
    ring = np.stack([-0.5 + r * np.cos(a), 52.6 + r * np.sin(a)], axis=1)
    return [{"feature_id": 7, "rings": [np.vstack([ring, ring[:1]])]}]


def _grid_points():
    uu, vv = np.meshgrid(np.arange(-50, 1201, 5), np.arange(-50, 1201, 5))
    return pd.DataFrame({
        "pid": np.arange(uu.size, dtype=np.int64),
        "lon": [_e5(U0 + int(u)) for u in uu.ravel()],
        "lat": [_e5(V0 + int(v)) for v in vv.ravel()],
    })


def _random_points(n, lon, lat, half, seed):
    rng = np.random.default_rng(seed)
    return pd.DataFrame({
        "pid": np.arange(n, dtype=np.int64),
        "lon": rng.uniform(lon - half, lon + half, n),
        "lat": rng.uniform(lat - half, lat + half, n),
    })


def _pairs(df) -> set:
    return set(map(tuple, df.select("pid", "feature_id").toPandas().itertuples(index=False)))


def _check(spark, pts: pd.DataFrame, polys) -> None:
    """The join == cover-filter hits kept by full or by points_in_polygon,
    with both outcomes present among the partial-cell hits."""
    table, res_set = SJ._cover_table(polys, RES)
    cover = table.select(["feature_id", "cell", "full"]).to_pandas()
    hits = pd.concat([
        pts.assign(cell=quadcell.cell_id(pts["lon"].to_numpy(), pts["lat"].to_numpy(), r))
        for r in res_set
    ]).merge(cover, on="cell")
    keep = hits["full"].to_numpy().copy()
    for p in polys:
        m = ((hits["feature_id"] == p["feature_id"]) & ~hits["full"]).to_numpy()
        keep[m] = points_in_polygon(hits["lon"][m], hits["lat"][m], p["rings"])
    partial = ~hits["full"].to_numpy()
    assert keep[partial].any() and not keep[partial].all()

    df = spark.createDataFrame(pts)
    unrefined = SJ.spatial_join_points_polygons(spark, df, polys, res=RES, refine=False)
    assert _pairs(unrefined) == set(zip(hits["pid"], hits["feature_id"]))
    got = _pairs(SJ.spatial_join_points_polygons(spark, df, polys, res=RES))
    assert got == set(zip(hits["pid"][keep], hits["feature_id"][keep]))


def test_grid_points_on_vertex_rows_and_edges(spark):
    _check(spark, _grid_points(), _grid_polygons())


def test_compact_cover_path(spark, monkeypatch):
    monkeypatch.setattr(SJ, "MAX_FLAT_CELLS", 0)
    polys = _grid_polygons() + _star(256)
    _, res_set = SJ._cover_table(polys, RES)
    assert len(res_set) > 1
    pts = pd.concat([_grid_points(), _random_points(5000, -0.5, 52.6, 0.035, 3)],
                    ignore_index=True)
    _check(spark, pts.assign(pid=np.arange(len(pts), dtype=np.int64)), polys)


@pytest.mark.parametrize("n_vertices", [256, 4096])
def test_star(spark, n_vertices):
    _check(spark, _random_points(20_000, -0.5, 52.6, 0.035, n_vertices), _star(n_vertices))


def test_band_clip_keeps_only_edges_that_can_flip():
    """Each partial row carries, in ring order, the edges of its feature
    whose y-range overlaps the cell's row band and that do not lie wholly
    left of the cell, both widened by ``EDGE_CLIP_PAD`` of a cell: on the
    256-vertex star no row carries half of them."""
    polys = _star(256)
    table, _ = SJ._cover_table(polys, RES)
    e = polygon_edges(polys[0]["rings"])
    ymin, ymax = np.minimum(e[:, 1], e[:, 3]), np.maximum(e[:, 1], e[:, 3])
    xmax = np.maximum(e[:, 0], e[:, 2])
    pad = SJ.EDGE_CLIP_PAD
    n_partial, most = 0, 0
    for cell, full, carried in zip(*(table[c].to_pylist() for c in ("cell", "full", "edges"))):
        assert (carried is None) == full
        if full:
            continue
        x0, y0, x1, y1 = (float(b) for b in quadcell.cell_bounds(cell))
        w, h = x1 - x0, y1 - y0
        want = e[(ymax >= y0 - pad * h) & (ymin <= y1 + pad * h) & (xmax >= x0 - pad * w)]
        got = np.array([[d[k] for k in SJ.EDGE_FIELDS] for d in carried]).reshape(-1, 4)
        assert np.array_equal(got, want), cell
        n_partial, most = n_partial + 1, max(most, len(got))
    assert n_partial > 100 and 0 < most < len(e) // 2, (n_partial, most)
