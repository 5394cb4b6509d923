"""Shapefile writer round-trips through our own parser, and survives a
rewrite of a layer read from a zipped extract."""

import os
import zipfile

from pydriosm_spark.sources import shp as shp_reader
from pydriosm_spark.sources.shp_writer import write_shapefile
from tests.shp_lake import ZIP


def test_roundtrip_points(tmp_path):
    shapes = [(1, [(-0.5, 52.6)], []), (1, [(-0.6, 52.7)], [])]
    recs = [
        {"osm_id": "100", "code": 5001, "name": "alpha", "score": 1.25, "flag": True},
        {"osm_id": "200", "code": 5002, "name": "beta", "score": -2.5, "flag": False},
    ]
    base = str(tmp_path / "pts")
    write_shapefile(base, shapes, recs)
    got_shapes = shp_reader.parse_shp(open(base + ".shp", "rb").read())
    got_recs = shp_reader.parse_dbf(open(base + ".dbf", "rb").read())
    assert [(st, pts) for st, pts, _ in got_shapes] == [(1, [(-0.5, 52.6)]), (1, [(-0.6, 52.7)])]
    assert got_recs[0]["osm_id"] == "100" and got_recs[0]["code"] == 5001
    assert got_recs[0]["flag"] is True and got_recs[1]["flag"] is False
    assert abs(got_recs[1]["score"] - -2.5) < 1e-9
    assert os.path.exists(base + ".prj") and os.path.exists(base + ".shx")


def test_roundtrip_polylines_with_parts(tmp_path):
    shapes = [(3, [(0.0, 0.0), (1.0, 1.0), (5.0, 5.0), (6.0, 6.0)], [0, 2])]
    recs = [{"name": "two-part line"}]
    base = str(tmp_path / "lines")
    write_shapefile(base, shapes, recs)
    (st, pts, parts), = shp_reader.parse_shp(open(base + ".shp", "rb").read())
    assert st == 3 and parts == [0, 2]
    assert pts == [(0.0, 0.0), (1.0, 1.0), (5.0, 5.0), (6.0, 6.0)]


def test_rewrite_lake_layer(shp_lake, tmp_path):
    """Read the lake's zipped railways layer, write it with our writer,
    read it back: geometry byte-stable, attributes value-stable."""
    zf = zipfile.ZipFile(os.path.join(shp_lake, ZIP))
    shp_m = next(m for m in zf.namelist() if "railways" in m and m.endswith(".shp"))
    shapes = shp_reader.parse_shp(zf.read(shp_m))
    recs = shp_reader.parse_dbf(zf.read(shp_m[:-4] + ".dbf"))
    assert len(shapes) == len(recs) > 0
    base = str(tmp_path / "railways")
    write_shapefile(base, shapes, recs)
    got_shapes = shp_reader.parse_shp(open(base + ".shp", "rb").read())
    got_recs = shp_reader.parse_dbf(open(base + ".dbf", "rb").read())
    assert got_shapes == shapes  # coordinates are exact doubles
    assert got_recs == recs
