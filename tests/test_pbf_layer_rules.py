"""Content-level verification of the three PBF layers that have no GDAL
golden fixtures (lines / multilinestrings / multipolygons):

1. crafted-PBF rule pinning — an independent in-repo *encoder* builds
   tiny files exercising each osmconf rule (closed_ways_are_polygons
   key set, area=yes/no overrides, old-style multipolygon tag
   inheritance, route relations) and asserts exact feature content;
2. cross-validation against the Geofabrik shapefile distribution of the
   SAME region (an entirely independent professional pipeline shipped in
   the reference fixture zip): per-feature geometry equality for roads /
   railways / waterways vs our lines layer and canonicalized ring-set
   equality for buildings / landuse / water vs our multipolygons;
3. committed golden parquet snapshots of all three Rutland layers
   (exact content, regenerate via `python tests/test_pbf_layer_rules.py
   regen` only on an intentional semantic change).
"""

import json
import os
import sys
import zipfile

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pydriosm_spark.sources import pbf  # noqa: E402
from pydriosm_spark.sources import shp as shplib  # noqa: E402
from tests.pbf_encode_util import PbfBuilder  # noqa: E402

PBF_PATH = "/root/reference/tests/data/rutland/rutland-latest.osm.pbf"
SHP_ZIP = "/root/reference/tests/data/rutland/rutland-latest-free.shp.zip"
GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden_pbf")

needs_fixture = pytest.mark.skipif(
    not os.path.exists(PBF_PATH), reason="reference fixture absent"
)


# ---------------------------------------------------------------------------
# 1. crafted-PBF rule pinning
# ---------------------------------------------------------------------------

def _square_way(b: PbfBuilder, wid: int, base_nid: int, tags: dict):
    coords = [(52.0, 0.0), (52.0, 0.001), (52.001, 0.001), (52.001, 0.0)]
    nids = []
    for i, (lat, lon) in enumerate(coords):
        nid = base_nid + i
        b.node(nid, lat, lon)
        nids.append(nid)
    b.way(wid, nids + [nids[0]], tags)
    return nids


def _layers(buf: bytes):
    n, w, r = pbf.parse_pbf(buf)
    return {
        "lines": pbf.assemble_lines(n, w),
        "mls": pbf.assemble_multilinestrings(n, w, r),
        "mpoly": pbf.assemble_multipolygons(n, w, r),
        "other": pbf.assemble_other_relations(n, w, r),
    }


def test_closed_way_with_polygon_key_is_area():
    b = PbfBuilder()
    _square_way(b, 100, 1, {"building": "yes", "name": "shed"})
    L = _layers(b.build())
    assert [f["id"] for f in L["lines"]] == []
    assert [f["id"] for f in L["mpoly"]] == [100]
    f = L["mpoly"][0]
    assert f["properties"]["osm_way_id"] == "100"
    assert f["properties"]["building"] == "yes"
    assert f["properties"]["name"] == "shed"
    ring = f["geometry"]["coordinates"][0][0]
    assert ring[0] == ring[-1] and len(ring) == 5


def test_closed_way_without_polygon_key_is_line():
    b = PbfBuilder()
    _square_way(b, 101, 1, {"highway": "residential"})
    L = _layers(b.build())
    assert [f["id"] for f in L["mpoly"]] == []
    assert [f["id"] for f in L["lines"]] == [101]
    assert L["lines"][0]["properties"]["highway"] == "residential"


def test_area_yes_forces_polygon_and_area_no_forces_line():
    b = PbfBuilder()
    _square_way(b, 102, 1, {"highway": "pedestrian", "area": "yes"})
    _square_way(b, 103, 10, {"building": "yes", "area": "no"})
    L = _layers(b.build())
    assert [f["id"] for f in L["mpoly"]] == [102]
    assert [f["id"] for f in L["lines"]] == [103]


def test_open_way_with_polygon_key_is_line():
    b = PbfBuilder()
    b.node(1, 52.0, 0.0).node(2, 52.0, 0.001).node(3, 52.001, 0.001)
    b.way(104, [1, 2, 3], {"landuse": "forest"})
    L = _layers(b.build())
    assert [f["id"] for f in L["mpoly"]] == []
    assert [f["id"] for f in L["lines"]] == [104]


def test_old_style_multipolygon_inherits_outer_way_tags():
    """A multipolygon relation with no tags beyond type= takes its
    attributes from the outer ways (GDAL OSM driver / osm2pgsql
    old-style rule) — unobservable on Rutland (0 such relations)."""
    b = PbfBuilder()
    nids = _square_way(b, 200, 1, {"landuse": "meadow", "name": "old style"})
    b.relation(300, [("way", 200, "outer")], {"type": "multipolygon"})
    buf = b.build()
    L = _layers(buf)
    rel = [f for f in L["mpoly"] if f["properties"].get("osm_id") == "300"]
    assert rel, L["mpoly"]
    assert rel[0]["properties"]["landuse"] == "meadow"
    assert rel[0]["properties"]["name"] == "old style"
    # a NEW-style relation (own tags) must NOT inherit
    b2 = PbfBuilder()
    _square_way(b2, 200, 1, {"landuse": "meadow"})
    b2.relation(300, [("way", 200, "outer")], {"type": "multipolygon", "natural": "water"})
    rel2 = [
        f for f in _layers(b2.build())["mpoly"] if f["properties"].get("osm_id") == "300"
    ]
    assert rel2[0]["properties"]["natural"] == "water"
    assert rel2[0]["properties"].get("landuse") is None


def test_multipolygon_with_hole_and_ring_stitching():
    b = PbfBuilder()
    # outer square from TWO open segments (stitching required)
    pts = [(52.0, 0.0), (52.0, 0.01), (52.01, 0.01), (52.01, 0.0)]
    for i, (lat, lon) in enumerate(pts):
        b.node(1 + i, lat, lon)
    b.way(201, [1, 2, 3], {})
    b.way(202, [3, 4, 1], {})
    # inner square (closed)
    inner = [(52.004, 0.004), (52.004, 0.006), (52.006, 0.006), (52.006, 0.004)]
    for i, (lat, lon) in enumerate(inner):
        b.node(10 + i, lat, lon)
    b.way(203, [10, 11, 12, 13, 10], {})
    b.relation(
        301,
        [("way", 201, "outer"), ("way", 202, "outer"), ("way", 203, "inner")],
        {"type": "multipolygon", "natural": "water"},
    )
    L = _layers(b.build())
    assert len(L["mpoly"]) == 1
    polys = L["mpoly"][0]["geometry"]["coordinates"]
    assert len(polys) == 1 and len(polys[0]) == 2  # one outer + one hole
    assert all(r[0] == r[-1] for r in polys[0])


def test_route_relation_is_multilinestring():
    b = PbfBuilder()
    b.node(1, 52.0, 0.0).node(2, 52.0, 0.001).node(3, 52.001, 0.002)
    b.way(210, [1, 2], {"highway": "footway"})
    b.way(211, [2, 3], {"highway": "footway"})
    b.relation(310, [("way", 210, ""), ("way", 211, "")], {"type": "route", "route": "hiking"})
    L = _layers(b.build())
    assert [f["id"] for f in L["mls"]] == [310]
    assert L["mls"][0]["geometry"]["coordinates"] == [
        [[0.0, 52.0], [0.001, 52.0]],
        [[0.001, 52.0], [0.002, 52.001]],
    ]
    assert [f["id"] for f in L["other"]] == []


def test_multilinestring_relation_is_not_an_other_relation():
    """type=multilinestring belongs to the multilinestrings layer only
    (GDAL's rule, and the distributed assembler's): the single-machine
    other_relations assembler must not emit it a second time."""
    b = PbfBuilder()
    b.node(1, 52.0, 0.0).node(2, 52.0, 0.001)
    b.way(210, [1, 2], {"highway": "footway"})
    b.relation(311, [("way", 210, "")], {"type": "multilinestring"})
    L = _layers(b.build())
    assert [f["id"] for f in L["mls"]] == [311]
    assert [f["id"] for f in L["other"]] == []


# ---------------------------------------------------------------------------
# 2. Geofabrik shapefile cross-validation (independent pipeline)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def rutland():
    with open(PBF_PATH, "rb") as f:
        nodes, ways, rels = pbf.parse_pbf(f.read())
    return {
        "lines": pbf.assemble_lines(nodes, ways),
        "mls": pbf.assemble_multilinestrings(nodes, ways, rels),
        "mpoly": pbf.assemble_multipolygons(nodes, ways, rels),
    }


def _canon_ring(pts):
    p = [(round(x, 7), round(y, 7)) for x, y in pts]
    if p and p[0] == p[-1]:
        p = p[:-1]
    if not p:
        return ()
    m = min(range(len(p)), key=lambda i: p[i])
    fwd = tuple(p[m:] + p[:m])
    q = p[::-1]
    m2 = min(range(len(q)), key=lambda i: q[i])
    return min(fwd, tuple(q[m2:] + q[:m2]))


@needs_fixture
def test_lines_geometry_matches_geofabrik_shapefiles(rutland):
    lines = {f["id"]: f for f in rutland["lines"]}
    z = zipfile.ZipFile(SHP_ZIP)
    # (layer, minimum exact-match fraction): roads tolerates a handful of
    # region-boundary clips by the Geofabrik pipeline
    for member, floor in (
        ("gis_osm_roads_free_1", 0.995),
        ("gis_osm_railways_free_1", 1.0),
        ("gis_osm_waterways_free_1", 1.0),
    ):
        shapes = shplib.parse_shp(z.read(f"{member}.shp"))
        recs = shplib.parse_dbf(z.read(f"{member}.dbf"))
        assert len(recs) > 100 or member != "gis_osm_roads_free_1"
        exact = total = 0
        for rec, (_st, pts, _parts) in zip(recs, shapes):
            total += 1
            f = lines.get(int(rec["osm_id"]))
            if f is None:
                continue
            ours = np.array(f["geometry"]["coordinates"], dtype=float)
            theirs = np.array(pts, dtype=float)
            if len(ours) == len(theirs) and np.abs(ours - theirs).max() <= 1.01e-7:
                exact += 1
        frac = exact / total
        assert frac >= floor, (member, exact, total, frac)


@needs_fixture
def test_polygon_rings_match_geofabrik_shapefiles(rutland):
    by_way, by_rel = {}, {}
    for f in rutland["mpoly"]:
        if f["properties"].get("osm_way_id"):
            by_way[int(f["properties"]["osm_way_id"])] = f
        else:
            by_rel[int(f["properties"]["osm_id"])] = f
    z = zipfile.ZipFile(SHP_ZIP)
    # floors tolerate Geofabrik's vertex dedup / boundary clipping (the
    # known disagreements were inspected: identical bboxes, one deduped
    # duplicate vertex)
    for member, floor in (
        ("gis_osm_buildings_a_free_1", 0.999),
        ("gis_osm_landuse_a_free_1", 0.995),
        ("gis_osm_water_a_free_1", 0.985),
    ):
        shapes = shplib.parse_shp(z.read(f"{member}.shp"))
        recs = shplib.parse_dbf(z.read(f"{member}.dbf"))
        ok = total = 0
        for rec, (_st, pts, parts) in zip(recs, shapes):
            total += 1
            i = int(rec["osm_id"])
            f = by_way.get(i) or by_rel.get(i)
            if f is None:
                continue
            ours = {
                _canon_ring(r)
                for poly in f["geometry"]["coordinates"]
                for r in poly
            }
            bounds = list(parts) + [len(pts)]
            theirs = {
                _canon_ring(pts[s:e]) for s, e in zip(bounds[:-1], bounds[1:])
            }
            ok += ours == theirs
        frac = ok / total
        assert frac >= floor, (member, ok, total, frac)


# ---------------------------------------------------------------------------
# 3. golden snapshots (exact content, committed)
# ---------------------------------------------------------------------------

LAYERS = ["lines", "mls", "mpoly"]


def _frame(feats):
    return pd.DataFrame(
        {
            "id": [f["id"] for f in feats],
            "geometry": [
                json.dumps(f["geometry"], separators=(",", ":")) for f in feats
            ],
            "properties": [
                json.dumps(f["properties"], separators=(",", ":")) for f in feats
            ],
        }
    )


def regen():
    with open(PBF_PATH, "rb") as f:
        nodes, ways, rels = pbf.parse_pbf(f.read())
    feats = {
        "lines": pbf.assemble_lines(nodes, ways),
        "mls": pbf.assemble_multilinestrings(nodes, ways, rels),
        "mpoly": pbf.assemble_multipolygons(nodes, ways, rels),
    }
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    for name in LAYERS:
        _frame(feats[name]).to_parquet(
            os.path.join(GOLDEN_DIR, f"{name}.parquet"), index=False
        )
        print(f"wrote {name}: {len(feats[name])} rows")


@needs_fixture
@pytest.mark.parametrize("name", LAYERS)
def test_layer_matches_committed_golden(rutland, name):
    path = os.path.join(GOLDEN_DIR, f"{name}.parquet")
    assert os.path.exists(path), "run `python tests/test_pbf_layer_rules.py regen`"
    want = pd.read_parquet(path)
    got = _frame(rutland[name])
    pd.testing.assert_frame_equal(got, want)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "regen":
        regen()
