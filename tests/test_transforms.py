"""Exact-value transform parity with the reference's own test corpus
(/root/reference/tests/test_reader.py:17-156) — same inputs, same
expected WKT strings and dicts, against our from-scratch implementation."""

from pydriosm_spark.functions.transforms import (
    geojson_to_wkt,
    parse_hstore,
    point_as_polygon,
)


def test_point_wkt():
    g = {"type": "Point", "coordinates": [-0.5134241, 52.6555853]}
    assert geojson_to_wkt(g) == "POINT (-0.5134241 52.6555853)"


def test_geometry_collection_wkt():
    g = {
        "type": "GeometryCollection",
        "geometries": [
            {"type": "Point", "coordinates": [-0.5096176, 52.6605168]},
            {"type": "Point", "coordinates": [-0.5097337, 52.6605812]},
        ],
    }
    assert (
        geojson_to_wkt(g)
        == "GEOMETRYCOLLECTION (POINT (-0.5096176 52.6605168), POINT (-0.5097337 52.6605812))"
    )


def test_point_as_polygon_degenerate_ring():
    coords = [[[[-0.6920145, 52.6753268], [-0.6920145, 52.6753268]]]]
    assert point_as_polygon(coords) == [
        [
            [
                [-0.6920145, 52.6753268],
                [-0.6920145, 52.6753268],
                [-0.6920145, 52.6753268],
            ]
        ]
    ]


def test_multipolygon_ring_per_polygon_quirk():
    # the reference turns EVERY ring into its own polygon
    g = {
        "type": "MultiPolygon",
        "coordinates": [[[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0]], [[5.0, 5.0], [6.0, 5.0], [6.0, 6.0]]]],
    }
    assert geojson_to_wkt(g) == (
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))"
    )


def test_multipolygon_degenerate_through_wkt():
    g = {
        "type": "MultiPolygon",
        "coordinates": [[[[-0.6920145, 52.6753268], [-0.6920145, 52.6753268]]]],
    }
    assert geojson_to_wkt(g) == (
        "MULTIPOLYGON (((-0.6920145 52.6753268, -0.6920145 52.6753268, "
        "-0.6920145 52.6753268, -0.6920145 52.6753268)))"
    )


def test_hstore_single():
    assert parse_hstore('"odbl"=>"clean"') == {"odbl": "clean"}


def test_hstore_multi_and_br():
    s = '"naptan:StopAreaCode"=>"270G02701525","note"=>"a<br>b"'
    assert parse_hstore(s) == {"naptan:StopAreaCode": "270G02701525", "note": "a b"}


def test_hstore_none_passthrough():
    assert parse_hstore(None) is None
    assert parse_hstore("") == ""


def test_hstore_value_with_comma_inside():
    # commas only split between quote-boundary pairs
    s = '"addr"=>"1, High Street","k"=>"v"'
    assert parse_hstore(s) == {"addr": "1, High Street", "k": "v"}

def test_polygon_measures_batch_equals_per_row_forms():
    """The batch-vectorized WKT measures kernel must equal the per-row
    polygon_area/polygon_perimeter on polygons with holes, unclosed
    rings, and mixed ring counts."""
    import numpy as np

    from pydriosm_spark.geometry.ops import (
        polygon_area,
        polygon_measures_wkt_batch,
        polygon_perimeter,
    )
    from pydriosm_spark.geometry.wkt import parse_wkt

    wkts = [
        "POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))",
        # hole subtracts
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
        # unclosed ring (implicit closure)
        "POLYGON ((0 0, 2 0, 2 2, 0 2))",
        # L-shape + negative coords
        "POLYGON ((-3 -1, 5 -1, 5 2, 1 2, 1 6, -3 6, -3 -1))",
        # two holes
        "POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1), (5 5, 7 5, 7 7, 5 7, 5 5))",
    ]
    areas, perims = polygon_measures_wkt_batch(wkts)
    for i, w in enumerate(wkts):
        rings = parse_wkt(w)[1]
        assert np.isclose(areas[i], polygon_area(rings), rtol=0, atol=1e-12), w
        assert np.isclose(perims[i], polygon_perimeter(rings), rtol=0, atol=1e-12), w


def test_geojson_batch_equals_per_row():
    """The vectorized batch path (VERDICT r4 item 2: one json.loads per
    batch + flattened coordinate formatting) must equal the per-row
    builder byte-for-byte across every geometry family, integral and
    shortest-repr floats, holes-become-polygons MultiPolygons, the
    degenerate-ring quirk, empty geometries, and nulls."""
    import json

    import pandas as pd

    from pydriosm_spark.functions.transforms import geojson_to_wkt_batch

    geoms = [
        {"type": "Point", "coordinates": [-0.5134241, 52.6555853]},
        {"type": "Point", "coordinates": [1.0, -2.0]},  # integral -> "1 -2"
        {"type": "Point", "coordinates": [1e-7, 0.30000000000000004]},
        {"type": "LineString", "coordinates": [[0.1, 0.2], [3.0, 4.5]]},
        {"type": "LineString", "coordinates": []},  # EMPTY
        {"type": "MultiLineString",
         "coordinates": [[[0, 0], [1, 1]], [[2.5, 3.5], [4.0, 5.0], [6.1, 7.2]]]},
        {"type": "MultiLineString", "coordinates": []},  # EMPTY
        {"type": "Polygon",  # open ring -> closed; hole ring stays a hole
         "coordinates": [[[0, 0], [4, 0], [4, 4], [0, 4]],
                         [[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]]]},
        {"type": "Polygon", "coordinates": []},  # EMPTY
        {"type": "MultiPolygon",  # hole becomes its OWN polygon (quirk)
         "coordinates": [[[[0, 0], [9, 0], [9, 9], [0, 9], [0, 0]],
                          [[2, 2], [3, 2], [3, 3], [2, 2]]],
                         [[[20, 20], [21, 20], [21, 21], [20, 20]]]]},
        {"type": "MultiPolygon",  # degenerate 2-point first ring (quirk)
         "coordinates": [[[[-0.6920145, 52.6753268], [-0.6920145, 52.6753268]]]]},
        {"type": "GeometryCollection",
         "geometries": [
             {"type": "Point", "coordinates": [-0.5096176, 52.6605168]},
             {"type": "Polygon",
              "coordinates": [[[0, 0], [1, 0], [1, 1]], [[5, 5], [6, 5], [6, 6]]]},
         ]},
    ]
    raw = [json.dumps(g) for g in geoms]
    s = pd.Series(raw[:3] + [None] + raw[3:] + [None], dtype=object)
    got = geojson_to_wkt_batch(s)
    want = s.map(lambda x: geojson_to_wkt(json.loads(x)), na_action="ignore")
    assert list(got) == list(want)
    assert got[3] is None and got[len(s) - 1] is None


def test_geojson_canonical_fast_path_equals_parse_path():
    """assume_canonical=True must equal the parse path byte-for-byte on
    canonical json.dumps output (incl. integral, exponent, and -0.0
    coordinates), and FALL BACK to parsing for anything not in
    canonical form (spaced JSON, other types, empty coords, 3D
    points)."""
    import json

    import pandas as pd

    from pydriosm_spark.functions.transforms import geojson_to_wkt_batch

    canon = [
        {"type": "Point", "coordinates": [-0.5134241, 52.6555853]},
        {"type": "Point", "coordinates": [1.0, -2.0]},
        {"type": "Point", "coordinates": [1e-07, -0.0]},
        {"type": "LineString", "coordinates": [[0.1, 0.2], [3.0, -4.5], [1e-07, 2.0]]},
        {"type": "MultiLineString",
         "coordinates": [[[0.5, 1.5], [2.0, 3.0]], [[4.25, 5.0], [6.0, 7.125], [8.0, 9.0]]]},
    ]
    rows = [json.dumps(g, separators=(",", ":")) for g in canon]
    # non-canonical / fallback rows interleaved
    rows += [
        json.dumps(canon[0]),                               # spaced separators
        json.dumps({"type": "LineString", "coordinates": []},
                   separators=(",", ":")),                  # EMPTY
        json.dumps({"type": "Polygon",
                    "coordinates": [[[0, 0], [2, 0], [2, 2]]]},
                   separators=(",", ":")),                  # other type
        json.dumps({"type": "Point", "coordinates": [1.5, 2.5, 3.5]},
                   separators=(",", ":")),                  # 3D point
        None,
    ]
    s = pd.Series(rows, dtype=object)
    fast = geojson_to_wkt_batch(s, assume_canonical=True)
    slow = geojson_to_wkt_batch(s)
    assert list(fast) == list(slow)
    assert fast[1] == "POINT (1 -2)"
    assert fast[2] == "POINT (1e-07 0)"
    assert fast[len(rows) - 1] is None


def test_geojson_canonical_fast_path_on_pbf_layers(spark, pbf_lake):
    """The true 100 TB layer-conversion input: lines, multilinestrings
    and multipolygons geometry strings (produced by the PBF assemblers
    via json.dumps) through the fast path == parse path on every
    feature."""
    import pandas as pd

    from pydriosm_spark.functions.transforms import geojson_to_wkt_batch

    for name in ["lines", "multilinestrings", "multipolygons"]:
        df = spark.read.format("osmpbf").option("layer", name).load(pbf_lake)
        geoms = pd.Series(
            [r["geometry"] for r in df.select("geometry").collect()], dtype=object
        )
        fast = geojson_to_wkt_batch(geoms, assume_canonical=True)
        slow = geojson_to_wkt_batch(geoms)
        assert list(fast) == list(slow), name
        assert len(geoms) > (5 if name == "multilinestrings" else 1000)


def test_canonical_wkt_udf_on_pbf_layers(spark, pbf_lake):
    """The fused read->transform flow: the canonical WKT UDF over PBF
    layer rows == per-feature geojson_to_wkt."""
    import json as _json

    from pydriosm_spark.functions.transforms import geojson_wkt_canonical_udf

    for name in ["lines", "multipolygons"]:
        df = spark.read.format("osmpbf").option("layer", name).load(pbf_lake)
        df = df.withColumn("geometry_wkt", geojson_wkt_canonical_udf("geometry"))
        rows = df.select("id", "geometry", "geometry_wkt").limit(500).collect()
        assert len(rows) == 500
        for r in rows:
            assert r["geometry_wkt"] == geojson_to_wkt(_json.loads(r["geometry"]))


def test_hstore_batch_equals_scalar():
    """parse_hstore_batch (vectorized pair stream, VERDICT r4 item 3)
    must equal the scalar parse_hstore element-for-element across every
    pinned quirk: quote-boundary pair split, <br> replacement, commas
    and newlines inside values, unquoted values, separator-less
    segments, duplicate keys (last wins), None and '' passthrough."""
    import pandas as pd

    from pydriosm_spark.functions.transforms import parse_hstore_batch

    corpus = [
        '"odbl"=>"clean"',
        '"naptan:StopAreaCode"=>"270G02701525","note"=>"a<br>b"',
        '"addr"=>"1, High Street","k"=>"v"',
        None,
        "",
        '"k"=>v',                      # unquoted value
        '"k"=>"a"=>"b"',               # separator inside value: first split wins
        'garbage with no separator',
        '"dup"=>"1","dup"=>"2"',       # last occurrence wins
        '"nl"=>"line1\nline2"',        # value with newline (dotall split)
        '"empty"=>""',
        '"a"=>"x","b"=>"y","c"=>"z<br><br>w"',
        '"weird,key"=>"v1","k2"=>"v2"',
        '"k"=>"v"\n',               # trailing newline: '"$' matches before it
        '"k"=>"v\n"\n,"b"=>"2"',    # newline before a non-boundary comma
        '"',                          # single quote char
        '""',                         # two quotes -> empty segment dropped
    ]
    s = pd.Series(corpus, dtype=object)
    got = parse_hstore_batch(s)
    want = s.map(lambda x: __import__("pydriosm_spark.functions.transforms",
                                      fromlist=["parse_hstore"]).parse_hstore(x),
                 na_action="ignore")
    for i in range(len(s)):
        g = got.iloc[i]
        w = want.iloc[i] if want.iloc[i] is not None or corpus[i] is None else want.iloc[i]
        if corpus[i] is None:
            assert g is None
        else:
            assert g == w, (i, corpus[i], g, w)


def test_geojson_canonical_polygon_multipolygon_fast_path():
    """Canonical-form Polygon/MultiPolygon string surgery (VERDICT r4
    item 4 — multipolygons are the reference's heaviest layer) must
    equal the parse path byte-for-byte when all rings are closed with
    >= 4 points, and FALL BACK to parsing for open rings, short rings,
    the degenerate 2-point first ring, and 3D coordinates."""
    import json

    import pandas as pd

    from pydriosm_spark.functions.transforms import (
        _canonical_text_rows,
        geojson_to_wkt_batch,
    )

    fast_expected = [
        # closed square, integral coords -> "0 0" etc.
        {"type": "Polygon",
         "coordinates": [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]]]},
        # polygon with hole: both rings closed -> hole STAYS a ring
        {"type": "Polygon",
         "coordinates": [[[0.0, 0.0], [9.5, 0.0], [9.5, 9.5], [0.0, 0.0]],
                         [[2.25, 2.25], [3.0, 2.25], [3.0, 3.0], [2.25, 2.25]]]},
        # multipolygon, 2 polygons, hole flattens into its own polygon
        {"type": "MultiPolygon",
         "coordinates": [[[[0.0, 0.0], [9.0, 0.0], [9.0, 9.0], [0.0, 0.0]],
                          [[2.0, 2.0], [3.0, 2.0], [3.0, 3.0], [2.0, 2.0]]],
                         [[[20.5, 20.5], [21.0, 20.5], [21.0, 21.0], [20.5, 20.5]]]]},
        # shortest-repr floats + negative zero
        {"type": "MultiPolygon",
         "coordinates": [[[[-0.5134241, 52.6555853], [-0.51, 52.66],
                           [-0.0, 52.0], [-0.5134241, 52.6555853]]]]},
    ]
    fallback = [
        # open ring (parse path closes it)
        {"type": "Polygon",
         "coordinates": [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0]]]},
        # closed but only 3 points (parse path pads to 4)
        {"type": "Polygon",
         "coordinates": [[[0.0, 0.0], [2.0, 0.0], [0.0, 0.0]]]},
        # degenerate 2-point first ring (point_as_polygon quirk)
        {"type": "MultiPolygon",
         "coordinates": [[[[-0.6920145, 52.6753268], [-0.6920145, 52.6753268]]]]},
        # 3D ring
        {"type": "Polygon",
         "coordinates": [[[0.0, 0.0, 1.0], [2.0, 0.0, 1.0], [2.0, 2.0, 1.0],
                          [0.0, 0.0, 1.0]]]},
    ]
    rows = [json.dumps(g, separators=(",", ":")) for g in fast_expected + fallback]
    s = pd.Series(rows + [None], dtype=object)
    fast = geojson_to_wkt_batch(s, assume_canonical=True)
    slow = geojson_to_wkt_batch(s)
    assert list(fast) == list(slow)
    # the fast rows really took surgery; the fallback rows really didn't
    surg = _canonical_text_rows(pd.Series(rows, dtype=object))
    assert surg.notna().tolist() == [True] * len(fast_expected) + [False] * len(fallback)
    assert fast[0] == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    assert fast[2] == ("MULTIPOLYGON (((0 0, 9 0, 9 9, 0 0)), "
                       "((2 2, 3 2, 3 3, 2 2)), "
                       "((20.5 20.5, 21 20.5, 21 21, 20.5 20.5)))")
