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
    """The vectorized batch path (one json.loads per batch + flattened
    coordinate formatting) must equal the per-row builder byte-for-byte
    across every geometry family, integral, exponent, negative-zero and
    shortest-repr floats, closed, open and short rings, holes,
    holes-become-polygons MultiPolygons, the degenerate-ring quirk, a
    3D point (z dropped), empty geometries and nulls, in both spaced and
    compact JSON."""
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
        {"type": "Point", "coordinates": [1e-07, -0.0]},
        {"type": "Point", "coordinates": [1.5, 2.5, 3.5]},  # z dropped
        {"type": "LineString", "coordinates": [[0.1, 0.2], [3.0, -4.5], [1e-07, 2.0]]},
        {"type": "MultiLineString",
         "coordinates": [[[0.5, 1.5], [2.0, 3.0]], [[4.25, 5.0], [6.0, 7.125], [8.0, 9.0]]]},
        {"type": "Polygon",  # closed but 3 points -> padded to 4
         "coordinates": [[[0.0, 0.0], [2.0, 0.0], [0.0, 0.0]]]},
        {"type": "Polygon",  # closed shell and closed hole
         "coordinates": [[[0.0, 0.0], [9.5, 0.0], [9.5, 9.5], [0.0, 0.0]],
                         [[2.25, 2.25], [3.0, 2.25], [3.0, 3.0], [2.25, 2.25]]]},
        {"type": "MultiPolygon",  # negative zero
         "coordinates": [[[[-0.5134241, 52.6555853], [-0.51, 52.66],
                           [-0.0, 52.0], [-0.5134241, 52.6555853]]]]},
    ]
    raw = [json.dumps(g) for g in geoms]
    raw += [json.dumps(g, separators=(",", ":")) for g in geoms]
    s = pd.Series(raw[:3] + [None] + raw[3:] + [None], dtype=object)
    got = geojson_to_wkt_batch(s)
    want = s.map(lambda x: geojson_to_wkt(json.loads(x)), na_action="ignore")
    assert list(got) == list(want)
    assert got[3] is None and got[len(s) - 1] is None
    assert got[1] == "POINT (1 -2)"
    assert got[13] == "POINT (1e-07 0)"


def test_geojson_rejects_positions_that_are_not_pairs():
    """A 3D position in a line or ring must raise on both paths, not
    re-pair into the next position's x (even value counts) or fail in
    a reshape (odd counts); the batch error names the geometry type."""
    import json

    import pandas as pd
    import pytest

    from pydriosm_spark.functions.transforms import geojson_to_wkt_batch

    even = [[0, 0, 1], [2, 0, 1], [2, 2, 1], [0, 0, 1]]  # 12 values
    odd = [[0, 0, 1], [2, 0], [2, 2], [0, 0]]  # 9 values
    for ring in (even, odd):
        for gtype, coords in [
            ("LineString", ring),
            ("MultiLineString", [[[5, 5], [6, 6]], ring]),
            ("Polygon", [ring]),
            ("MultiPolygon", [[[[5, 5], [6, 5], [6, 6], [5, 5]]], [ring]]),
        ]:
            g = {"type": gtype, "coordinates": coords}
            with pytest.raises(ValueError):
                geojson_to_wkt(g)
            with pytest.raises(ValueError, match=rf"^{gtype} positions"):
                geojson_to_wkt_batch(pd.Series([json.dumps(g)], dtype=object))


def test_geojson_batch_on_pbf_layers(spark, pbf_lake):
    """The true layer-conversion input: lines, multilinestrings and
    multipolygons geometry strings (produced by the PBF assemblers via
    json.dumps) through the batch converter == per-feature
    geojson_to_wkt on every feature."""
    import json as _json

    import pandas as pd

    from pydriosm_spark.functions.transforms import geojson_to_wkt_batch

    for name in ["lines", "multilinestrings", "multipolygons"]:
        df = spark.read.format("osmpbf").option("layer", name).load(pbf_lake)
        geoms = pd.Series(
            [r["geometry"] for r in df.select("geometry").collect()], dtype=object
        )
        want = [geojson_to_wkt(_json.loads(g)) for g in geoms]
        assert list(geojson_to_wkt_batch(geoms)) == want, name
        assert len(geoms) > (5 if name == "multilinestrings" else 1000)


def test_wkt_udf_on_pbf_layers(spark, pbf_lake):
    """The fused read->transform flow: the WKT UDF over PBF layer rows
    == per-feature geojson_to_wkt on every feature."""
    import json as _json

    from pydriosm_spark.functions.transforms import geojson_wkt_udf

    for name in ["lines", "multilinestrings", "multipolygons"]:
        df = spark.read.format("osmpbf").option("layer", name).load(pbf_lake)
        df = df.withColumn("geometry_wkt", geojson_wkt_udf("geometry"))
        rows = df.select("geometry", "geometry_wkt").collect()
        assert len(rows) > (5 if name == "multilinestrings" else 1000), name
        for r in rows:
            assert r["geometry_wkt"] == geojson_to_wkt(_json.loads(r["geometry"])), name


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

