"""Reader operators: csv.xz / geojson.xz round-trips on generated
fixtures, and the Geofabrik member-name rule of the shapefile reader."""

import json
import lzma

from pydriosm_spark.sources import readers


def test_read_csv_xz(spark, tmp_path):
    lines = "\n".join(f"node\t{i}\tfeat{i}\tnote {i}" for i in range(100))
    p = tmp_path / "x.csv.xz"
    p.write_bytes(lzma.compress(lines.encode()))
    df = readers.read_csv_xz(spark, str(p))
    rows = df.collect()
    assert len(rows) == 100
    r5 = df.filter("id = '5'").first()
    assert r5["type"] == "node" and r5["feature"] == "feat5"
    assert df.columns == ["type", "id", "feature", "note", "src_file"]


def test_read_geojson_xz(spark, tmp_path):
    feats = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "id": i,
                "geometry": {"type": "Point", "coordinates": [float(i), float(-i)]},
                "properties": {"name": f"p{i}"},
            }
            for i in range(25)
        ],
    }
    p = tmp_path / "x.geojson.xz"
    p.write_bytes(lzma.compress(json.dumps(feats).encode()))
    df = readers.read_geojson_xz(spark, str(p))
    rows = df.orderBy("id").collect()
    assert len(rows) == 25
    g = json.loads(rows[3]["geometry"])
    assert g == {"type": "Point", "coordinates": [3.0, -3.0]}


def test_layer_name_regex():
    from pydriosm_spark.sources.shp_datasource import layer_name_of_member

    assert layer_name_of_member("gis_osm_railways_free_1.shp") == "railways"
    assert layer_name_of_member("gis_osm_water_a_free_1.shp") == "water"
    assert layer_name_of_member("README.txt") is None
