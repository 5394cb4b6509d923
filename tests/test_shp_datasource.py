"""spark.read.format("osmshp") — the one shapefile reader — over the
generated lake of ``tests/shp_lake.py``: record stripes equal the
whole-file parse and the values written, files without a ``.shx`` and
zipped extracts read through the same record loop, a deleted ``.dbf``
record drops its feature on every path, and the sink round-trips."""

import json
import os
import shutil

import pytest

from tests.shp_lake import DELETED, LAYERS, NO_SHX, PLAIN, ZIP, expected, keyed

ZIP_PATH = "/root/reference/tests/data/rutland/rutland-latest-free.shp.zip"
needs_fixture = pytest.mark.skipif(
    not os.path.exists(ZIP_PATH), reason="reference fixture absent"
)


@pytest.fixture(scope="module")
def shp_dir(shp_lake):
    return os.path.join(shp_lake, PLAIN)


@pytest.fixture(scope="module")
def zip_path(shp_lake):
    return os.path.join(shp_lake, ZIP)


@pytest.fixture(scope="module")
def registered(spark):
    from pydriosm_spark.sources.shp_datasource import OsmShpDataSource

    spark.dataSource.register(OsmShpDataSource)
    return spark


def test_osmshp_striped_equals_whole_file(registered, shp_dir):
    spark = registered
    from pydriosm_spark.sources import shp as S
    from pydriosm_spark.sources.shp_datasource import layer_name_of_member

    df = spark.read.format("osmshp").option("n_tasks", "4").load(shp_dir)
    got = keyed(df.collect())

    want = {}
    for f in sorted(os.listdir(shp_dir)):
        if not f.endswith(".shp"):
            continue
        layer = layer_name_of_member(f) or f[:-4]
        shapes = S.parse_shp(open(os.path.join(shp_dir, f), "rb").read())
        recs = S.parse_dbf(open(os.path.join(shp_dir, f[:-4] + ".dbf"), "rb").read())
        assert len(recs) == len(shapes)
        for i, (st, pts, parts) in enumerate(shapes):
            if recs[i] is not None:
                want[(layer, i)] = (st, tuple(pts), tuple(parts), recs[i])
    assert got == want == expected()
    # 4 files x 4 stripes: an explicit n_tasks stripes every plain file,
    # the one without a .shx too
    assert df.rdd.getNumPartitions() == 16


def test_parse_shx_matches_sequential_walk(shp_dir):
    """The .shx random-access map equals the walk of the .shp record
    headers, and points exactly at every record the sequential parser
    visits."""
    from pydriosm_spark.sources import shp as S

    files = [os.path.join(shp_dir, b + ".shp") for b in LAYERS if b != NO_SHX]
    for f in files:
        buf = open(f, "rb").read()
        index = S.parse_shx(open(f[:-4] + ".shx", "rb").read())
        with open(f, "rb") as fh:
            assert S.shp_index(fh) == index
        shapes = S.parse_shp(buf)
        assert len(index) == len(shapes) == len(LAYERS[os.path.basename(f)[:-4]][1])
        for (off, ln), want in zip(index, shapes):
            assert S.parse_shp_record(buf[off : off + ln]) == want


def test_osmshp_write_round_trip(registered, shp_dir, tmp_path):
    """df.write.format('osmshp') -> read back with the same format:
    geometry round-trips exactly (float64 binary), attributes by value,
    and the commit protocol leaves _SUCCESS + a row-count manifest."""
    spark = registered
    src = spark.read.format("osmshp").load(shp_dir)
    out = str(tmp_path / "sink")
    src.write.format("osmshp").mode("overwrite").save(out)

    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    manifest = json.load(open(os.path.join(out, "_manifest.json")))
    n_src = src.count()
    assert manifest["rows"] == n_src
    assert all(f.endswith(".shp") for f in manifest["files"])

    back = spark.read.format("osmshp").load(out)
    # record_idx/src_file re-key per output file; compare content multisets
    def key(df):
        rows = sorted(
            (
                r["layer"],
                r["shape_type"],
                tuple(tuple(p) for p in r["coordinates"]),
                tuple(r["parts"]),
                tuple(sorted(json.loads(r["fields"]).items(), key=str)),
            )
            for r in df.collect()
        )
        return rows

    a, b = key(src), key(back)
    assert len(b) == n_src
    assert [x[1:3] for x in a] == [x[1:3] for x in b]  # geometry exact
    assert a == b  # attributes too


def test_osmshp_wkt_geometry_option(registered, shp_dir, zip_path):
    """option('geometry', 'wkt') appends the reconstructed WKT column —
    the reference's emulate_gpd=True geometry surface — equal to
    shape_to_wkt over the raw parse for every record, plain or zipped."""
    from pydriosm_spark.functions.transforms import shape_to_wkt

    spark = registered
    for path in (shp_dir, zip_path):
        df = spark.read.format("osmshp").option("geometry", "wkt").option(
            "n_tasks", "4"
        ).load(path)
        assert "geometry_wkt" in df.columns
        rows = df.collect()
        assert len(rows) == len(expected())
        for r in rows:
            want = shape_to_wkt(
                r["shape_type"],
                [tuple(p) for p in r["coordinates"]],
                list(r["parts"]) or None,
            )
            assert r["geometry_wkt"] == want
        assert {r["geometry_wkt"].split(" (")[0] for r in rows} == {
            "LINESTRING", "MULTILINESTRING", "POINT", "POLYGON", "MULTIPOINT",
        }


def test_osmshp_zip_selected_layers(registered, zip_path):
    """option('layers') reads only the named layers of a zipped extract
    (an ``_a`` area member under its stripped name), one task per member,
    with the values written and ``src_file`` the archive's plain path."""
    df = registered.read.format("osmshp").option("layers", "railways, water").load(zip_path)
    assert df.rdd.getNumPartitions() == 2  # the other members are not planned
    rows = df.collect()
    assert keyed(rows) == expected({"railways", "water"})
    assert {r["src_file"] for r in rows} == {zip_path}
    rail = [r for r in rows if r["layer"] == "railways"]
    assert {r["shape_type"] for r in rail} == {3}
    assert any(len(r["parts"]) == 3 for r in rail)
    f = json.loads(rail[0]["fields"])
    assert set(f) >= {"osm_id", "code", "fclass", "name"} and isinstance(f["code"], int)
    none = registered.read.format("osmshp").option("layers", "roads").load(zip_path)
    assert none.count() == 0


def test_osmshp_zip_equals_plain(registered, shp_dir, zip_path):
    """A zipped extract reads as its unzipped files do, apart from
    ``src_file``: the member without a ``.shx`` included, the README
    member ignored."""
    spark = registered
    plain = spark.read.format("osmshp").load(shp_dir).collect()
    zipped = spark.read.format("osmshp").load(zip_path).collect()
    assert keyed(zipped) == keyed(plain) == expected()
    assert {os.path.dirname(r["src_file"]) for r in plain} == {shp_dir}
    counts = {}
    for r in zipped:
        counts[r["layer"]] = counts.get(r["layer"], 0) + 1
    assert counts == {"railways": 240, "natural": 299, "water": 60, "transport": 40}


def test_osmshp_deleted_dbf_record_is_not_emitted(registered, shp_dir, zip_path, tmp_path):
    """A feature whose .dbf record is flagged deleted is dropped, and its
    neighbours keep their own attributes and record numbers — read with
    the .shx, without it, and from the zip."""
    base, i = DELETED
    bare = tmp_path / "no_shx"
    bare.mkdir()
    for ext in (".shp", ".dbf"):
        shutil.copy(os.path.join(shp_dir, base + ext), bare / (base + ext))
    want = expected({"natural"})
    assert ("natural", i) not in want and ("natural", i + 1) in want
    for path in (os.path.join(shp_dir, base + ".shp"), str(bare), zip_path):
        df = registered.read.format("osmshp").option("layers", "natural").load(path)
        assert keyed(df.collect()) == want, path


def test_osmshp_default_stripes_are_never_empty(registered, tmp_path):
    """Without n_tasks a file plans at most one stripe per record (counted
    from the .shx size), so no read task comes up empty."""
    from pyspark.sql import functions as F

    from pydriosm_spark.sources.shp_writer import write_shapefile

    write_shapefile(
        str(tmp_path / "five"),
        [(1, [(float(i), 0.0)], []) for i in range(5)],
        [{"n": i} for i in range(5)],
    )
    df = registered.read.format("osmshp").load(str(tmp_path))
    n = df.rdd.getNumPartitions()
    per_part = df.groupBy(F.spark_partition_id().alias("p")).count().collect()
    assert n <= 5 and len(per_part) == n
    assert sum(r["count"] for r in per_part) == 5


def test_osmshp_lists_file_uris_and_globs(registered, shp_dir):
    """osmshp lists paths by the osmpbf rule: a ``file:`` URI loads, and a
    glob over one layer's files reads its ``.shp``, not its sidecars."""
    df = registered.read.format("osmshp").load("file://" + shp_dir)
    assert keyed(df.collect()) == expected()
    df = registered.read.format("osmshp").load(os.path.join(shp_dir, "gis_osm_natural*"))
    assert keyed(df.collect()) == expected({"natural"})


@needs_fixture
def test_osmshp_rutland_extract(registered):
    """The real Geofabrik Rutland extract: the layers the contract names
    (parser.py:105-119; the fixture ships 12 of them, point and area
    files sharing a name), >10,000 features, lon/lat inside Rutland."""
    df = registered.read.format("osmshp").load(ZIP_PATH)
    counts = {r["layer"]: r["count"] for r in df.groupBy("layer").count().collect()}
    documented = {
        "buildings", "landuse", "natural", "places", "pofw", "points", "pois",
        "railways", "roads", "traffic", "transport", "water", "waterways",
    }
    assert set(counts) <= documented and len(counts) >= 12, counts
    assert sum(counts.values()) > 10000
    rail = df.filter("layer = 'railways'").first()
    lon, lat = rail["coordinates"][0]
    assert -1.0 < lon < 0.0 and 52.3 < lat < 53.0
