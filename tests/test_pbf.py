"""From-scratch OSM PBF reader vs the reference's GDAL-produced golden
corpus: BYTE-EXACT feature parity on both golden layers (5,126 points,
16 other_relations) of the real Rutland extract; and every Spark read
path vs the single-machine assemblers on the generated test lake
(tests/pbf_lake.py)."""

import os
import shutil

import pandas as pd
import pytest

from pydriosm_spark.sources import pbf
from tests.pbf_lake import LAKE_FILES, keyed, reference

PBF_PATH = "/root/reference/tests/data/rutland/rutland-latest.osm.pbf"
GOLD_POINTS = "/root/reference/tests/data/rutland/points_1.pkl"
GOLD_RELS = "/root/reference/tests/data/rutland/other_relations_1.pkl"

needs_fixture = pytest.mark.skipif(
    not os.path.exists(PBF_PATH), reason="reference fixture absent"
)


@pytest.fixture(scope="module")
def parsed():
    with open(PBF_PATH, "rb") as f:
        return pbf.parse_pbf(f.read())


@needs_fixture
def test_primitive_counts(parsed):
    nodes, ways, rels = parsed
    assert len(nodes) == 170885
    assert len(ways) == 16730
    assert len(rels) == 287


@needs_fixture
def test_points_layer_byte_exact(parsed):
    nodes, _, _ = parsed
    golden = {f["id"]: f for f in pd.read_pickle(GOLD_POINTS)}
    ours = {}
    for nid, lat, lon, tags in nodes:
        f = pbf.node_to_point_feature(nid, lat, lon, tags)
        if f is not None:
            ours[nid] = f
    assert set(ours) == set(golden)
    assert sum(1 for k in golden if ours[k] != golden[k]) == 0


@needs_fixture
def test_other_relations_byte_exact(parsed):
    nodes, ways, rels = parsed
    golden = {f["id"]: f for f in pd.read_pickle(GOLD_RELS)}
    ours = {f["id"]: f for f in pbf.assemble_other_relations(nodes, ways, rels)}
    assert ours == golden


@needs_fixture
def test_spark_points_layer_surface(spark):
    df = _osmpbf(spark, "points", PBF_PATH)
    assert df.count() == 5126
    row = df.filter("id = 488432").first()
    assert row["properties"]["other_tags"] == '"odbl"=>"clean"'
    assert abs(row["lon"] - -0.5134241) < 1e-9
    # determinism: reference sorts by id (parser.py:1589-1591)
    ids = [r["id"] for r in df.limit(5).collect()]
    assert ids == sorted(ids)

@needs_fixture
def test_remaining_layers_structural(parsed):
    """lines / multilinestrings / multipolygons: no golden fixtures ship
    for these, so the checks are structural + pinned regression counts
    (self-generated on first run, guarding future refactors)."""
    nodes, ways, rels = parsed
    lines = pbf.assemble_lines(nodes, ways)
    mls = pbf.assemble_multilinestrings(nodes, ways, rels)
    mpoly = pbf.assemble_multipolygons(nodes, ways, rels)
    assert (len(lines), len(mls), len(mpoly)) == (9118, 56, 7560)
    # polygon-classified ways never appear in lines
    wayp = {f["id"] for f in mpoly if "osm_way_id" in f["properties"]}
    assert not wayp & {f["id"] for f in lines}
    # all multipolygon rings closed, >= 4 points
    for f in mpoly[:200]:
        for poly in f["geometry"]["coordinates"]:
            for ring in poly:
                assert len(ring) >= 4 and ring[0] == ring[-1]
    # every geometry renders to parseable WKT
    from pydriosm_spark.functions.transforms import geojson_to_wkt
    from pydriosm_spark.geometry.wkt import parse_wkt

    for f in lines[:50] + mls[:20] + mpoly[:50]:
        parse_wkt(geojson_to_wkt(f["geometry"]))


def _osmpbf(spark, layer, path, n_tasks=16):
    return spark.read.format("osmpbf").option("layer", layer).option(
        "n_tasks", str(n_tasks)
    ).load(path)


def test_splittable_scan_byte_identical(spark, pbf_lake):
    """Blob-offset index -> >= 4 concurrent blob-range tasks; output
    byte-identical to the single-task path and to the assembler."""
    path = os.path.join(pbf_lake, "a.osm.pbf")
    split_df = _osmpbf(spark, "points", path, n_tasks=8)
    n_parts = split_df.rdd.getNumPartitions()
    assert n_parts >= 4, n_parts

    split = keyed(split_df.collect(), "points")
    single = keyed(_osmpbf(spark, "points", path, n_tasks=1).collect(), "points")
    want = reference(pbf_lake, "points", ["a.osm.pbf"])
    assert split == single == want and len(want) > 3000


def test_blob_index_covers_file(spark, pbf_lake):
    path = os.path.join(pbf_lake, "a.osm.pbf")
    idx = pbf.index_blobs(path)
    assert len([b for b in idx if b[2] == "OSMData"]) >= 4  # enough split units
    # ranges tile the file exactly: contiguous, gap-free, full coverage
    pos = 0
    for start, length, _bt in idx:
        assert start == pos
        pos += length
    assert pos == os.path.getsize(path)
    # primitives via ranged reads == primitives via the whole-file parse
    prims = _osmpbf(spark, "primitives", path, n_tasks=8)
    counts = {r["kind"]: r["n"] for r in prims.groupBy("kind").count().withColumnRenamed("count", "n").collect()}
    with open(path, "rb") as f:
        n, w, r = pbf.parse_pbf(f.read())
    assert counts == {"node": len(n), "way": len(w), "relation": len(r)}


@pytest.mark.parametrize("one_file_twice", [False, True], ids=["lake", "one_file_twice"])
def test_relation_layers_distributed_byte_identical(spark, pbf_lake, tmp_path, one_file_twice):
    """The join-based distributed assembly of all four whole-file layers
    (lines, multilinestrings, multipolygons, other_relations) equals the
    single-machine assemblers feature-for-feature on every file of the
    lake — and on two copies of one file, whose ids repeat across files:
    each file assembles against its own primitives."""
    d = pbf_lake
    if one_file_twice:
        d = str(tmp_path)
        for name in LAKE_FILES:
            shutil.copy(os.path.join(pbf_lake, "a.osm.pbf"), os.path.join(d, name))
    dist_df = pbf.relation_layers_distributed(spark, d)
    dist = dist_df.collect()
    dist_df.release_primitives()  # ADVICE r3: caller unpersists after materializing
    assert {r["layer"] for r in dist} == set(pbf.WHOLE_FILE)
    for layer in pbf.WHOLE_FILE:
        want = reference(d, layer)
        got = keyed([r for r in dist if r["layer"] == layer], layer)
        assert set(got) == set(want), (layer, len(got), len(want))
        mismatch = [k for k in want if got[k] != want[k]]
        assert not mismatch, (layer, len(mismatch), mismatch[:2])


@needs_fixture
def test_osmpbf_layers_on_rutland(spark):
    dfs = {name: _osmpbf(spark, name, PBF_PATH) for name in ["points", "multilinestrings"]}
    assert dfs["points"].count() == 5126
    assert dfs["multilinestrings"].count() == 56
