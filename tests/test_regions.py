"""Region hierarchy tier + subregion expansion + tier-driven ingest
(reference: downloader/geofabrik.py:602-651 _compile_region_subregion_tier,
:1316-1390 get_subregions)."""

import pytest
from pyspark.sql import functions as F

from pydriosm_spark.functions.naming import InvalidNameError
from pydriosm_spark.functions import regions as R


EDGES = [
    ("world", None),
    ("europe", "world"),
    ("n-america", "world"),
    ("britain", "europe"),
    ("france", "europe"),
    ("england", "britain"),
    ("scotland", "britain"),
    ("wales", "britain"),
    ("rutland", "england"),
]


@pytest.fixture()
def tier(spark):
    edges = spark.createDataFrame(EDGES, "region string, parent string")
    return R.tier_from_edges(edges).cache()


def test_tier_depths_and_leaves(tier):
    got = {r["region"]: (r["depth"], r["is_leaf"]) for r in tier.collect()}
    assert got == {
        "world": (0, False),
        "europe": (1, False),
        "n-america": (1, True),
        "britain": (2, False),
        "france": (2, True),
        "england": (3, False),
        "scotland": (3, True),
        "wales": (3, True),
        "rutland": (4, True),
    }


def test_tier_cycle_raises(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("r", None)], "region string, parent string"
    )
    with pytest.raises(ValueError, match="cyclic"):
        R.tier_from_edges(edges).collect()


def test_get_subregions_matches_reference_semantics(tier):
    # no names -> all regions having no subregions
    assert R.get_subregions(tier) == [
        "france", "n-america", "rutland", "scotland", "wales",
    ]
    # direct children only (get_subregions('britain') in the reference)
    assert R.get_subregions(tier, "britain") == ["england", "scotland", "wales"]
    # deep -> leaf descendants; fuzzy name resolution on the way in
    assert R.get_subregions(tier, "britian", deep=True) == [
        "rutland", "scotland", "wales",
    ]
    assert R.get_subregions(tier, "europe", deep=True) == [
        "france", "rutland", "scotland", "wales",
    ]
    with pytest.raises(InvalidNameError):
        R.get_subregions(tier, "zzzqqqvvv")


def test_tier_ingest_resumes_per_leaf(spark, tier, tmp_path):
    """'import europe' -> per-leaf checkpointed ingest: killed after 2
    leaf commits, the resume writes ONLY the remaining leaves and the
    lineage carries one row per region with true counts."""
    data = spark.createDataFrame(
        [(i, leaf) for i, leaf in enumerate(
            ["france"] * 5 + ["rutland"] * 3 + ["scotland"] * 4 + ["wales"] * 2
            + ["n-america"] * 7  # outside europe: must NOT be ingested
        )],
        "id long, region string",
    )
    base = str(tmp_path / "tier_ingest")
    with pytest.raises(RuntimeError, match="injected"):
        R.ingest_subregions(data, tier, ["europe"], base, fail_after=2, run_id="r1")
    res = R.ingest_subregions(data, tier, ["europe"], base, run_id="r2")
    assert len(res.skipped_partitions) == 2 and len(res.written_partitions) == 2
    from pydriosm_spark.plans.checkpoint import PartitionedCheckpoint

    ck = PartitionedCheckpoint(base, "region")
    lineage = {r["region"]: r["rows"] for r in ck.lineage(spark).collect()}
    assert lineage == {"france": 5, "rutland": 3, "scotland": 4, "wales": 2}
    assert ck.read(spark).count() == 14
    runs = {r["committed_at_run"] for r in ck.lineage(spark).collect()}
    assert runs == {"r1", "r2"}


def test_catalogue_answers_resume_planning(spark, tmp_path):
    """The catalogue surface (reference geofabrik.py:758-831 analogue):
    sizes/formats per partition, dead-run leftovers flagged uncommitted,
    storage rot flagged un-on-disk, and pending() returning exactly the
    partitions a resume must (re)write."""
    import shutil

    from pydriosm_spark.plans import catalogue as C
    from pydriosm_spark.plans.checkpoint import PartitionedCheckpoint

    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3]) for i in range(30)], "id long, part string"
    )
    base = str(tmp_path / "cat")
    ck = PartitionedCheckpoint(base, "part")
    ck.run(df.filter(F.col("part") != "c"), run_id="r1")
    # dead run: files on disk for 'c' but no manifest line
    df.filter(F.col("part") == "c").write.partitionBy("part").mode("append").parquet(
        ck.data_dir
    )
    cat = {r["partition"]: r for r in C.catalogue(spark, ck).collect()}
    assert set(cat) == {"a", "b", "c"}
    for p in ("a", "b"):
        assert cat[p]["committed"] and cat[p]["on_disk"]
        assert cat[p]["rows"] == 10 and cat[p]["format"] == "parquet"
        assert cat[p]["bytes"] > 0 and cat[p]["n_files"] >= 1
    assert cat["c"]["on_disk"] and not cat["c"]["committed"]
    assert cat["c"]["rows"] is None
    # column introspection (reference ios/_ios.py:399 analogue): one row
    # per (partition, column) from parquet footers of committed data —
    # the dead-run 'c' is absent, positions/types/nullability correct
    info = C.table_column_info(spark, ck).collect()
    assert {r["partition"] for r in info} == {"a", "b"}
    a = {r["column_name"]: r for r in info if r["partition"] == "a"}
    assert list(a) == ["id"]  # the partition column lives in the path
    assert a["id"]["ordinal_position"] == 0
    assert a["id"]["data_type"] == "bigint"
    assert isinstance(a["id"]["nullable"], bool)
    d = C.table_column_info(spark, ck, partitions=["b"], as_dict=True)
    assert d == {"b": {"id": "bigint"}}
    # footer statistics (Iceberg-manifest-style stats view): min/max and
    # null counts per (partition, file, column), read on executors
    stats = C.table_column_stats(spark, ck).collect()
    assert {r["partition"] for r in stats} == {"a", "b"}
    a_id = [r for r in stats if r["partition"] == "a" and r["column_name"] == "id"]
    assert sum(r["num_rows"] for r in a_id) == 10
    assert all(r["null_count"] == 0 for r in a_id)
    vals = [i for i in range(30) if ["a", "b", "c"][i % 3] == "a"]
    assert min(int(r["min_val"]) for r in a_id) == min(vals)
    assert max(int(r["max_val"]) for r in a_id) == max(vals)
    # storage rot: committed 'a' loses its files
    shutil.rmtree(ck._partition_dirs()["a"])
    assert C.pending(spark, ck, ["a", "b", "c", "d"]) == ["a", "c", "d"]
    # rot also drops 'a' from introspection (no footers to read)
    assert {r["partition"] for r in C.table_column_info(spark, ck).collect()} == {"b"}
    assert {r["partition"] for r in C.table_column_stats(spark, ck).collect()} == {"b"}


def test_format_fallback_plan(spark, tier):
    """Reference geofabrik.py:1823-1846 semantics: a region missing the
    requested format recurses into subregions; leaves that never publish
    it are reported, not silently dropped."""
    avail = spark.createDataFrame(
        [
            ("europe", "pbf"),            # whole-extent pbf available
            ("britain", "shp"),           # shp only at britain level
            ("france", "shp"),
            ("scotland", "csv"), ("wales", "csv"), ("rutland", "csv"),
            ("n-america", "csv"),
        ],
        "region string, format string",
    )
    # pbf available at the requested node itself -> plan is just it
    assert R.format_fallback_plan(tier, avail, ["europe"], "pbf") == (["europe"], [])
    # shp missing at europe -> children: britain has it, france has it
    assert R.format_fallback_plan(tier, avail, ["europe"], "shp") == (
        ["britain", "france"], []
    )
    # csv missing at europe AND britain -> britain's children have it,
    # but france is a LEAF without csv -> reported unavailable
    assert R.format_fallback_plan(tier, avail, ["europe"], "csv") == (
        ["rutland", "scotland", "wales"], ["france"]
    )
    # fuzzy name on the way in; world -> mixed fallback across branches
    plan, missing = R.format_fallback_plan(tier, avail, ["wrld"], "csv")
    assert plan == ["n-america", "rutland", "scotland", "wales"]
    assert missing == ["france"]


def _relations_pbf(path) -> str:
    """A crafted PBF with relations for all three relation layers: two
    routes (multilinestrings), two multipolygons and one turn
    restriction (other_relations)."""
    from tests.pbf_encode_util import PbfBuilder

    b = PbfBuilder()
    for i, (lat, lon) in enumerate(
        [(52.0, 0.0), (52.0, 0.01), (52.01, 0.01), (52.01, 0.0), (52.02, 0.0), (52.02, 0.01)]
    ):
        b.node(1 + i, lat, lon)
    b.way(10, [1, 2, 3, 4, 1], {})
    b.way(11, [4, 3, 6, 5, 4], {})
    b.way(12, [1, 2], {"highway": "residential"})
    b.way(13, [2, 3], {"highway": "residential"})
    b.relation(100, [("way", 12, ""), ("way", 13, "")], {"type": "route", "route": "bus"})
    b.relation(101, [("way", 13, "")], {"type": "route", "route": "bicycle"})
    b.relation(102, [("way", 10, "outer")], {"type": "multipolygon", "landuse": "grass"})
    b.relation(103, [("way", 11, "outer")], {"type": "multipolygon", "natural": "water"})
    b.relation(
        104,
        [("way", 12, "from"), ("node", 2, "via"), ("way", 13, "to")],
        {"type": "restriction", "restriction": "no_left_turn"},
    )
    path.write_bytes(b.build())
    return str(path)


def test_pbf_to_checkpoint_to_catalogue_end_to_end(spark, tmp_path):
    """The front-door workflow end to end on a crafted PBF: splittable
    PBF scan -> relation layers assembled distributed -> per-layer
    checkpointed commit (killed mid-run, resumed) -> catalogue answers
    what landed -> read-back equals the source, layer for layer."""
    import pytest as _pytest

    from pydriosm_spark.plans import catalogue as C
    from pydriosm_spark.plans.checkpoint import PartitionedCheckpoint
    from pydriosm_spark.sources import pbf

    path = _relations_pbf(tmp_path / "relations.osm.pbf")
    rel_df = pbf.relation_layers_distributed(spark, path)
    layers = rel_df.filter("layer != 'lines'").select("layer", "id", "geometry")
    want = {r["layer"]: r["n"] for r in layers.groupBy("layer").count()
            .withColumnRenamed("count", "n").collect()}
    assert set(want) == {"multilinestrings", "multipolygons", "other_relations"}

    base = str(tmp_path / "pbf_ckpt")
    ck = PartitionedCheckpoint(base, "layer")
    with _pytest.raises(RuntimeError, match="injected"):
        ck.run(layers, run_id="r1", fail_after=1)
    res = ck.run(layers, run_id="r2")
    rel_df.release_primitives()  # ADVICE r3: unpersist after the commit materialized
    assert len(res.skipped_partitions) == 1 and len(res.written_partitions) == 2

    cat = {r["partition"]: r for r in C.catalogue(spark, ck).collect()}
    assert {p: c["rows"] for p, c in cat.items()} == want
    assert all(c["committed"] and c["on_disk"] for c in cat.values())
    assert C.pending(spark, ck, list(want)) == []

    got = {
        r["layer"]: r["n"]
        for r in ck.read(spark).groupBy("layer").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert got == want
