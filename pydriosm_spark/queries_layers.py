"""Reference-parity layer queries: GeoJSON->WKT transforms, hstore tag
parsing, fclass filtering/grouping — each with a DuckDB oracle that
reconstructs the expected output from first principles (string assembly
from the canonical coordinate fragments)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pydriosm_spark.functions.transforms import geojson_wkt_udf, hstore_udf
from pydriosm_spark.session import local_frame
from pydriosm_spark.sources import layers, synth


# ---------------------------------------------------------------------------
# Spark queries
# ---------------------------------------------------------------------------

def q_layer_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every feature's geometry parsed from GeoJSON and written as WKT —
    the reference's transform_geometry path (transformer.py:272-340),
    vectorized.  Sorted by id like the reference (parser.py:1589-1591)."""
    lf = layers.layer_features(spark, sf_dir)
    return (
        lf.withColumn("geometry_wkt", geojson_wkt_udf("geojson"))
        .select("id", "layer", "geometry_wkt")
        .orderBy("id")
    )


def q_hstore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parsed other_tags exploded to rows — transform_other_tags
    (transformer.py:343-378) as a vectorized map-typed UDF."""
    lf = layers.layer_features(spark, sf_dir)
    return lf.select(
        "id", F.explode(hstore_udf("other_tags_raw")).alias("tag_key", "tag_value")
    )


def q_fclass_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-class filter + per-(layer, fclass) counts — the reference's
    fclass query filter (parser.py:1016-1020) and per-class groupby
    (parser.py:888) as one aggregation."""
    lf = layers.layer_features(spark, sf_dir)
    return (
        lf.filter(F.col("fclass").isin("rail", "tram", "ferry"))
        .groupBy("layer", "fclass")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def _xy(j: int) -> tuple[str, str]:
    return (
        synth.lon_str_sql(synth.u_sql("doc_id", str(j)), "duckdb"),
        synth.lat_str_sql(synth.v_sql("doc_id", str(j)), "duckdb"),
    )


def _layer_case() -> str:
    return (
        "(CASE doc_id % 5 "
        + " ".join(f"WHEN {k} THEN '{name}'" for k, name in enumerate(layers.LAYERS))
        + " END)"
    )


def _fclass_case() -> str:
    return (
        "(CASE doc_id % 7 "
        + " ".join(f"WHEN {k} THEN '{name}'" for k, name in enumerate(layers.FCLASS_VOCAB))
        + " END)"
    )


def oracle_layer_wkt() -> str:
    (x0, y0), (x1, y1), (x2, y2) = (_xy(j) for j in range(3))
    p0 = f"{x0} || ' ' || {y0}"
    p1 = f"{x1} || ' ' || {y1}"
    p2 = f"{x2} || ' ' || {y2}"
    point = f"'POINT (' || {p0} || ')'"
    line = f"'LINESTRING (' || {p0} || ', ' || {p1} || ')'"
    mls = f"'MULTILINESTRING ((' || {p0} || ', ' || {p1} || '), (' || {p1} || ', ' || {p2} || '))'"
    mpoly_norm = f"'MULTIPOLYGON (((' || {p0} || ', ' || {p1} || ', ' || {p2} || ', ' || {p0} || ')))'"
    mpoly_degen = f"'MULTIPOLYGON (((' || {p0} || ', ' || {p0} || ', ' || {p0} || ', ' || {p0} || ')))'"
    gc = f"'GEOMETRYCOLLECTION (POINT (' || {p0} || '), POINT (' || {p1} || '))'"
    return f"""
SELECT doc_id AS id,
       {_layer_case()} AS layer,
       (CASE doc_id % 5
          WHEN 0 THEN {point}
          WHEN 1 THEN {line}
          WHEN 2 THEN {mls}
          WHEN 3 THEN (CASE WHEN doc_id % 10 = 3 THEN {mpoly_degen} ELSE {mpoly_norm} END)
          ELSE {gc} END) AS geometry_wkt
FROM documents
ORDER BY id"""


def oracle_hstore() -> str:
    return """
SELECT doc_id AS id, 'lang' AS tag_key, lang AS tag_value FROM documents
UNION ALL
SELECT doc_id, 'source', source FROM documents
UNION ALL
SELECT doc_id, 'note', 'a b' FROM documents WHERE doc_id % 7 = 0"""


def oracle_fclass_counts() -> str:
    return f"""
SELECT {_layer_case()} AS layer, {_fclass_case()} AS fclass, COUNT(*) AS n
FROM documents
WHERE {_fclass_case()} IN ('rail', 'tram', 'ferry')
GROUP BY 1, 2"""


GEOM_TYPE_OF_LAYER = {
    "points": "Point",
    "lines": "LineString",
    "multilinestrings": "MultiLineString",
    "multipolygons": "MultiPolygon",
    "other_relations": "GeometryCollection",
}


def q_layer_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-region layer merge (U3): documents split into two synthetic
    regions, per-region layer frames unioned with provenance, counted per
    (region, layer, geom_type) — the reference's merge_layer_shps +
    per-geom-type grouping re-expressed (parser.py:1186-1365, 1097-1106)."""
    from pydriosm_spark.operators.merge import merge_layer_frames

    lf = layers.layer_features(spark, sf_dir)
    east = lf.filter(F.col("id") % 2 == 0)
    west = lf.filter(F.col("id") % 2 == 1)
    merged = merge_layer_frames([east, west], ["east", "west"])
    geom_case = "(CASE layer " + " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in GEOM_TYPE_OF_LAYER.items()
    ) + " END)"
    return (
        merged.withColumn("geom_type", F.expr(geom_case))
        .groupBy("region", "layer", "geom_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def oracle_layer_merge() -> str:
    geom_case = "(CASE doc_id % 5 " + " ".join(
        f"WHEN {k} THEN '{GEOM_TYPE_OF_LAYER[name]}'" for k, name in enumerate(layers.LAYERS)
    ) + " END)"
    return f"""
SELECT CASE WHEN doc_id % 2 = 0 THEN 'east' ELSE 'west' END AS region,
       {_layer_case()} AS layer, {geom_case} AS geom_type, COUNT(*) AS n
FROM documents
GROUP BY 1, 2, 3"""


def _tier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-level tier edges from the region/nation dimension tables:
    world -> 5 regions -> 25 nations (roots carry parent NULL)."""
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    root = local_frame(spark, [("world", None)], "region string, parent string")
    lvl1 = region.select(F.col("r_name").alias("region"), F.lit("world").alias("parent"))
    lvl2 = nation.join(region, nation.n_regionkey == region.r_regionkey).select(
        F.col("n_name").alias("region"), F.col("r_name").alias("parent")
    )
    return root.unionByName(lvl1).unionByName(lvl2)


def q_region_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The region-subregion tier dimension (region, parent, depth,
    is_leaf) computed by the pointer-doubling tier operator — the
    engine's form of the reference's _compile_region_subregion_tier
    (downloader/geofabrik.py:602-651)."""
    from pydriosm_spark.functions.regions import tier_from_edges

    return tier_from_edges(_tier_edges(spark, sf_dir))


def oracle_region_tier() -> str:
    return """
WITH RECURSIVE edges AS (
  SELECT 'world' AS region, NULL AS parent
  UNION ALL SELECT r_name, 'world' FROM region
  UNION ALL SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
),
d AS (
  SELECT region, parent, 0 AS depth FROM edges WHERE parent IS NULL
  UNION ALL
  SELECT e.region, e.parent, d.depth + 1 FROM edges e JOIN d ON e.parent = d.region
)
SELECT d.region, d.parent, CAST(d.depth AS INT) AS depth,
       d.region NOT IN (SELECT parent FROM edges WHERE parent IS NOT NULL) AS is_leaf
FROM d"""


def q_region_subregions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep leaf expansion of a fuzzy-resolved region name ('amerca' ->
    AMERICA -> its nations) — the reference's get_subregions(deep=True)
    front door (downloader/geofabrik.py:1316-1390)."""
    from pydriosm_spark.functions.regions import descendants, tier_from_edges

    tier = tier_from_edges(_tier_edges(spark, sf_dir))
    return descendants(tier, "amerca", leaves_only=True).select(
        "region", F.col("depth").cast("int").alias("depth")
    )


def oracle_region_subregions() -> str:
    return """
SELECT n_name AS region, CAST(2 AS INT) AS depth
FROM nation JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'AMERICA'"""


def registry() -> dict:
    return {
        "layer_geojson_wkt": (q_layer_wkt, oracle_layer_wkt()),
        "hstore_parse": (q_hstore, oracle_hstore()),
        "fclass_filter_counts": (q_fclass_counts, oracle_fclass_counts()),
        "layer_merge_regions": (q_layer_merge, oracle_layer_merge()),
        "region_tier": (q_region_tier, oracle_region_tier()),
        "region_subregions_deep": (q_region_subregions, oracle_region_subregions()),
    }
