"""Tile assignment + rasterize / vectorize operators.

* ``tile_columns`` — point -> quadcell tile id at a resolution, plus the
  compact-cover parent: pure native column arithmetic (cells/quadcell.py
  expression builders), JVM-side, no UDF, no shuffle.  ``assign_tiles``
  is the same projection followed by one REBALANCE exchange on the tile
  key, so the rows leave tile-clustered for a tile-partitioned sink (see
  its docstring).

* ``rasterize`` — aggregate points onto an integer analysis raster: cells
  of ``cell_size`` (1e-5-degree units) over the fixture bbox; one
  partial+final hash aggregation (map-side combine for free).

* ``vectorize`` — threshold the raster and emit one WKT polygon per
  surviving cell.  The WKT text is built from *integer* cell corners via
  the canonical decimal-string formatting (sources/synth.py), so the
  strings are reproducible bit-for-bit by the SQL oracle — the reference's
  shapefile writer fixed 5-decimal precision is the ancestor of this rule
  (/root/reference/pydriosm/reader/parser.py:659-814, decimal_precision=5).

At 100 TB: ``assign_tiles``' rebalance moves each narrow point row once,
and AQE splits a hot tile's partition into advisory-size pieces (64 MB by
default, at map-output granularity), so skewed tiles do not land on one
task.  Rasterize is a single shuffle on the (bounded-cardinality)
cell key; hot cells are a skew concern only for very coarse rasters —
partial aggregation bounds the shuffle volume by |cells|, not |points|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydriosm_spark.cells import quadcell
from pydriosm_spark.sources import synth


def tile_columns(points: DataFrame, res: int, parent_res: int | None = None,
                 lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Add ``tile`` (the cell at ``res``) and, with ``parent_res``,
    ``tile_parent``: a projection, the rows stay where they are."""
    out = points.withColumn("tile", F.expr(quadcell.cell_expr(lon, lat, res)))
    if parent_res is not None:
        out = out.withColumn(
            "tile_parent", F.expr(quadcell.parent_expr("tile", parent_res, res))
        )
    return out


def assign_tiles(points: DataFrame, res: int, parent_res: int | None = None,
                 lon: str = "lon", lat: str = "lat") -> DataFrame:
    """:func:`tile_columns`, with the rows rebalanced by ``tile_parent``,
    or by ``tile`` without a parent.

    The layout is for a tile-partitioned sink.  In scan order every task
    holds every tile, so a ``partitionBy(tile_parent)`` write creates up
    to tasks x tiles files, each with a fixed cost (on a ``file:`` path a
    ``.crc`` twin and a forked ``chmod``); clustered, it writes about one
    file per tile.  The zone join (broadcast cover), PIP refine and
    broadcast kNN after it are narrow, so the layout reaches the sink
    (tests/test_plans.py locks that chain).  A caller whose sink is not
    partitioned by tile pays the exchange for nothing and takes
    :func:`tile_columns` instead, as the streaming pipeline does.

    REBALANCE, unlike ``repartition``, lets AQE pick the partition count
    from the shuffle size and split a hot tile into advisory-size
    partitions instead of sending it to one task."""
    key = "tile" if parent_res is None else "tile_parent"
    return tile_columns(points, res, parent_res, lon, lat).hint("rebalance", key)


def cell_coord(col: str, cell_size: int):
    """Floor-division cell coordinate — sign-safe (truncation toward zero
    would merge cells -1 and 0 for negative coords and diverge from the
    oracle's ``//``).  Exact for |coord| < 2^52 (double division of two
    exactly-representable ints can't cross an integer boundary there)."""
    return F.floor(F.col(col) / F.lit(cell_size)).cast("long")


def rasterize(points: DataFrame, cell_size: int, u: str = "u", v: str = "v",
              value: str | None = None) -> DataFrame:
    """Integer raster over (u, v): returns (rx, ry, n[, sum_value])."""
    g = points.groupBy(
        cell_coord(u, cell_size).alias("rx"),
        cell_coord(v, cell_size).alias("ry"),
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    if value is not None:
        aggs.append(F.sum(value).alias("sum_value"))
    return g.agg(*aggs)


def _e5_str_expr(e5: str, dialect: str) -> str:
    """Integer 1e-5-unit value -> canonical decimal string (handles the
    negative-longitude case); same text renders in Spark and DuckDB."""
    idiv = synth._idiv
    st = synth._str_type(dialect)
    pos = (
        f"(CAST({idiv(e5, 100000, dialect)} AS {st}) || '.' || "
        f"lpad(CAST(({e5}) % 100000 AS {st}), 5, '0'))"
    )
    neg_abs = f"(0 - ({e5}))"
    neg = (
        f"('-' || CAST({idiv(neg_abs, 100000, dialect)} AS {st}) || '.' || "
        f"lpad(CAST({neg_abs} % 100000 AS {st}), 5, '0'))"
    )
    return f"(CASE WHEN ({e5}) < 0 THEN {neg} ELSE {pos} END)"


def cell_wkt_sql(rx: str, ry: str, cell_size: int, dialect: str) -> str:
    """SQL expression producing the cell's rectangle WKT from integer
    raster coords — shared by the Spark plan and the DuckDB oracle."""
    x0 = f"({synth.LON0_E5} + ({rx}) * {cell_size})"
    y0 = f"({synth.LAT0_E5} + ({ry}) * {cell_size})"
    x1 = f"({x0} + {cell_size})"
    y1 = f"({y0} + {cell_size})"
    sx0, sy0 = _e5_str_expr(x0, dialect), _e5_str_expr(y0, dialect)
    sx1, sy1 = _e5_str_expr(x1, dialect), _e5_str_expr(y1, dialect)
    return (
        f"('POLYGON ((' || {sx0} || ' ' || {sy0} || ', ' || {sx1} || ' ' || {sy0} || ', ' "
        f"|| {sx1} || ' ' || {sy1} || ', ' || {sx0} || ' ' || {sy1} || ', ' "
        f"|| {sx0} || ' ' || {sy0} || '))')"
    )


def raster_focal_sum(raster: DataFrame, radius: int = 1) -> DataFrame:
    """Focal (moving-window) sum over the raster: for each cell, the sum
    of ``n`` over its (2r+1)^2 Chebyshev neighborhood.  Implemented as a
    scatter self-join: each cell contributes to its neighbors via an
    exploded offset array + hash aggregation — one shuffle bounded by
    |cells| x (2r+1)^2, independent of point count (the raster is already
    the reduced form).  Classic raster algebra on the cell index."""
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in range(-radius, radius + 1)
            for dy in range(-radius, radius + 1)
        ]
    )
    scattered = raster.withColumn("__o", F.explode(offs)).select(
        (F.col("rx") + F.col("__o.dx")).alias("rx"),
        (F.col("ry") + F.col("__o.dy")).alias("ry"),
        F.col("n"),
    )
    focal = scattered.groupBy("rx", "ry").agg(F.sum("n").alias("focal_sum"))
    # restrict to populated cells (inner join keeps the raster's domain)
    return raster.join(focal, ["rx", "ry"], "inner").select("rx", "ry", "n", "focal_sum")


def vectorize_runs(raster: DataFrame, cell_size: int, min_count: int = 1) -> DataFrame:
    """True vectorization: merge horizontally adjacent above-threshold
    cells into maximal row runs and emit one rectangle polygon per run —
    the gaps-and-islands pattern (``rx - row_number()`` run key) over the
    raster.  Returns (ry, rx_min, rx_max, n_cells, sum_n, geometry_wkt).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("ry").orderBy("rx")
    runs = (
        raster.filter(F.col("n") >= min_count)
        .withColumn("__grp", F.col("rx") - F.row_number().over(w))
        .groupBy("ry", "__grp")
        .agg(
            F.min("rx").alias("rx_min"),
            F.max("rx").alias("rx_max"),
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n").alias("sum_n"),
        )
        .drop("__grp")
    )
    # widen the unit-cell template: x1 spans (rx_max - rx_min + 1) cells
    x0 = f"({synth.LON0_E5} + (rx_min) * {cell_size})"
    y0 = f"({synth.LAT0_E5} + (ry) * {cell_size})"
    x1 = f"({synth.LON0_E5} + (rx_max + 1) * {cell_size})"
    y1 = f"({y0} + {cell_size})"
    sx0, sy0 = _e5_str_expr(x0, "spark"), _e5_str_expr(y0, "spark")
    sx1, sy1 = _e5_str_expr(x1, "spark"), _e5_str_expr(y1, "spark")
    rect = (
        f"('POLYGON ((' || {sx0} || ' ' || {sy0} || ', ' || {sx1} || ' ' || {sy0} || ', ' "
        f"|| {sx1} || ' ' || {sy1} || ', ' || {sx0} || ' ' || {sy1} || ', ' "
        f"|| {sx0} || ' ' || {sy0} || '))')"
    )
    return runs.withColumn("geometry_wkt", F.expr(rect))


def vectorize(raster: DataFrame, cell_size: int, min_count: int = 1) -> DataFrame:
    """Raster cells with n >= min_count -> (rx, ry, n, geometry_wkt)."""
    return raster.filter(F.col("n") >= min_count).withColumn(
        "geometry_wkt", F.expr(cell_wkt_sql("rx", "ry", cell_size, "spark"))
    )
