"""pydriosm_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query/data-processing capabilities of the reference
(mikeqfu/pydriosm, a single-node OSM parse/load pipeline) as an idiomatic
Spark DataFrame engine, plus the spatial-join/tiling operator suite the
target mandates: hierarchical cell index (H3/S2-style quadtree cells),
compact cell covers, cell-prefix broadcast/hash joins, ray-casting
point-in-polygon refinement, cell-ring-expansion kNN, rasterize/vectorize,
salted repartitioning for hot-cell skew, and per-partition checkpoint /
lineage for idempotent resume.

Everything is built on the public PySpark DataFrame API; Python-side code
is vectorized (numpy / Arrow pandas UDFs) — no per-row Python in hot paths.

Sessions come from :func:`pydriosm_spark.session.get_spark`.  This file
imports nothing: the Python worker daemon (``_worker_daemon``) runs inside
the package, and every worker it forks inherits what it imports.
"""

__version__ = "0.1.0"
