"""SparkSession factory tuned for the spatial-join + tiling workload.

:func:`get_spark` always builds a ``local[N]`` session.  Its settings are
the ones a multi-executor cluster would use too (AQE, adaptive skew join,
Arrow for pandas UDFs, shuffle partitions sized from the cores), but
cluster jobs (``examples/*_job.py`` under spark-submit) build their own
session with ``SparkSession.builder`` and PySpark's stock worker daemon.

A ``get_spark`` session forks its Python workers from
``pydriosm_spark._worker_daemon`` whenever the package loads from a
directory: the stock daemon's workers re-read every zip on their path at
the start of each task, this one's only when a zip changed.

Tables the driver builds itself (the broadcast join's cover, salt and
offset tables, catalogue listings) enter Spark through
:func:`local_frame`, never ``createDataFrame(<python list>)``: a Python
list plans ``Scan ExistingRDD``, which re-serializes the rows through a
Python worker task per core on every execution, while an Arrow table
plans a JVM-side ``LocalTableScan`` with no Python stage.

Tungsten pages (``spark.buffer.pageSize``) are sized from the driver heap,
a quarter of the G1 region the JVM picks for it.  Spark's own default,
nextPow2(execution pool / cores / 16) clamped to 1-64 MB, is 32-64 MB on
an 8 GB heap whose regions are 4 MB, so the first page of every hash
aggregate, sort and hash build in every task would be a humongous object: a
run of whole regions, zeroed on allocation, each able to start a
concurrent mark cycle.  A quarter-region page stays under the humongous
threshold (half a region), and ``TaskMemoryManager``'s ceiling of 8,192
pages per task is 8192 x page, no less than the heap up to 64 GB.
Sessions the ``examples/*_job.py`` jobs build with ``SparkSession.builder``
keep Spark's default page size; submit those with
``--conf spark.buffer.pageSize=<page_size(executor memory)>`` to size
their executors' pages the same way.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType


def get_spark(
    parallelism: int | None = None,
    app_name: str = "pydriosm_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a ``local[parallelism]`` SparkSession.

    The master is always ``local[N]``, whatever ``parallelism`` is; a
    cluster job builds its session with ``SparkSession.builder`` instead.
    Python workers fork from :mod:`pydriosm_spark._worker_daemon`, whose
    zip importers skip re-reading unchanged archives at each task start,
    when the package loads from a directory; the daemon imports it from
    there, so that directory goes first on the workers' ``PYTHONPATH``.
    Loaded from a zip (``--py-files``) the session keeps PySpark's stock
    daemon, which the zip cannot replace before the daemon starts.

    ``spark.buffer.pageSize`` is :func:`page_size` of the driver heap
    (``$SPARK_DRIVER_MEM``, default ``8g``, or ``spark.driver.memory`` in
    ``extra_conf``): 1 MiB on the default heap, where Spark's default
    would be a 32-64 MB page that G1 allocates as a zeroed humongous
    object for every aggregate, sort and hash build.  A
    ``spark.buffer.pageSize`` in ``extra_conf`` wins.

    Parameters
    ----------
    parallelism:
        Local-mode core count (``local[N]``).  ``None`` → value of
        ``$SPARK_GRAFT_CPUS`` or 32.
    shuffle_partitions:
        Defaults to ``2 * parallelism`` — small enough to avoid tiny-task
        overhead at test scale, and AQE coalesces further at runtime.  At
        100 TB this would be sized ~2-3x total executor cores and AQE
        handles the rest.
    """
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * parallelism)

    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{parallelism}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(parallelism))
        # AQE: runtime coalescing + skew-join backstop (we also salt
        # explicitly; AQE is the safety net, not the plan).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for all pandas UDF exchange; large batches amortize
        # serialization of the vectorized geometry kernels.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Broadcast threshold: geometry/dimension sides are small relative
        # to the webpages fact side; keep the default 10MB but make it
        # explicit that we rely on it.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # Timestamps: keep parquet round-trip stable across engines.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    conf = dict(extra_conf or {})
    heap = conf.setdefault("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    conf.setdefault("spark.buffer.pageSize", str(page_size(heap)))
    conf.update(_worker_daemon_conf(conf.get("spark.executorEnv.PYTHONPATH")))
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # the SQL surface (qc_* / osm_* SQL-defined functions) and the two
    # DataSource formats register per session — both are cheap catalog
    # entries, so every get_spark() session speaks the full vocabulary.
    # Registrations are INDEPENDENT try blocks (ADVICE r4): a regression
    # in one surface must not silently disable the others, and a genuine
    # failure is logged, never swallowed into an invisible no-op.
    def _register(what, fn):
        try:
            fn()
        except Exception as e:  # pragma: no cover - version-dependent
            import warnings

            warnings.warn(
                f"pydriosm_spark: {what} registration skipped: {type(e).__name__}: {e}",
                RuntimeWarning,
                stacklevel=2,
            )

    def _sqlfns():
        from pydriosm_spark.sqlfns import register_sql_functions

        register_sql_functions(spark)

    def _pbf_ds():
        from pydriosm_spark.sources.pbf_datasource import OsmPbfDataSource

        spark.dataSource.register(OsmPbfDataSource)

    def _shp_ds():
        from pydriosm_spark.sources.shp_datasource import OsmShpDataSource

        spark.dataSource.register(OsmShpDataSource)

    _register("SQL functions", _sqlfns)
    _register("osmpbf DataSource", _pbf_ds)
    _register("osmshp DataSource", _shp_ds)
    return spark


_UNIT_SHIFT = {"b": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}


def page_size(heap: str) -> int:
    """Tungsten page bytes for a JVM heap of ``heap`` (a
    ``spark.driver.memory`` string: ``"8g"``, ``"512m"``, ``"4096"`` in
    MiB): a quarter of the G1 region the JVM chooses for that heap, which
    is heap / 2048 clamped to 1-32 MiB and rounded up to a power of two."""
    m = re.fullmatch(r"(\d+)([bkmgtp]?)b?", heap.strip().lower())
    if m is None:
        raise ValueError(f"not a JVM memory size: {heap!r}")
    heap_bytes = int(m.group(1)) << _UNIT_SHIFT[m.group(2) or "m"]
    region = min(32 << 20, max(1 << 20, heap_bytes // 2048))
    return (1 << (region - 1).bit_length()) // 4


def _worker_daemon_conf(pythonpath: str | None) -> dict:
    """The conf that makes Python workers fork from ``_worker_daemon``:
    the package's parent directory goes in front of ``pythonpath`` on the
    workers' ``PYTHONPATH``, so the daemon can import the module at start.
    Empty when the package loads from a zip."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isfile(os.path.join(root, "pydriosm_spark", "_worker_daemon.py")):
        return {}
    return {
        "spark.python.daemon.module": "pydriosm_spark._worker_daemon",
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(p for p in (root, pythonpath) if p),
    }


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """``rows`` (tuples in the order of the DDL ``schema``, or a pyarrow
    Table whose columns cast to it) as a DataFrame planned as a
    ``LocalTableScan``: the rows become one Arrow table, handed to the
    JVM once, so no execution runs a Python task to re-read them.  Column
    types and nullability are exactly those ``createDataFrame(rows,
    schema)`` gives."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = DataType.fromDDL(schema)
    if not isinstance(rows, pa.Table):
        arrow = to_arrow_schema(struct)
        cols = list(zip(*rows)) or [()] * len(arrow)
        rows = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
        )
    return spark.createDataFrame(rows, struct)
