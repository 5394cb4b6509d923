"""Queryable ingest catalogue — the engine's analogue of the reference's
download catalogue (/root/reference/pydriosm/downloader/geofabrik.py:758-831
builds a (subregion, url, .osm.pbf size, .shp.zip size, ...) table the
user queries before downloading).  Here the facts come from the commit
manifest + the actual storage listing, so the catalogue answers the
resume-planning questions a 10^12-row ingest actually has:

* what partitions exist, in what format, at what size on disk,
* which committed partitions lost their files (storage rot -> re-ingest),
* which on-disk directories were never committed (dead runs -> rewrite),
* what remains of a target partition list (the per-leaf ingest frontier).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pydriosm_spark.plans.checkpoint import PartitionedCheckpoint
from pydriosm_spark.session import local_frame

CATALOG_SCHEMA = (
    "partition string, format string, n_files int, bytes long, "
    "rows long, committed_at_run string, committed boolean, on_disk boolean"
)


def _dir_stats(path: str) -> tuple:
    """(n_data_files, total_bytes) under one partition directory."""
    n, b = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue  # _SUCCESS / hidden markers are not data
            n += 1
            b += os.path.getsize(os.path.join(root, f))
    return n, b


def catalogue(spark: SparkSession, ck: PartitionedCheckpoint) -> DataFrame:
    """One row per partition known to the manifest OR present on disk.
    ``committed AND NOT on_disk`` = storage rot; ``on_disk AND NOT
    committed`` = a dead run's leftovers (the next resume rewrites it).
    Format is taken from the data file extensions actually present."""
    done = ck.committed()
    dirs = ck._partition_dirs()
    rows = []
    for part in sorted(set(done) | set(dirs)):
        entry = done.get(part)
        path = dirs.get(part)
        n_files, n_bytes, fmt = 0, 0, None
        if path is not None:
            n_files, n_bytes = _dir_stats(path)
            exts = {
                os.path.splitext(f)[1].lstrip(".")
                for _r, _d, fs in os.walk(path)
                for f in fs
                if not f.startswith(("_", "."))
            }
            fmt = ",".join(sorted(exts)) or None
        rows.append(
            (
                part,
                fmt,
                n_files,
                n_bytes,
                entry["rows"] if entry else None,
                entry["committed_at_run"] if entry else None,
                entry is not None,
                path is not None and n_files > 0,
            )
        )
    return local_frame(spark, rows, CATALOG_SCHEMA)


COLUMN_INFO_SCHEMA = (
    "partition string, column_name string, ordinal_position int, "
    "data_type string, nullable boolean"
)


def table_column_info(
    spark: SparkSession,
    ck: PartitionedCheckpoint,
    partitions: list | None = None,
    as_dict: bool = False,
):
    """What columns/types does this landed layer have — the engine's
    analogue of the reference's information-schema introspection
    (/root/reference/pydriosm/ios/_ios.py:399 ``get_table_column_info``,
    which returns per-column rows for a landed layer table).  Facts come
    from the parquet footers of each committed on-disk partition (a
    footer-only read — no data scan), so schema drift BETWEEN partitions
    is visible: one row per (partition, column) with the column's
    ordinal position, Spark SQL type string, and nullability.

    ``as_dict=True`` returns ``{partition: {column: data_type}}`` (the
    reference's ``as_dict`` shape) instead of a DataFrame."""
    done = ck.committed()
    dirs = ck._partition_dirs()
    targets = (
        sorted(done) if partitions is None else [str(p) for p in partitions]
    )
    rows = []
    for part in targets:
        path = dirs.get(part)
        if part not in done or path is None:
            continue
        schema = spark.read.parquet(path).schema
        for pos, f in enumerate(schema.fields):
            rows.append((part, f.name, pos, f.dataType.simpleString(), f.nullable))
    if as_dict:
        out: dict = {}
        for part, col, _pos, dtype, _n in rows:
            out.setdefault(part, {})[col] = dtype
        return out
    return local_frame(spark, rows, COLUMN_INFO_SCHEMA)


COLUMN_STATS_SCHEMA = (
    "partition string, file string, column_name string, num_rows long, "
    "null_count long, min_val string, max_val string"
)


def table_column_stats(
    spark: SparkSession,
    ck: PartitionedCheckpoint,
    partitions: list | None = None,
) -> DataFrame:
    """Per-(partition, file, column) parquet STATISTICS — row counts,
    null counts, min/max — the Iceberg-manifest / information_schema
    stats view that lets a user reason about partition pruning before
    running a query.  The driver only LISTS the committed data files;
    the footer reads (pyarrow, metadata-only) run ON EXECUTORS via
    mapInPandas in at most ``defaultParallelism`` tasks, so a 10^5-file
    table introspects in parallel.  Min/max render as strings
    (cross-type column)."""
    import pandas as pd

    done = ck.committed()
    dirs = ck._partition_dirs()
    targets = sorted(done) if partitions is None else [str(p) for p in partitions]
    files = []
    for part in targets:
        path = dirs.get(part)
        if part not in done or path is None:
            continue
        for root, _d, fs in os.walk(path):
            files += [
                (part, os.path.join(root, f))
                for f in fs
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            ]
    if not files:
        return local_frame(spark, [], COLUMN_STATS_SCHEMA)

    src = local_frame(spark, files, "partition string, file string").repartition(
        min(len(files), spark.sparkContext.defaultParallelism)
    )

    def read_footers(batches) -> "pd.DataFrame":
        import pyarrow.parquet as pq

        for b in batches:
            rows = []
            for part, fpath in zip(b["partition"], b["file"]):
                md = pq.ParquetFile(fpath).metadata
                agg: dict = {}
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        col = g.column(ci)
                        name = col.path_in_schema
                        st = col.statistics
                        cur = agg.setdefault(name, [0, 0, None, None])
                        cur[0] += g.num_rows
                        if st is not None:
                            cur[1] += st.null_count or 0
                            if st.has_min_max:
                                cur[2] = st.min if cur[2] is None else min(cur[2], st.min)
                                cur[3] = st.max if cur[3] is None else max(cur[3], st.max)
                for name, (nr, nulls, mn, mx) in agg.items():
                    rows.append(
                        (
                            part,
                            fpath,
                            name,
                            nr,
                            nulls,
                            None if mn is None else str(mn),
                            None if mx is None else str(mx),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "partition", "file", "column_name", "num_rows",
                    "null_count", "min_val", "max_val",
                ],
            )

    return src.mapInPandas(read_footers, COLUMN_STATS_SCHEMA)


def pending(spark: SparkSession, ck: PartitionedCheckpoint, targets: list) -> list:
    """Resume frontier: which of ``targets`` still need a (re-)ingest —
    never committed, or committed but with missing/empty data on disk."""
    cat = {
        r["partition"]: r
        for r in catalogue(spark, ck).collect()
    }
    out = []
    for t in targets:
        r = cat.get(str(t))
        if r is None or not (r["committed"] and r["on_disk"]):
            out.append(t)
    return out
