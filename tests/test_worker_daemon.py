"""What each Python task costs before it reads data.  The worker daemon
of ``get_spark`` sessions (``pydriosm_spark._worker_daemon``): a task's
``importlib.invalidate_caches()`` no longer re-reads unchanged zips, and
still re-reads a changed one.  Driver-listed files run in at most
``defaultParallelism`` tasks, not one task each."""

import os
import shutil
import subprocess
import sys

import pandas as pd


def _on_worker(spark, fn, schema, n_tasks=4):
    """``fn()``'s dict (the columns of ``schema``), one row per task of an
    ``n_tasks``-partition ``mapInPandas`` stage."""

    def run(batches):
        for _ in batches:
            pass
        yield pd.DataFrame([fn()])

    df = spark.range(n_tasks).repartition(n_tasks)
    return [r.asDict() for r in df.mapInPandas(run, schema).collect()]


def test_second_invalidate_caches_in_a_task_is_cheap(spark):
    """PySpark's task setup has called ``invalidate_caches()`` once; a
    second call, with every archive read since, costs no zip read (the
    stock daemon's worker pays ~0.2 s for it, re-reading the spark-core
    jar and the pyspark and py4j zips)."""

    def timed():
        import importlib
        import time
        import zipimport

        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        t0 = time.thread_time()
        importlib.invalidate_caches()
        return {"ms": (time.thread_time() - t0) * 1e3, "zips": zips,
                "patched": zipimport.zipimporter.invalidate_caches.__name__ == "_invalidate_caches"}

    rows = _on_worker(spark, timed, "ms double, zips long, patched boolean")
    assert all(r["patched"] for r in rows), "workers not forked from pydriosm_spark._worker_daemon"
    assert all(r["zips"] > 0 for r in rows)
    assert max(r["ms"] for r in rows) < 10, rows


def test_changed_archive_is_read_again(spark, tmp_path):
    """A zip on ``sys.path`` rewritten in place with a new size: the
    importer sees the module added to it; a zip that cannot be stat'ed is
    read again too (and then holds nothing)."""
    archive = str(tmp_path / "daemon_probe.zip")

    def probe():
        import importlib
        import importlib.util
        import os
        import zipfile

        def write(*mods):
            with zipfile.ZipFile(archive, "w") as z:
                for m in mods:
                    z.writestr(f"{m}.py", f"NAME = {m!r}\n")

        write("dprobe_a")
        sys.path.insert(0, archive)
        try:
            importlib.invalidate_caches()
            seen_a = importlib.import_module("dprobe_a").NAME == "dprobe_a"
            importlib.invalidate_caches()  # unchanged: nothing to read
            write("dprobe_a", "dprobe_b")
            importlib.invalidate_caches()
            seen_b = importlib.import_module("dprobe_b").NAME == "dprobe_b"
            os.remove(archive)
            importlib.invalidate_caches()
            sys.modules.pop("dprobe_a")
            emptied = importlib.util.find_spec("dprobe_a") is None
        finally:
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            for m in ("dprobe_a", "dprobe_b"):
                sys.modules.pop(m, None)
        return {"seen_a": seen_a, "seen_b": seen_b, "emptied": emptied}

    got = _on_worker(spark, probe, "seen_a boolean, seen_b boolean, emptied boolean", n_tasks=1)
    assert got == [{"seen_a": True, "seen_b": True, "emptied": True}]


def test_zipped_package_keeps_the_stock_daemon(tmp_path):
    """Loaded from a ``--py-files`` zip, the daemon could not import the
    module at start, so ``get_spark`` sets no daemon conf."""
    import package

    out = package.build(str(tmp_path / "pydriosm_spark.zip"))
    prog = ("import sys; sys.path.insert(0, sys.argv[1]); "
            "from pydriosm_spark.session import _worker_daemon_conf; "
            "print(_worker_daemon_conf(None))")
    r = subprocess.run([sys.executable, "-c", prog, out], capture_output=True, text=True,
                       check=True, cwd=str(tmp_path))
    assert r.stdout.strip() == "{}"


def test_file_listings_run_in_at_most_default_parallelism_tasks(spark, pbf_lake, tmp_path):
    """Ten listed files give ``pbf_validate`` and ``table_column_stats`` at
    most ``defaultParallelism`` tasks, with a row per file as before."""
    from pyspark.sql import functions as F

    from pydriosm_spark.plans import catalogue
    from pydriosm_spark.plans.checkpoint import PartitionedCheckpoint
    from pydriosm_spark.sources import pbf

    cores = spark.sparkContext.defaultParallelism
    assert cores < 10
    lake = tmp_path / "lake"
    lake.mkdir()
    for i in range(10):
        shutil.copy(os.path.join(pbf_lake, "ab"[i % 2] + ".osm.pbf"), lake / f"f{i}.osm.pbf")
    got = pbf.pbf_validate(spark, str(lake))
    assert got.rdd.getNumPartitions() <= cores
    want = {(p, *pbf.validate_pbf_file(p)) for p in pbf.list_files(str(lake), ".pbf")}
    assert {tuple(r) for r in got.collect()} == want and len(want) == 10

    ck = PartitionedCheckpoint(str(tmp_path / "ck"), "part")
    ck.run(spark.range(100).withColumn("part", F.col("id") % 10), run_id="r1")
    stats = catalogue.table_column_stats(spark, ck)
    assert stats.rdd.getNumPartitions() <= cores
    rows = stats.collect()
    assert len({r["file"] for r in rows}) >= 10
    assert sum(r["num_rows"] for r in rows) == 100
    assert {r["partition"] for r in rows} == {str(i) for i in range(10)}
