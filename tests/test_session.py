"""Tungsten pages of ``get_spark`` sessions are sized from the heap: the
page stays under G1's humongous threshold on the live JVM, and a small
aggregate's execution memory is a few pages, not one humongous page."""

import shutil
import subprocess

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from pydriosm_spark.session import page_size


def _vm_option(spark, name: str) -> str:
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return bean.getVMOption(name).getValue()


def _g1_region(spark) -> int:
    if _vm_option(spark, "UseG1GC") != "true":
        pytest.skip("the session's JVM does not run G1")
    return int(_vm_option(spark, "G1HeapRegionSize"))


def _page_bytes(spark) -> int:
    """The page size the session's memory manager actually uses."""
    return spark.sparkContext._jsc.sc().env().memoryManager().pageSizeBytes()


def test_page_is_below_humongous_threshold(spark):
    """A page is one long[] of page + 16 header bytes; G1 allocates it as
    a humongous object when that reaches half a region."""
    region = _g1_region(spark)
    page = _page_bytes(spark)
    assert page == int(spark.conf.get("spark.buffer.pageSize"))
    assert page + 16 < region // 2, (page, region)


def test_small_aggregate_peaks_at_a_few_pages(spark):
    """A 1,000-row keyed count in one task peaks at its first page plus
    the hash map's pointer array, under one G1 region (four pages); a
    humongous first page alone would be at least half a region."""
    region = _g1_region(spark)
    sc = spark.sparkContext
    gid = "test_session-small-aggregate"
    sc.setJobGroup(gid, gid)
    try:
        spark.range(0, 1000, 1, 1).groupBy(F.col("id") % 10).count().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    peaks = []
    for job in tracker.getJobIdsForGroup(gid):
        for sid in tracker.getJobInfo(job).stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage never got an attempt
                continue
            peaks.append(st.peakExecutionMemory())
    assert peaks and max(peaks) > 0
    assert max(peaks) < region, (peaks, region)


@pytest.mark.parametrize("heap", ["512m", "3g", "8g", "8192", "24g", "48g", "128g"])
def test_page_size_follows_the_jvm_region_rule(heap):
    """page_size(heap) is a quarter of the G1HeapRegionSize that a JVM
    started with -Xmx<heap> chooses (a bare number is MiB, as in
    spark.driver.memory)."""
    java = shutil.which("java")
    if java is None:
        pytest.skip("no java on PATH")
    xmx = heap + "m" if heap.isdigit() else heap
    out = subprocess.run(
        [java, "-XX:+UseG1GC", f"-Xmx{xmx}", "-XX:+PrintFlagsFinal", "-version"],
        capture_output=True, text=True, check=True,
    ).stdout
    region = next(int(line.split()[3]) for line in out.splitlines() if " G1HeapRegionSize " in line)
    assert page_size(heap) == region // 4
