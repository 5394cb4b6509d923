"""The ship path: the packaged engine runs under real spark-submit with
--py-files (north rule's deployment contract)."""

import shutil
import subprocess
import sys

import pytest


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_job(tmp_path):
    sys.path.insert(0, "/root/repo")
    import package

    zip_path = package.build(str(tmp_path / "pydriosm_spark.zip"))
    out = str(tmp_path / "join_out")
    r = subprocess.run(
        [
            "spark-submit",
            "--master",
            "local[4]",
            "--py-files",
            zip_path,
            "/root/repo/examples/join_job.py",
            "/root/testdata/sf0.001",
            out,
        ],
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("JOIN_JOB_RESULT")]
    assert line and "rows=322" in line[0], (line, r.stdout[-500:])


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="spark-submit not on PATH")
def test_spark_submit_dedup_job(tmp_path):
    """The training-data dedup pipeline ships the same way."""
    sys.path.insert(0, "/root/repo")
    import package

    zip_path = package.build(str(tmp_path / "pydriosm_spark.zip"))
    out = str(tmp_path / "dedup_out")
    r = subprocess.run(
        [
            "spark-submit",
            "--master",
            "local[4]",
            "--py-files",
            zip_path,
            "/root/repo/examples/dedup_job.py",
            "/root/testdata/sf0.001",
            out,
        ],
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("DEDUP_JOB_RESULT")]
    assert line and "docs=500" in line[0], (line, r.stdout[-500:])
    # dedup must actually drop something on this corpus
    dropped = int(line[0].split("dropped=")[1])
    assert dropped > 0, line

@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="spark-submit not on PATH")
@pytest.mark.skipif(
    not __import__("os").path.exists(
        "/root/reference/tests/data/rutland/rutland-latest.osm.pbf"
    ),
    reason="reference fixture absent",
)
def test_spark_submit_ingest_job(tmp_path):
    """The continuous-ingest example ships the same way: validate ->
    quarantine the corrupt extract -> DataSource-decode only the good
    one -> partitioned commit."""
    import json
    import os

    sys.path.insert(0, "/root/repo")
    import package

    zip_path = package.build(str(tmp_path / "pydriosm_spark.zip"))
    landing = tmp_path / "landing"
    landing.mkdir()
    pbf = "/root/reference/tests/data/rutland/rutland-latest.osm.pbf"
    shutil.copy(pbf, landing / "good.osm.pbf")
    (landing / "bad.osm.pbf").write_bytes(open(pbf, "rb").read()[:50])
    out = str(tmp_path / "ingest_out")
    r = subprocess.run(
        [
            "spark-submit", "--master", "local[4]", "--py-files", zip_path,
            "/root/repo/examples/ingest_job.py", str(landing), out,
        ],
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    line = [ln for ln in r.stdout.splitlines() if ln.startswith('{"files"')]
    assert line, r.stdout[-500:]
    res = json.loads(line[0])
    assert res["files"] == 1 and res["quarantined"] == 1 and res["rows"] > 5000
    assert os.path.exists(os.path.join(out, "_quarantine"))


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="spark-submit not on PATH")
def test_spark_submit_media_job(tmp_path):
    """The multimodal pipeline ships the same way: validate ->
    quarantine split -> per-kind features through the auto codec seam."""
    sys.path.insert(0, "/root/repo")
    import package

    zip_path = package.build(str(tmp_path / "pydriosm_spark.zip"))
    out = str(tmp_path / "media_out")
    r = subprocess.run(
        [
            "spark-submit",
            "--master",
            "local[4]",
            "--py-files",
            zip_path,
            "/root/repo/examples/media_job.py",
            "/root/testdata/sf0.001",
            out,
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("MEDIA_JOB_RESULT")]
    assert line, r.stdout[-500:]
    # sf0.001: 500 docs cycle image/audio/video; every payload is valid
    assert "images=167" in line[0] and "quarantined=0" in line[0], line


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="spark-submit not on PATH")
def test_spark_submit_ann_job(tmp_path):
    """The ANN retrieval job ships the same way; its default method, lsh,
    runs end-to-end under spark-submit with the embedding width read
    from the vectors."""
    sys.path.insert(0, "/root/repo")
    import package

    zip_path = package.build(str(tmp_path / "pydriosm_spark.zip"))
    out = str(tmp_path / "ann_out")
    r = subprocess.run(
        [
            "spark-submit",
            "--master",
            "local[4]",
            "--py-files",
            zip_path,
            "/root/repo/examples/ann_job.py",
            "/root/testdata/sf0.001",
            out,
            "lsh",
        ],
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("ANN_JOB_RESULT")]
    assert line and "method=lsh" in line[0], (line, r.stdout[-500:])
    # every vector is a query; each gets up to k=5 neighbors
    n_q = int(line[0].split("queries=")[1].split()[0])
    assert n_q > 0, line
