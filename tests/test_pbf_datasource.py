"""spark.read.format("osmpbf") — the registered Python DataSource must
equal the single-machine assemblers byte-for-byte on the generated test
lake (VERDICT r4 item 4), with the blob index built on executors and
multi-file inputs handled without any driver-side per-file loop; the
stream, the distributed assembler and pbf_validate share its listing
and its decoder."""

import os

import pytest

from tests.pbf_lake import keyed, reference


@pytest.fixture(scope="module")
def registered(spark):
    from pydriosm_spark.sources.pbf_datasource import OsmPbfDataSource

    spark.dataSource.register(OsmPbfDataSource)
    return spark


def test_datasource_points_byte_identical_to_assembler(registered, pbf_lake):
    spark = registered
    path = os.path.join(pbf_lake, "a.osm.pbf")
    via_fmt = spark.read.format("osmpbf").option("layer", "points").option(
        "n_tasks", "8"
    ).load(path)
    got = keyed(via_fmt.collect(), "points")
    assert got == reference(pbf_lake, "points", ["a.osm.pbf"])
    # the format string really planned 8 stripes (one read task each)
    assert via_fmt.rdd.getNumPartitions() == 8


def test_datasource_lines_layer_matches_assembler(registered, pbf_lake):
    spark = registered
    via_fmt = spark.read.format("osmpbf").option("layer", "lines").load(pbf_lake)
    got = keyed(via_fmt.collect(), "lines")
    assert got == reference(pbf_lake, "lines")


def test_multi_file_index_and_datasource_read(registered, pbf_lake):
    """A directory of several PBFs: every listed file's blob index
    tiles it, and the DataSource reads the union with src_file
    distinguishing the files."""
    spark = registered
    from pydriosm_spark.sources import pbf

    files = pbf.list_files(pbf_lake, ".pbf")
    assert [os.path.basename(f) for f in files] == ["a.osm.pbf", "b.osm.pbf"]
    for f in files:
        assert sum(ln for _s, ln, _bt in pbf.index_blobs(f)) == os.path.getsize(f)

    df = spark.read.format("osmpbf").option("layer", "points").option(
        "n_tasks", "4"
    ).load(pbf_lake)
    from pyspark.sql import functions as F

    counts = {
        os.path.basename(r["src_file"]): r["n"]
        for r in df.groupBy("src_file").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    want = {
        f: len(reference(pbf_lake, "points", [f])) for f in ("a.osm.pbf", "b.osm.pbf")
    }
    assert counts == want


def test_datasource_primitives_equal_whole_file_parse(registered, pbf_lake):
    """The splittable primitives scan (stripes index their file on the
    executor) equals a whole-file parse, row for row, on every file."""
    spark = registered
    from pydriosm_spark.sources import pbf

    prims = spark.read.format("osmpbf").option("layer", "primitives").option(
        "n_tasks", "4"
    ).load(pbf_lake)
    got = {}
    for r in prims.collect():
        got[(os.path.basename(r["src_file"]), r["kind"], r["id"])] = (
            r["lat"], r["lon"], r["refs"], r["mtypes"], r["mids"], r["roles"],
            dict(r["tags"]),
        )
    want = {}
    for f in ("a.osm.pbf", "b.osm.pbf"):
        with open(os.path.join(pbf_lake, f), "rb") as fh:
            n, w, rels = pbf.parse_pbf(fh.read())
        for nid, lat, lon, tags in n:
            want[(f, "node", nid)] = (lat, lon, None, None, None, None, tags)
        for wid, refs, tags in w:
            want[(f, "way", wid)] = (None, None, refs, None, None, None, tags)
        for rid, members, tags in rels:
            want[(f, "relation", rid)] = (
                None, None, None, [m[0] for m in members], [m[1] for m in members],
                [m[2] for m in members], tags,
            )
    assert got == want


def test_datasource_rejects_unknown_layer(registered):
    with pytest.raises(Exception, match="unknown layer"):
        registered.read.format("osmpbf").option("layer", "nope").load("/tmp").schema


def test_streaming_pbf_ingest_exactly_once(spark, pbf_lake, tmp_path):
    """Continuous PBF ingest (the download-loop replacement): a file
    lands -> availableNow drain decodes it; a second file lands -> the
    SAME checkpoint drains only the new one; union equals the batch
    read of both, exactly once."""
    import shutil

    from pyspark.sql import functions as F

    from pydriosm_spark.sources import pbf

    src = tmp_path / "landing"
    src.mkdir()
    sink = str(tmp_path / "points_out")
    ckpt = str(tmp_path / "ckpt")
    shutil.copy(os.path.join(pbf_lake, "a.osm.pbf"), src / "a.osm.pbf")

    def drain():
        q = (
            pbf.read_pbf_layer_stream(spark, str(src), "points")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    drain()
    n_a = len(reference(pbf_lake, "points", ["a.osm.pbf"]))
    n_b = len(reference(pbf_lake, "points", ["b.osm.pbf"]))
    assert spark.read.parquet(sink).count() == n_a

    shutil.copy(os.path.join(pbf_lake, "b.osm.pbf"), src / "b.osm.pbf")
    drain()  # same checkpoint: only b processed
    got = spark.read.parquet(sink)
    assert got.count() == n_a + n_b
    per_file = {
        os.path.basename(r["f"]): r["n"]
        for r in got.select(
            F.element_at(F.split("src_file", "/"), -1).alias("f")
        ).groupBy("f").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_file == {"a.osm.pbf": n_a, "b.osm.pbf": n_b}
    # content equality: every row equals the batch reference
    assert keyed(got.collect(), "points") == reference(pbf_lake, "points")


def test_pbf_validate_quarantines_corrupt_files(spark, pbf_lake, tmp_path):
    """pbf_validate: the intact fixture passes shallow AND deep; each
    corruption mode earns its specific verdict from the bytes."""
    import shutil

    from pydriosm_spark.sources import pbf

    d = tmp_path / "lake"
    d.mkdir()
    good = os.path.join(pbf_lake, "a.osm.pbf")
    shutil.copy(good, d / "good.osm.pbf")
    raw = open(good, "rb").read()
    (d / "short.osm.pbf").write_bytes(raw[:2])
    (d / "trunc.osm.pbf").write_bytes(raw[: len(raw) // 2])
    bad = bytearray(raw)
    bad[0:4] = (1 << 30).to_bytes(4, "big")  # absurd header length
    (d / "frame.osm.pbf").write_bytes(bytes(bad))
    # valid framing but garbage payload: stomp an OSMData blob body
    idx = pbf.index_blobs(good)
    s, ln, _bt = next(r for r in idx if r[2] == "OSMData")
    deep_bad = bytearray(raw)
    deep_bad[s + ln - 64 : s + ln] = b"\xff" * 64
    (d / "deepbad.osm.pbf").write_bytes(bytes(deep_bad))

    got = {
        os.path.basename(r["path"]): (r["valid"], r["reason"])
        for r in pbf.pbf_validate(spark, str(d)).collect()
    }
    assert got["good.osm.pbf"] == (True, None)
    assert got["short.osm.pbf"] == (False, "too_short")
    assert got["trunc.osm.pbf"][0] is False and got["trunc.osm.pbf"][1] in (
        "truncated", "bad_framing"
    )
    assert got["frame.osm.pbf"] == (False, "bad_framing")
    # shallow validation cannot see inside the blob...
    assert got["deepbad.osm.pbf"][0] is True
    # ...deep validation can
    deep = {
        os.path.basename(r["path"]): (r["valid"], r["reason"])
        for r in pbf.pbf_validate(spark, str(d), deep=True).collect()
    }
    assert deep["good.osm.pbf"] == (True, None)
    assert deep["deepbad.osm.pbf"] == (False, "undecodable_block")


@pytest.mark.parametrize("layer", ["points", "multipolygons"])
def test_streaming_layer_ingest_equals_datasource(registered, pbf_lake, tmp_path, layer):
    """Any-layer streaming ingest: a drain with availableNow equals the
    DataSource's batch read row for row, src_file included — for points
    (striped in batch) and multipolygons (whole-file member context)."""
    spark = registered
    from pydriosm_spark.sources import pbf

    sink = str(tmp_path / "out")
    q = (
        pbf.read_pbf_layer_stream(spark, pbf_lake, layer)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(sink).collect()
    want = spark.read.format("osmpbf").option("layer", layer).load(pbf_lake).collect()
    assert keyed(got, layer) == keyed(want, layer) and len(got) > 1000
    assert {r["src_file"] for r in got} == {r["src_file"] for r in want}

    with pytest.raises(ValueError, match="unknown layer"):
        pbf.read_pbf_layer_stream(spark, pbf_lake, "nope")


def test_datasource_relation_layer_streams_and_matches_distributed(registered, pbf_lake):
    """VERDICT r4 item 2: the relation-layer path must (a) equal
    relation_layers_distributed feature-for-feature on the lake and
    (b) never whole-file fh.read() — it streams blob-by-blob under a
    loud size guard."""
    spark = registered
    from pydriosm_spark.sources import pbf

    via_fmt = (
        spark.read.format("osmpbf").option("layer", "multipolygons").load(pbf_lake)
    )
    got = keyed(via_fmt.collect(), "multipolygons")
    dist = pbf.relation_layers_distributed(spark, pbf_lake).filter(
        "layer = 'multipolygons'"
    )
    want = keyed(dist.collect(), "multipolygons")
    assert got == want and len(got) > 1000


def test_datasource_relation_layer_size_guard(registered, pbf_lake):
    """Files over max_file_bytes are rejected LOUDLY with a pointer to
    the distributed assembler, not silently OOM'd one task at a time."""
    import pytest as _p

    spark = registered
    df = (
        spark.read.format("osmpbf")
        .option("layer", "multipolygons")
        .option("max_file_bytes", "1024")
        .load(pbf_lake)
    )
    with _p.raises(Exception, match="relation_layers_distributed"):
        df.count()
    # splittable layers are unaffected by the guard
    n = (
        spark.read.format("osmpbf")
        .option("layer", "points")
        .option("max_file_bytes", "1024")
        .load(pbf_lake)
        .count()
    )
    assert n > 5000


def test_pbf_listing_empty_landing_dir_is_not_an_error(spark, tmp_path):
    """A landing directory polled BETWEEN file drops holds zero PBFs —
    an ingest loop must see files=0, not crash (the r4 raise-on-empty
    was meant for glob typos, where it still fires)."""
    import pytest

    from pydriosm_spark.sources import pbf

    d = tmp_path / "landing"
    d.mkdir()
    assert pbf.pbf_validate(spark, str(d)).count() == 0
    # a glob matching nothing still raises (typo'd pattern)
    with pytest.raises(Exception, match="[Nn]o PBF files|does not exist|PATH_NOT_FOUND"):
        pbf.pbf_validate(spark, str(tmp_path / "nope" / "*.pbf")).count()


def test_every_read_path_lists_the_same_files(registered, pbf_lake, tmp_path):
    """One listing rule: a landing directory holding a nested .pbf and a
    non-.pbf decoy — pbf_validate, the DataSource, the distributed
    assembler and a stream drain all name the same two files, each as a
    plain path."""
    import shutil

    from pydriosm_spark.sources import pbf

    spark = registered
    d = tmp_path / "landing"
    (d / "sub").mkdir(parents=True)
    shutil.copy(os.path.join(pbf_lake, "a.osm.pbf"), d / "a.osm.pbf")
    shutil.copy(os.path.join(pbf_lake, "b.osm.pbf"), d / "sub" / "b.osm.pbf")
    shutil.copy(os.path.join(pbf_lake, "a.osm.pbf"), d / "c.pbf.bak")
    want = {str(d / "a.osm.pbf"), str(d / "sub" / "b.osm.pbf")}

    assert {r["path"] for r in pbf.pbf_validate(spark, str(d)).collect()} == want
    ds = spark.read.format("osmpbf").option("layer", "points").load(str(d))
    assert {r["src_file"] for r in ds.select("src_file").distinct().collect()} == want
    dist = pbf.relation_layers_distributed(spark, str(d))
    assert {r["src_file"] for r in dist.select("src_file").distinct().collect()} == want
    dist.release_primitives()
    sink = str(tmp_path / "out")
    q = (
        pbf.read_pbf_layer_stream(spark, str(d), "points")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(sink).select("src_file").distinct().collect()
    assert {r["src_file"] for r in got} == want


@pytest.mark.parametrize("cut", ["osm_header", "last_osm_data"])
def test_truncated_pbf_fails_loudly_on_every_decode_path(registered, pbf_lake, tmp_path, cut):
    """A lake file cut inside its OSMHeader blob or inside its last
    OSMData blob must fail the DataSource read, the stream drain and the
    distributed assembler with the file named — never read as fewer
    rows — while pbf_validate still quarantines it as truncated."""
    from pydriosm_spark.sources import pbf

    spark = registered
    good = os.path.join(pbf_lake, "a.osm.pbf")
    raw = open(good, "rb").read()
    idx = pbf.index_blobs(good)
    start, length, btype = idx[0] if cut == "osm_header" else idx[-1]
    assert btype == ("OSMHeader" if cut == "osm_header" else "OSMData")
    d = tmp_path / "landing"
    d.mkdir()
    bad = d / "cut.osm.pbf"
    bad.write_bytes(raw[: start + length - 10])

    with pytest.raises(ValueError, match=f"truncated PBF .*cut.osm.pbf.* at byte {start}"):
        pbf.index_blobs(str(bad))
    with pytest.raises(Exception, match="truncated PBF"):
        spark.read.format("osmpbf").option("layer", "points").load(str(d)).count()
    q = (
        pbf.read_pbf_layer_stream(spark, str(d), "points")
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="truncated PBF"):
        q.awaitTermination(300)
    dist = pbf.relation_layers_distributed(spark, str(d))
    try:
        with pytest.raises(Exception, match="truncated PBF"):
            dist.count()
    finally:
        dist.release_primitives()
    (row,) = pbf.pbf_validate(spark, str(d)).collect()
    assert (row["valid"], row["reason"]) == (False, "truncated")


def test_default_stripes_follow_file_size(registered, pbf_lake, tmp_path):
    """Without ``n_tasks`` a file gets one stripe per STRIPE_BYTES (at
    most MAX_STRIPES): each lake file (~18 KB) is one task, and a file
    just past STRIPE_BYTES (lake file ``a`` repeated) is two, which read
    the rows of one."""
    from pydriosm_spark.sources.pbf_datasource import STRIPE_BYTES

    df = registered.read.format("osmpbf").option("layer", "points").load(pbf_lake)
    assert df.rdd.getNumPartitions() == 2
    raw = open(os.path.join(pbf_lake, "a.osm.pbf"), "rb").read()
    big = tmp_path / "big.osm.pbf"
    big.write_bytes(raw * (STRIPE_BYTES // len(raw) + 1))
    df = registered.read.format("osmpbf").option("layer", "points").load(str(big))
    assert df.rdd.getNumPartitions() == 2
    one = registered.read.format("osmpbf").option("layer", "points").option("n_tasks", "1")
    assert sorted(df.collect()) == sorted(one.load(str(big)).collect())
