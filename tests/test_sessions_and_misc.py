"""Stateful streaming sessionization vs the batch oracle, plus the
shape-type->WKT converter and checkpoint partition drops."""

import pandas as pd

from pydriosm_spark.functions.transforms import shape_to_wkt
from pydriosm_spark.plans.checkpoint import PartitionedCheckpoint
from pydriosm_spark.streaming.sessions import sessionize_batch, sessionize_stream
from tests.conftest import SF_SMOKE


def _canon(df):
    p = df.toPandas()
    return p[sorted(p.columns)].sort_values(sorted(p.columns), ignore_index=True)


def test_stateful_sessionization_matches_batch(spark, tmp_path):
    import shutil

    events_dir = tmp_path / "events_stream"
    events_dir.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", events_dir / "part-0.parquet")

    schema = spark.read.parquet(str(events_dir)).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(events_dir))
    )
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = _canon(spark.sql("select * from sessions_t"))

    want_all = _canon(sessionize_batch(spark.read.parquet(str(events_dir))))
    # append-mode can only emit sessions the final watermark has passed;
    # every emitted session must be correct and most sessions must emit
    merged = got.merge(want_all, how="left", indicator=True)
    assert (merged["_merge"] == "both").all(), merged[merged["_merge"] != "both"].head()
    assert len(got) >= 0.5 * len(want_all), (len(got), len(want_all))


def test_streaming_dedup_matches_batch_distinct(spark, tmp_path):
    """Streaming first-seen dedup emits exactly one row per key and the
    key set equals the batch distinct (ingestion-side exact dedup)."""
    import shutil

    from pydriosm_spark.streaming.dedup import dedup_first_seen

    events_dir = tmp_path / "ev"
    events_dir.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", events_dir / "part-0.parquet")
    schema = spark.read.parquet(str(events_dir)).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(events_dir))
    )
    q = (
        dedup_first_seen(stream)
        .writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_d"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select user_id, event_type from dedup_t").toPandas()
    assert not got.duplicated().any()
    want = (
        spark.read.parquet(str(events_dir))
        .select("user_id", "event_type")
        .distinct()
        .toPandas()
    )
    key = ["user_id", "event_type"]
    assert set(map(tuple, got[key].itertuples(index=False))) == set(
        map(tuple, want[key].itertuples(index=False))
    )


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join == the batch join over
    the same events (inner join emits every matched pair)."""
    import shutil

    from pydriosm_spark.streaming.joins import clicks_before_purchase

    events_dir = tmp_path / "ev_j"
    events_dir.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", events_dir / "part-0.parquet")
    schema = spark.read.parquet(str(events_dir)).schema

    def split(df):
        return (
            df.filter(df["event_type"] == "purchase"),
            df.filter(df["event_type"] == "click"),
        )

    WINDOW = 7 * 86400  # sf0.001 events are sparse; a week yields ~550 pairs
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(events_dir))
    )
    q = (
        clicks_before_purchase(*split(stream), window_seconds=WINDOW, watermark="8 days")
        .writeStream.format("memory")
        .queryName("ssj_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_j"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = _canon(spark.sql("select * from ssj_t"))
    want = _canon(
        clicks_before_purchase(
            *split(spark.read.parquet(str(events_dir))), window_seconds=WINDOW
        )
    )
    assert len(want) > 100  # the fixture actually joins
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_shape_to_wkt():
    assert shape_to_wkt(1, [(1.0, 2.0)]) == "POINT (1 2)"
    assert shape_to_wkt(3, [(0, 0), (1, 1)], []) == "LINESTRING (0 0, 1 1)"
    assert (
        shape_to_wkt(3, [(0, 0), (1, 1), (5, 5), (6, 6)], [0, 2])
        == "MULTILINESTRING ((0 0, 1 1), (5 5, 6 6))"
    )
    assert shape_to_wkt(5, [(0, 0), (1, 0), (1, 1)], [0]) == "POLYGON ((0 0, 1 0, 1 1, 0 0))"
    assert shape_to_wkt(8, [(1, 2), (3, 4)]) == "MULTIPOINT (1 2, 3 4)"


def test_checkpoint_drop(spark, tmp_path):
    from pyspark.sql import functions as F

    df = spark.range(100).withColumn("part", F.col("id") % 4)
    ck = PartitionedCheckpoint(str(tmp_path / "c"), "part")
    ck.run(df, run_id="r1")
    assert len(ck.committed()) == 4
    dropped = ck.drop([1, 3])
    assert sorted(dropped) == ["1", "3"]
    assert sorted(ck.committed()) == ["0", "2"]
    assert ck.read(spark).count() == 50


def test_checkpoint_escaped_partition_values(spark, tmp_path):
    """Partition values Spark escapes in directory names (':' -> '%3A')
    and values type-inference would mangle ('01' -> 1) must round-trip:
    correct manifest counts, correct read-back, idempotent resume, and
    drop removing the real escaped directory (ADVICE r2: the old
    rmtree+append on hand-built f'{col}={v}' paths missed all of these).
    """
    from pyspark.sql import functions as F

    vals = ["2024-01-01 00:00:00", "2024-01-01 00:15:00", "01", "a=b%c"]
    df = (
        spark.range(40)
        .withColumn("part", F.element_at(F.array(*[F.lit(v) for v in vals]), (F.col("id") % 4 + 1).cast("int")))
    )
    base = str(tmp_path / "esc")
    ck = PartitionedCheckpoint(base, "part")
    res = ck.run(df, run_id="r1")
    assert sorted(res.written_partitions) == sorted(vals)
    # every partition must report its true row count, not 0
    assert {e["partition"]: e["rows"] for e in ck.committed().values()} == {
        v: 10 for v in vals
    }
    assert ck.read(spark).count() == 40
    # resume is a no-op (no duplicate rows from append-on-top-of-stale)
    res2 = ck.run(df, run_id="r2")
    assert res2.written_partitions == [] and sorted(res2.skipped_partitions) == sorted(vals)
    assert ck.read(spark).count() == 40
    # drop finds the escaped directory on disk
    dropped = ck.drop(["2024-01-01 00:00:00"])
    assert dropped == ["2024-01-01 00:00:00"]
    assert ck.read(spark).count() == 30


def test_checkpoint_overwrite_replaces_dead_run_files(spark, tmp_path):
    """A partition directory left by a dead run (files present, no
    manifest line) must be replaced wholesale on resume — total rows
    equal a single clean run, not clean + stale."""
    from pyspark.sql import functions as F

    df = spark.range(20).withColumn("part", (F.col("id") % 2).cast("string"))
    base = str(tmp_path / "dead")
    ck = PartitionedCheckpoint(base, "part")
    # simulate a dead run: partition files exist but were never committed
    df.filter(F.col("part") == "1").write.partitionBy("part").mode("append").parquet(
        ck.data_dir
    )
    res = ck.run(df, run_id="r1")
    assert res.rows_written == 20
    assert ck.read(spark).count() == 20


def test_checkpoint_rejects_null_partition(spark, tmp_path):
    """NULL partition values would be silently dropped (filter(col ==
    NULL) matches nothing) while the manifest committed rows=0 — must
    fail loudly instead (ADVICE r1)."""
    import pytest
    from pyspark.sql import functions as F

    df = spark.range(10).withColumn(
        "part", F.when(F.col("id") < 8, F.col("id") % 2)
    )
    ck = PartitionedCheckpoint(str(tmp_path / "n"), "part")
    with pytest.raises(ValueError, match="NULL"):
        ck.run(df, run_id="r1")


def test_checkpoint_read_raises_on_storage_rot(spark, tmp_path):
    """A committed partition whose directory vanished (storage rot /
    external delete) must fail the read loudly — the manifest is the
    source of truth, and a silently truncated table is worse than an
    error (ADVICE r3).  allow_missing=True opts into the partial read."""
    import shutil

    import pytest
    from pyspark.sql import functions as F

    df = spark.range(30).withColumn("part", (F.col("id") % 3).cast("string"))
    ck = PartitionedCheckpoint(str(tmp_path / "rot"), "part")
    ck.run(df, run_id="r1")
    # rot one committed partition's directory, manifest untouched
    shutil.rmtree(ck._partition_dirs()["1"])
    with pytest.raises(FileNotFoundError, match="storage rot"):
        ck.read(spark)
    assert ck.read(spark, allow_missing=True).count() == 20


def test_polygon_measures_batch_empty_input():
    """A zero-row Arrow batch (possible after filters) must return empty
    arrays, not IndexError (ADVICE r3)."""
    import pandas as pd

    from pydriosm_spark.geometry.ops import polygon_measures_wkt_batch

    areas, perims = polygon_measures_wkt_batch(pd.Series([], dtype=object))
    assert len(areas) == 0 and len(perims) == 0


def test_asof_null_payload_comes_from_matched_row(spark):
    """The matched (latest) right row's NULL payload must surface as
    NULL — not silently replaced by an older right row's value (DuckDB
    ASOF semantics; ADVICE r1)."""
    from pydriosm_spark.operators.asof import asof_join

    lefts = spark.createDataFrame(
        [(1, "u", "2024-01-01 10:00:00")], "event_id long, user_id string, ts string"
    )
    rights = spark.createDataFrame(
        [
            ("u", "2024-01-01 08:00:00", 7),
            ("u", "2024-01-01 09:00:00", None),  # latest <= left ts, NULL payload
        ],
        "user_id string, ts string, signup_id long",
    )
    out = asof_join(lefts, rights, key="user_id", right_payload=["signup_id"]).collect()
    assert len(out) == 1
    row = out[0]
    assert str(row["asof_ts"]) == "2024-01-01 09:00:00"
    assert row["asof_signup_id"] is None

def test_streaming_kmv_equals_batch_sketch(spark, tmp_path):
    """Sharded streaming KMV (bounded per-shard bottom-k state in
    applyInPandasWithState, files drained across MULTIPLE micro-batches)
    must produce EXACTLY the batch sketch's (kth_hash, est_distinct) —
    the merge of per-shard bottom-k provably contains the global
    bottom-k."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pydriosm_spark.operators.sketch import kmv_distinct_estimate
    from pydriosm_spark.streaming.sketch import (
        merge_kmv_states,
        streaming_kmv_states,
    )
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        F.col("text").alias("val")
    )
    src = tmp_path / "kmv_src"
    src.mkdir()
    # two files -> with maxFilesPerTrigger=1 the state accumulates
    # across two micro-batches (the thing being tested)
    docs.filter(F.expr("length(val) % 2 = 0")).coalesce(1).write.parquet(
        str(src / "a")
    )
    docs.filter(F.expr("length(val) % 2 = 1")).coalesce(1).write.parquet(
        str(src / "b")
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_kmv_states(stream, "val", k=128, n_buckets=8)
        .writeStream.format("memory")
        .queryName("kmv_states")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "kmv_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql(
        "select bucket, mins from (select *, row_number() over "
        "(partition by bucket order by upd desc) rn from kmv_states) where rn = 1"
    ).toPandas()
    assert rows["bucket"].nunique() == len(rows)
    got = merge_kmv_states(rows, k=128)
    want = kmv_distinct_estimate(docs, "val", k=128).collect()[0]
    assert got["kth_hash"] == want["kth_hash"]
    assert got["est_distinct"] == want["est_distinct"]


def test_streaming_quantiles_equal_batch_sample(spark, tmp_path):
    """The streaming bottom-k-by-hash quantile sample (sharded bounded
    state) merged across shards must equal the batch sampled_quantiles
    rows exactly — same sample, same ranks, same values."""
    from pyspark.sql import functions as F

    from pydriosm_spark.operators.sketch import sampled_quantiles
    from pydriosm_spark.queries_rel import _Q_KEY, _Q_VALUE
    from pydriosm_spark.streaming.sketch import (
        merge_quantile_states,
        streaming_quantile_states,
    )
    from tests.conftest import SF_SMOKE

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    src = tmp_path / "q_src"
    src.mkdir()
    li.filter("l_orderkey % 2 = 0").coalesce(1).write.parquet(str(src / "a"))
    li.filter("l_orderkey % 2 = 1").coalesce(1).write.parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(li.schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_quantile_states(stream, _Q_VALUE, _Q_KEY, k=512, n_buckets=8)
        .writeStream.format("memory")
        .queryName("q_states")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "q_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    latest = spark.sql(
        "select bucket, hs, vs from (select *, row_number() over "
        "(partition by bucket order by upd desc) rn from q_states) where rn = 1"
    ).toPandas()
    got = merge_quantile_states(latest, k=512)
    want = (
        sampled_quantiles(li, _Q_VALUE, _Q_KEY, k=512)
        .orderBy("q_permille")
        .toPandas()
    )
    got = got.sort_values("q_permille", ignore_index=True)
    assert got["q_permille"].tolist() == want["q_permille"].tolist()
    assert got["value"].tolist() == want["value"].tolist()


def test_factory_sessions_speak_the_full_vocabulary(spark, pbf_lake):
    """get_spark() auto-registers the SQL surface and both DataSource
    formats — a fresh factory session runs qc_*/osm_* SQL and
    spark.read.format('osmpbf'/'osmshp') without any manual setup."""
    import pytest as _p

    row = spark.sql(
        "SELECT qc_res(qc_cell(0.0, 0.0, 14)) AS r, osm_ntokens('a b c') AS n"
    ).collect()[0]
    assert (row["r"], row["n"]) == (14, 3)

    df = spark.read.format("osmpbf").option("layer", "points").option(
        "n_tasks", "2"
    ).load(pbf_lake)
    assert df.limit(5).count() == 5
    with _p.raises(Exception):
        spark.read.format("osmshp").load("/nonexistent-dir-xyz").count()


def test_local_frame_equals_python_list_frame(spark):
    """session.local_frame gives the rows, types and nullability that
    createDataFrame(<python list>) gives — for the join cover, the empty
    column-stats table and nested polygon rings — as a LocalTableScan."""
    import numpy as np

    from pydriosm_spark.operators.spatial_join import POLYGON_SCHEMA, build_cover
    from pydriosm_spark.plans.catalogue import COLUMN_STATS_SCHEMA
    from pydriosm_spark.session import local_frame
    from pydriosm_spark.sources import synth

    zones = synth.zone_features()
    rings = [
        (int(z["feature_id"]), [np.asarray(r, dtype=np.float64).tolist() for r in z["rings"]])
        for z in zones[:3]
    ]
    cases = [
        (build_cover(zones, 17, min_res=17), "feature_id int, cell long, full boolean"),
        ([], COLUMN_STATS_SCHEMA),
        (rings + [(98, []), (99, None)], POLYGON_SCHEMA),
    ]
    for rows, schema in cases:
        got, want = local_frame(spark, rows, schema), spark.createDataFrame(rows, schema)
        assert got.dtypes == want.dtypes and got.schema == want.schema, schema
        assert got.collect() == want.collect(), schema
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
