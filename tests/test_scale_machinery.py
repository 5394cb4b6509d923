"""Scale machinery: salted shuffle join equivalence, checkpoint/resume
idempotency + lineage, streaming/batch equivalence."""

import pandas as pd
import pytest

from pydriosm_spark.functions import extract
from pydriosm_spark.operators.spatial_join import spatial_join_points_polygons
from pydriosm_spark.plans.checkpoint import PartitionedCheckpoint
from pydriosm_spark.sources import synth
from pydriosm_spark.streaming.windowed import run_stream_available_now, windowed_event_counts
from tests.conftest import SF_SMOKE


def _canon(df):
    p = df.toPandas()
    return p[sorted(p.columns)].sort_values(sorted(p.columns), ignore_index=True)


def test_salted_shuffle_join_equals_broadcast(spark, monkeypatch):
    from pydriosm_spark.operators import skew
    from pydriosm_spark.operators import spatial_join as SJ

    salts = []

    def spy(probe, key, target):
        salts.append(skew.hot_cell_salts(probe, key, target))
        return salts[-1]

    # the busiest probe cell holds 6 rows at this scale: a target of 2
    # salts every cell above it
    monkeypatch.setattr(SJ, "TARGET_ROWS_PER_TASK", 2)
    monkeypatch.setattr(SJ, "hot_cell_salts", spy)
    m = extract.extract_mentions(synth.webpages(spark, SF_SMOKE))
    zones = synth.zone_features()
    a = spatial_join_points_polygons(spark, m, zones, res=17)
    b = SJ.spatial_join_points_polygons_distributed(
        spark, m, SJ.polygon_frame(spark, zones), res=17
    )
    assert salts[0].count() > 0
    pd.testing.assert_frame_equal(_canon(a), _canon(b), check_dtype=False)


def test_checkpoint_resume_idempotent(spark, tmp_path):
    from pyspark.sql import functions as F

    m = extract.extract_mentions(synth.webpages(spark, SF_SMOKE)).withColumn(
        "part", F.col("doc_id") % 8
    )
    base = str(tmp_path / "ckpt")
    ck = PartitionedCheckpoint(base, "part")

    # first run dies after 3 partition commits
    with pytest.raises(RuntimeError, match="injected failure"):
        ck.run(m, run_id="r1", fail_after=3)
    committed_after_crash = set(ck.committed())
    assert len(committed_after_crash) == 3

    # resume: completes the rest, touches nothing already committed
    n_parts = m.select("part").distinct().count()
    res = ck.run(m, run_id="r2")
    assert {str(v) for v in res.skipped_partitions} == committed_after_crash
    assert len(res.written_partitions) == n_parts - 3

    # a third run is a full no-op
    res3 = ck.run(m, run_id="r3")
    assert res3.written_partitions == [] and res3.rows_written == 0

    # final state == the input, and lineage row counts match the data
    got = _canon(ck.read(spark).drop("part"))
    want = _canon(m.drop("part"))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    lineage = ck.lineage(spark).toPandas()
    assert int(lineage["rows"].sum()) == len(want)
    assert set(lineage["committed_at_run"]) == {"r1", "r2"}


def test_checkpoint_batched_commits_resume(spark, tmp_path):
    """batch_size > 1: one Spark job per batch of partitions, identical
    resume semantics (crash between batches, clean-run-equal end state)."""
    from pyspark.sql import functions as F

    m = extract.extract_mentions(synth.webpages(spark, SF_SMOKE)).withColumn(
        "part", F.col("doc_id") % 8
    )
    ck = PartitionedCheckpoint(str(tmp_path / "ckpt_b"), "part")
    with pytest.raises(RuntimeError, match="injected failure"):
        ck.run(m, run_id="r1", fail_after=3, batch_size=3)
    assert len(ck.committed()) == 3
    n_parts = m.select("part").distinct().count()
    res = ck.run(m, run_id="r2", batch_size=3)
    assert len(res.written_partitions) == n_parts - 3
    assert len(res.skipped_partitions) == 3

    want = _canon(m.drop("part"))
    got = _canon(ck.read(spark).drop("part"))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    lineage = ck.lineage(spark).toPandas()
    assert int(lineage["rows"].sum()) == len(want)


def test_streaming_matches_batch(spark, tmp_path):
    import shutil

    # the streaming file source wants a directory of files
    events_dir = tmp_path / "events_stream"
    events_dir.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", events_dir / "part-0.parquet")
    events = str(events_dir)
    run_stream_available_now(spark, events, str(tmp_path / "sckpt"), "stream_windows_t")
    got = _canon(spark.sql("select * from stream_windows_t"))
    want = _canon(windowed_event_counts(spark.read.parquet(events)))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

def test_streaming_extraction_pipeline_matches_batch(spark, tmp_path):
    """The extraction->tile pipeline over a webpages STREAM equals the
    batch run on the same data (stateless transform equivalence)."""
    from pydriosm_spark.sources import synth
    from pydriosm_spark.streaming.pipeline import extract_and_tile

    web_dir = tmp_path / "webpages"
    synth.webpages(spark, SF_SMOKE).drop("warc_ts").write.mode("overwrite").parquet(str(web_dir))

    batch = spark.read.parquet(str(web_dir))
    want = _canon(extract_and_tile(batch))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(str(web_dir))
    )
    q = (
        extract_and_tile(stream)
        .writeStream.format("memory")
        .queryName("tiles_stream_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = _canon(spark.sql("select * from tiles_stream_t"))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_salting_balances_hot_key_groups(spark):
    """Direct shuffle-balance evidence: a pathological hot cell (90% of
    rows on one key) ends up spread across salted sub-keys whose max
    group size respects the target, while the unsalted key distribution
    has one giant group."""
    from pyspark.sql import functions as F

    from pydriosm_spark.operators.skew import hot_cell_salts, salted_join

    n = 100_000
    probe = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 9, F.lit(777)).otherwise(F.col("id") % 50).alias("cell"),
    )
    build = probe.select("cell").distinct().withColumn("feature", F.col("cell") * 2)

    target = 5_000
    salts = hot_cell_salts(probe, "cell", target_rows_per_task=target)
    n_salt_777 = salts.filter("cell = 777").first()["n_salt"]
    assert n_salt_777 >= 18  # ~90k rows / 5k target

    # unsalted: one group holds ~90% of rows
    unsalted_max = probe.groupBy("cell").count().agg(F.max("count")).first()[0]
    assert unsalted_max >= 0.89 * n

    # salted join key distribution: no group above target (+ rounding)
    p = probe.join(F.broadcast(salts), "cell", "left").withColumn(
        "__n", F.coalesce(F.col("n_salt"), F.lit(1))
    ).withColumn("__salt", F.pmod(F.col("doc_id"), F.col("__n")))
    salted_max = p.groupBy("cell", "__salt").count().agg(F.max("count")).first()[0]
    assert salted_max <= target * 1.2, salted_max

    # and the salted join still returns exactly one match per probe row
    out = salted_join(probe, build, "cell", "doc_id", salts)
    assert out.count() == n


def test_streaming_restart_resumes_exactly_once(spark, tmp_path):
    """Kill-and-restart resume for the streaming extraction pipeline:
    batch 1 of files is drained, the query STOPS, new files arrive, and a
    fresh query on the SAME checkpoint processes only the new files —
    the parquet sink ends up with every row exactly once (== batch over
    all inputs).  This is the streaming face of the engine's idempotent-
    resume contract (plans/checkpoint.py is the batch face)."""
    from pydriosm_spark.sources import synth
    from pydriosm_spark.streaming.pipeline import extract_and_tile

    web = synth.webpages(spark, SF_SMOKE).limit(200).cache()
    src = tmp_path / "web_src"
    sink = str(tmp_path / "tiles_out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    w1 = web.filter("doc_id % 2 = 0")
    w2 = web.filter("doc_id % 2 = 1")
    w1.coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))

    schema = web.schema

    def drain():
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        q = (
            extract_and_tile(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()  # run 1: only f1 exists
    n1 = spark.read.parquet(sink).count()
    w2.coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))
    drain()  # run 2: same checkpoint -> must process ONLY f2

    got = spark.read.parquet(sink)
    want = extract_and_tile(web)
    assert n1 == extract_and_tile(w1).count()
    assert got.count() == want.count()  # exactly once: no dupes, no holes
    assert (
        got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    )
