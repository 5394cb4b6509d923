"""The workloads: one pipeline pass each, its output check, and its
per-layer trace.

A pass runs from reading the generated input to a committed sink whose
read-back matches the DuckDB expectation in the input manifest.  Every
library call goes through the public functions of ``pydriosm_spark``.

The trace materialises each layer through the ``noop`` sink under its own
Spark job group (``costs.SparkCosts``).  For a layer L fed by layer P:

* ``plan_s`` is the wall time of the public call that builds L (cover
  build, eager collects, ``localCheckpoint``), and its jobs count as L's;
* ``exec_s`` is the noop materialisation through L minus the one through
  P; jobs, stages, executor time, shuffle and spill are differenced the
  same way, and ``peak_exec_mem_bytes`` is the largest of any stage of L.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from pydriosm_spark import queries as Q
from pydriosm_spark import queries_text as QT
from pydriosm_spark.functions import extract
from pydriosm_spark.operators import dedup, knn, similarity, tiling
from pydriosm_spark.operators.spatial_join import build_cover, spatial_join_points_polygons
from pydriosm_spark.plans.checkpoint import PartitionedCheckpoint
from pydriosm_spark.sources import synth

from costs import SparkCosts
import gen

KEYS = ["doc_id", "mention_idx"]
#: geo_enrich's kNN point keys: the mention key plus the columns the sink
#: keeps, carried through the kernel so no join back is needed
SINK_KEYS = KEYS + ["tile_parent", "feature_id"]
#: PartitionedCheckpoint batch size that commits every pending partition
#: in one write job
ONE_BATCH = 1 << 20
PBF_LAYERS = ("points", "lines", "multipolygons")

# ---------------------------------------------------------------------------
# per-layer metric names (BENCHMARK.json's per_layer list is built from these)
# ---------------------------------------------------------------------------

MAP_ONLY = ["plan_s", "exec_s", "rows_out", "jobs", "stages", "executor_run_s",
            "peak_exec_mem_bytes"]
SHUFFLING = MAP_ONLY[:6] + ["shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes"]
DEDUP_EXTRA = ["candidate_pairs", "verified_pairs", "verify_ratio"]

LAYERS = {
    "session": ["jvm_start_s", "register_s"],
    "functions.extract": MAP_ONLY,
    "operators.tiling": MAP_ONLY,
    "operators.spatial_join": MAP_ONLY + [
        "cover_build_cold_s", "cover_build_warm_s", "cover_cells",
        "refine_exec_s", "refine_hit_ratio"],
    "operators.knn.brute": MAP_ONLY + ["plan_cold_s"],
    "operators.knn.cell": SHUFFLING + ["plan_cold_s"],
    "operators.dedup.minhash": SHUFFLING + DEDUP_EXTRA,
    "operators.dedup.simhash": SHUFFLING + DEDUP_EXTRA,
    "operators.similarity": MAP_ONLY + ["plan_cold_s"],
    **{f"sources.pbf_datasource.{l}": MAP_ONLY + ["input_bytes"] for l in PBF_LAYERS},
    "plans.checkpoint": SHUFFLING[1:] + [
        "partitions_written", "partitions_skipped", "bytes_written_per_input_byte",
        "resume_s"],
    "bench": ["gen_s", "trace_overhead_s"],
}
#: workloads whose chains a traced run of the key runs after its own:
#: pbf_ingest is not in BENCHMARK.json's workload set, so text_dedup's
#: trace carries its PBF decode and checkpoint layers
TRACE_ALSO = {"text_dedup": ("pbf_ingest",)}


def unit_of(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric.endswith("_ratio") or metric == "bytes_written_per_input_byte":
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    return [f"{layer}.{m}" for layer, ms in LAYERS.items() for m in ms]


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


def summary_aggs(cols: list[str], extra: str = "0") -> list:
    """count / summed row hash / extra sum, as the DuckDB side computed them."""
    return [
        F.expr("CAST(count(1) AS BIGINT)").alias("n"),
        F.expr(f"CAST(sum({gen.hash_sql(cols)}) AS BIGINT)").alias("h"),
        F.expr(f"CAST(sum({extra}) AS BIGINT)").alias("x"),
    ]


def _summary_dict(r) -> dict:
    return {"n": r["n"], "h": r["h"] or 0, "x": r["x"] or 0}


def summary(df: DataFrame, cols: list[str], extra: str = "0") -> dict:
    return _summary_dict(df.agg(*summary_aggs(cols, extra)).first())


class Tracer:
    """Collects per-layer metrics from noop materialisations."""

    def __init__(self, spark):
        self.costs = SparkCosts(spark)
        self.metrics: dict = {}

    def call(self, layer: str, fn):
        """Run the public call ``fn`` under a job group: (result, plan_s, costs)."""
        with self.costs.group(f"{layer}:plan") as g:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        return out, dt, self.costs.read(g)

    def materialize(self, name: str, df: DataFrame) -> dict:
        """noop-sink materialisation: wall time, rows and Spark costs."""
        obs = Observation(f"rows_{name.replace('.', '_')}")
        observed = df.observe(obs, F.count(F.lit(1)).alias("n"))
        with self.costs.group(f"{name}:exec") as g:
            t0 = time.perf_counter()
            observed.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
        return {"wall_s": dt, "rows": obs.get["n"], **self.costs.read(g)}

    def layer(self, layer: str, plan_s: float, plan_c: dict, mat: dict, prev: dict | None):
        """Record layer ``layer`` from its call and its materialisation,
        differenced against the materialisation of its input ``prev``."""
        prev = prev or {}
        m = self.metrics
        m[f"{layer}.plan_s"] = plan_s
        m[f"{layer}.exec_s"] = mat["wall_s"] - prev.get("wall_s", 0.0)
        m[f"{layer}.rows_out"] = mat["rows"]
        for k in ("jobs", "stages", "executor_run_s", "shuffle_write_bytes", "spill_bytes"):
            m[f"{layer}.{k}"] = plan_c.get(k, 0) + mat[k] - prev.get(k, 0)
        m[f"{layer}.peak_exec_mem_bytes"] = max(plan_c.get("peak_exec_mem_bytes", 0),
                                                mat["peak_exec_mem_bytes"])

    def traced(self, layer: str, fn, prev: dict | None) -> tuple[DataFrame, dict]:
        df, plan_s, plan_c = self.call(layer, fn)
        mat = self.materialize(layer, df)
        self.layer(layer, plan_s, plan_c, mat, prev)
        return df, mat

    def overhead(self, df: DataFrame) -> None:
        """bench.trace_overhead_s, once per run: a traced noop
        materialisation of ``df`` minus an untraced one."""
        if "bench.trace_overhead_s" in self.metrics:
            return
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        plain = time.perf_counter() - t0
        self.metrics["bench.trace_overhead_s"] = self.materialize("overhead", df)["wall_s"] - plain

    def checkpoint(self, commits: list, mat_in: dict, written: list, skipped: list,
                   data_dir: str, input_bytes: int, resume_s: float) -> None:
        """plans.checkpoint from its commit calls (each (wall_s, costs)),
        minus the materialisation ``mat_in`` of its input, which every
        commit recomputes once (and then caches)."""
        m, n = self.metrics, len(commits)
        m["plans.checkpoint.exec_s"] = sum(w for w, _ in commits) - n * mat_in["wall_s"]
        m["plans.checkpoint.rows_out"] = mat_in["rows"]
        for k in ("jobs", "stages", "executor_run_s", "shuffle_write_bytes", "spill_bytes"):
            m[f"plans.checkpoint.{k}"] = sum(c[k] for _, c in commits) - n * mat_in[k]
        m["plans.checkpoint.peak_exec_mem_bytes"] = max(
            c["peak_exec_mem_bytes"] for _, c in commits)
        m["plans.checkpoint.partitions_written"] = len(written)
        m["plans.checkpoint.partitions_skipped"] = len(skipped)
        m["plans.checkpoint.bytes_written_per_input_byte"] = gen.dir_bytes(data_dir) / input_bytes
        m["plans.checkpoint.resume_s"] = resume_s


def _commit(ckpt, df, costs: SparkCosts | None, **kw):
    """One PartitionedCheckpoint.run: (result, wall_s, costs or None)."""
    grp = costs.group("plans.checkpoint:commit") if costs else nullcontext()
    with grp as g:
        t0 = time.perf_counter()
        try:
            res = ckpt.run(df, **kw)
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
            res = None
        dt = time.perf_counter() - t0
    return res, dt, (costs.read(g) if costs else None)


# ---------------------------------------------------------------------------
# geo_enrich
# ---------------------------------------------------------------------------


class Workload:
    """One workload over the generated inputs in ``d`` (manifest ``info``)."""

    name = ""

    def __init__(self, spark, d: str, info: dict):
        self.spark, self.d, self.info = spark, d, info


class GeoEnrich(Workload):
    name = "geo_enrich"

    def _inputs(self):
        r = self.spark.read
        return (r.parquet(f"{self.d}/webpages.parquet"), r.parquet(f"{self.d}/towns.parquet"),
                r.parquet(f"{self.d}/pois.parquet"))

    def _near(self, z: DataFrame, places: DataFrame) -> DataFrame:
        return knn.knn_auto(self.spark, z, places, k=1, point_keys=SINK_KEYS)

    @staticmethod
    def _out(town: DataFrame) -> DataFrame:
        return town.select(*KEYS, "tile_parent",
                           F.col("feature_id").cast("long").alias("feature_id"),
                           F.col("place_id").cast("long").alias("town_id"),
                           F.col("d2").alias("town_d2"))

    def chain(self):
        web, towns, _ = self._inputs()
        m = extract.extract_mentions(web)
        t = tiling.assign_tiles(m, Q.TILE_RES, Q.TILE_PARENT_RES)
        z = spatial_join_points_polygons(self.spark, t, synth.zone_features(), res=Q.JOIN_RES)
        return self._out(self._near(z, towns))

    @staticmethod
    def _aggs() -> list:
        return summary_aggs(gen.geo_cols(), f"doc_id DIV {gen.GEO_PERIOD}")

    def check(self, out: DataFrame) -> bool:
        return _summary_dict(out.agg(*self._aggs()).first()) == self.info["expect"]

    def check_poi(self, near: DataFrame) -> bool:
        return summary(near, gen.poi_cols(), f"doc_id DIV {gen.GEO_PERIOD}") == \
            self.info["expect_poi"]

    def run_pass(self, sink: str) -> bool:
        # the tile-partitioned sink is checked on the rows it commits,
        # observed by the write itself
        observed = Observation("sink")
        self.chain().observe(observed, *self._aggs()).write.mode("overwrite").partitionBy(
            "tile_parent").parquet(sink)
        return _summary_dict(observed.get) == self.info["expect"]

    def trace(self, tr: Tracer, sink: str) -> None:
        spark, m = self.spark, tr.metrics
        zones = synth.zone_features()
        # the cover memo is process-wide: its first build is the cold cost
        t0 = time.perf_counter()
        cover = build_cover(zones, Q.JOIN_RES, min_res=Q.JOIN_RES)
        m["operators.spatial_join.cover_build_cold_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        build_cover(zones, Q.JOIN_RES, min_res=Q.JOIN_RES)
        m["operators.spatial_join.cover_build_warm_s"] = time.perf_counter() - t0
        m["operators.spatial_join.cover_cells"] = len(cover)

        web, towns, pois = self._inputs()
        for rnd in ("cold", "warm"):
            src = tr.materialize("source", web)
            mm, m_mat = tr.traced("functions.extract", lambda: extract.extract_mentions(web), src)
            t, t_mat = tr.traced("operators.tiling",
                                 lambda: tiling.assign_tiles(mm, Q.TILE_RES, Q.TILE_PARENT_RES),
                                 m_mat)
            z, z_mat = tr.traced("operators.spatial_join",
                                 lambda: spatial_join_points_polygons(spark, t, zones,
                                                                      res=Q.JOIN_RES), t_mat)
            tr.traced("operators.knn.brute", lambda: self._near(z, towns), z_mat)
            # above knn_auto's 4,096-place threshold: the knn_cell branch
            near, _ = tr.traced("operators.knn.cell", lambda: self._near(z, pois), z_mat)
            if rnd == "cold":
                cold = {k: m[f"operators.knn.{k}.plan_s"] for k in ("brute", "cell")}
        for k, v in cold.items():
            m[f"operators.knn.{k}.plan_cold_s"] = v
        if not self.check_poi(near):
            raise AssertionError("geo_enrich: traced knn_cell does not match the oracle")

        unrefined = tr.materialize(
            "refine_off",
            spatial_join_points_polygons(spark, t, zones, res=Q.JOIN_RES, refine=False))
        m["operators.spatial_join.refine_exec_s"] = z_mat["wall_s"] - unrefined["wall_s"]
        m["operators.spatial_join.refine_hit_ratio"] = z_mat["rows"] / max(1, unrefined["rows"])

        # the pass's output, committed through PartitionedCheckpoint by
        # tile_parent: interrupted after one partition, then resumed.  The
        # input is materialised first, so the commits show their own cost.
        out = self._out(self._near(z, towns)).localCheckpoint()
        tr.overhead(out)
        mat_in = tr.materialize("sink_input", out)
        ckpt = PartitionedCheckpoint(sink, "tile_parent")
        _, w1, c1 = _commit(ckpt, out, tr.costs, fail_after=1, batch_size=ONE_BATCH)
        res, w2, c2 = _commit(ckpt, out, tr.costs, batch_size=ONE_BATCH)
        tr.checkpoint([(w1, c1), (w2, c2)], mat_in, res.written_partitions,
                      res.skipped_partitions, ckpt.data_dir, self.info["input_bytes"], w2)
        if len(res.skipped_partitions) != 1 or not self.check(ckpt.read(spark)):
            raise AssertionError("geo_enrich: traced sink does not match the oracle")


# ---------------------------------------------------------------------------
# text_dedup
# ---------------------------------------------------------------------------


class TextDedup(Workload):
    name = "text_dedup"

    def _inputs(self):
        r = self.spark.read
        return r.parquet(f"{self.d}/documents.parquet"), r.parquet(f"{self.d}/embeddings.parquet")

    def outputs(self, docs, emb) -> dict:
        """The pass's sinks; ``simhash_pairs`` runs in the trace only, so a
        run stays within the benchmark's time budget (README.md)."""
        return {
            "minhash": dedup.minhash_lsh_pairs(docs, jaccard_e6_min=QT.JACCARD_E6_MIN),
            "cosine": similarity.cosine_topk_bruteforce(self.spark, emb, k=QT.TOPK),
        }

    @staticmethod
    def _cols(name: str) -> list[str]:
        # the DuckDB side renames the pair table's ``union`` column to ``uni``
        cols = {"minhash": gen.MINHASH_COLS, "simhash": gen.SIMHASH_COLS,
                "cosine": gen.COSINE_COLS}[name]
        return ["`union`" if c == "uni" else c for c in cols]

    def check(self, name: str, df: DataFrame) -> bool:
        return summary(df, self._cols(name)) == self.info["expect"][name]

    def run_pass(self, sink: str) -> bool:
        # each sink is checked on the rows it commits, observed by the write
        # itself rather than by a read-back job
        observed = {}
        for name, df in self.outputs(*self._inputs()).items():
            observed[name] = Observation(f"sink_{name}")
            df.observe(observed[name], *summary_aggs(self._cols(name))).write.mode(
                "overwrite").parquet(f"{sink}/{name}")
        return all(_summary_dict(o.get) == self.info["expect"][name]
                   for name, o in observed.items())

    def trace(self, tr: Tracer, sink: str) -> None:
        spark, m = self.spark, tr.metrics
        docs, emb = self._inputs()
        for rnd in ("cold", "warm"):
            src_docs = tr.materialize("source_docs", docs)
            src_emb = tr.materialize("source_emb", emb)
            mh, _ = tr.traced("operators.dedup.minhash",
                              lambda: dedup.minhash_lsh_pairs(
                                  docs, jaccard_e6_min=QT.JACCARD_E6_MIN), src_docs)
            sh, _ = tr.traced("operators.dedup.simhash", lambda: dedup.simhash_pairs(docs),
                              src_docs)
            cs, _ = tr.traced("operators.similarity",
                              lambda: similarity.cosine_topk_bruteforce(spark, emb, k=QT.TOPK),
                              src_emb)
            if rnd == "cold":
                sim_cold = m["operators.similarity.plan_s"]
        m["operators.similarity.plan_cold_s"] = sim_cold
        # every LSH candidate shares a band minhash, hence a shingle, so the
        # pairs at threshold 0 are exactly the candidates
        cands = {"minhash": dedup.minhash_lsh_pairs(docs, jaccard_e6_min=0).count(),
                 "simhash": _simhash_candidates(docs)}
        for name, cand in cands.items():
            layer = f"operators.dedup.{name}"
            m[f"{layer}.candidate_pairs"] = cand
            m[f"{layer}.verified_pairs"] = m[f"{layer}.rows_out"]
            m[f"{layer}.verify_ratio"] = m[f"{layer}.rows_out"] / max(1, cand)
        tr.overhead(mh)
        for name, df in (("minhash", mh), ("simhash", sh), ("cosine", cs)):
            if not self.check(name, df):
                raise AssertionError(f"text_dedup: traced {name} does not match the oracle")


def _simhash_candidates(docs: DataFrame, radius: int = 3, max_bucket: int = 64) -> int:
    """Candidate pairs of ``simhash_pairs`` at its defaults: the pairs that
    share a composite block key in a bucket of at most ``max_bucket``, before
    the Hamming verify.  The same key explode, built from dedup's public
    helpers."""
    bits = dedup.SIMHASH_BITS // dedup.SIMHASH_BLOCKS
    keys = F.array(*[
        F.struct(F.lit(i).alias("blk"),
                 F.expr(dedup.simhash_composite_sql("simhash", s, bits, "spark")).alias("val"))
        for i, s in enumerate(dedup.simhash_key_subsets(radius, dedup.SIMHASH_BLOCKS))])
    b = (dedup.simhash_signature(docs)
         .select("doc_id", F.explode(keys).alias("k")).select("doc_id", "k.blk", "k.val")
         .withColumn("bn", F.count(F.lit(1)).over(Window.partitionBy("blk", "val")))
         .filter(F.col("bn") <= max_bucket))
    a = b.select(F.col("doc_id").alias("id_a"), "blk", "val")
    c = b.select(F.col("doc_id").alias("id_b"), "blk", "val")
    return (a.join(c, ["blk", "val"]).filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct().count())


# ---------------------------------------------------------------------------
# pbf_ingest
# ---------------------------------------------------------------------------


class PbfIngest(Workload):
    name = "pbf_ingest"

    def read_layer(self, layer: str) -> DataFrame:
        return self.spark.read.format("osmpbf").option("layer", layer).load(f"{self.d}/pbf")

    @staticmethod
    def _tagged(layer: str, df: DataFrame) -> DataFrame:
        geom = (F.format_string("POINT (%s %s)", "lon", "lat") if layer == "points"
                else F.col("geometry"))
        return df.select(F.lit(layer).alias("layer"), "id", geom.alias("geometry"),
                         "properties")

    def union(self, layers: dict) -> DataFrame:
        out = None
        for layer, df in layers.items():
            t = self._tagged(layer, df)
            out = t if out is None else out.unionByName(t)
        return out

    def check(self, df: DataFrame) -> bool:
        for layer in PBF_LAYERS:
            got = summary(df.filter(F.col("layer") == layer), ["id"])
            if got != self.info["expect"][layer]:
                return False
        return True

    def run_pass(self, sink: str) -> bool:
        df = self.union({l: self.read_layer(l) for l in PBF_LAYERS})
        ckpt = PartitionedCheckpoint(sink, "layer")
        # interrupted commit, then resume: the idempotent-resume contract
        first, _, _ = _commit(ckpt, df, None, fail_after=1)
        res = ckpt.run(df)
        return (first is None and len(res.skipped_partitions) == 1
                and len(res.written_partitions) == len(PBF_LAYERS) - 1
                and self.check(ckpt.read(self.spark)))

    def trace(self, tr: Tracer, sink: str) -> None:
        m = tr.metrics
        layers = {}
        for layer in PBF_LAYERS:
            name = f"sources.pbf_datasource.{layer}"
            layers[layer], _ = tr.traced(name, lambda: self.read_layer(layer), None)
            m[f"{name}.input_bytes"] = self.info["input_bytes"]
        df = self.union(layers)
        mat_in = tr.materialize("sink_input", df)
        tr.overhead(df)
        ckpt = PartitionedCheckpoint(sink, "layer")
        _, w1, c1 = _commit(ckpt, df, tr.costs, fail_after=1)
        res, w2, c2 = _commit(ckpt, df, tr.costs)
        tr.checkpoint([(w1, c1), (w2, c2)], mat_in, res.written_partitions,
                      res.skipped_partitions, ckpt.data_dir, self.info["input_bytes"], w2)
        if not self.check(ckpt.read(self.spark)):
            raise AssertionError("pbf_ingest: traced sink does not match the generator")


WORKLOADS = {w.name: w for w in (GeoEnrich, TextDedup, PbfIngest)}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
