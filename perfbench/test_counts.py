"""Count determinism of the per-layer trace, and BENCHMARK.json's metric list.

    python3 -m pytest perfbench/test_counts.py -q

The count metrics of a traced pass (rows out, cover cells, candidate and
verified pairs, partitions written and skipped, bytes written per input
byte) must repeat exactly for one seed and change for another.  One Spark
session serves every case; inputs go to ``.bench_build/perfbench``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import workloads  # noqa: E402

COUNTS = ("rows_out", "cover_cells", "candidate_pairs", "verified_pairs",
          "partitions_written", "partitions_skipped", "bytes_written_per_input_byte")
#: a count that must move with the seed, per workload
SEED_SENSITIVE = {
    "geo_enrich": "operators.spatial_join.rows_out",
    "text_dedup": "operators.dedup.minhash.verified_pairs",
    "pbf_ingest": "sources.pbf_datasource.points.rows_out",
}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pydriosm_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    s = get_spark(parallelism=len(os.sched_getaffinity(0)),
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _counts(spark, workload: str, seed: int, sink: str) -> dict:
    d, info = gen.generate(workload, seed, os.path.join(ROOT, ".bench_build", "perfbench",
                                                        "inputs"))
    tr = workloads.Tracer(spark)
    workloads.WORKLOADS[workload](spark, d, info).trace(tr, workloads.fresh_dir(sink))
    return {k: v for k, v in tr.metrics.items() if k.rsplit(".", 1)[1] in COUNTS}


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_counts_repeat_for_a_seed_and_move_with_it(spark, workload, tmp_path):
    a1 = _counts(spark, workload, 11, str(tmp_path / "a1"))
    a2 = _counts(spark, workload, 11, str(tmp_path / "a2"))
    b = _counts(spark, workload, 12, str(tmp_path / "b"))
    assert a1 == a2
    assert a1[SEED_SENSITIVE[workload]] != b[SEED_SENSITIVE[workload]]


def test_benchmark_json_lists_the_traced_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["per_layer"]]
    assert names == workloads.per_layer_names()
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        n: workloads.unit_of(n.rsplit(".", 1)[1]) for n in names}
