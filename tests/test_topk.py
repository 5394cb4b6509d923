"""The shared broadcast top-k kernel (operators/topk.py): bounded
per-batch memory at knn_auto's 4,096-place broadcast ceiling, exact
cosine tie-breaks and self-exclusion against the DuckDB oracle, and the
index-size gate."""

import tracemalloc

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pydriosm_spark import queries_text as QT
from pydriosm_spark.operators import knn, similarity, topk
from tests.oracle_util import canon


def test_batch_topk_memory_is_bounded_at_the_broadcast_ceiling():
    """One full Arrow batch (maxRecordsPerBatch = 65,536 points) against
    4,096 places at k=3: a whole-batch distance matrix alone would be
    2 GB; the tiled kernel must stay under 256 MB and still return the
    ``ORDER BY d2, place_id`` prefix."""
    rng = np.random.default_rng(7)
    n, m, k = 65_536, 4_096, 3
    # a coarse grid forces d2 ties across place columns
    uu, vv = rng.integers(0, 200, n), rng.integers(0, 200, n)
    pu, pv = rng.integers(0, 200, m), rng.integers(0, 200, m)

    def d2(lo, hi):
        du = uu[lo:hi, None] - pu
        du *= du
        dv = vv[lo:hi, None] - pv
        dv *= dv
        du += dv
        return du

    tracemalloc.start()
    try:
        rows, rank, col, dist = topk.batch_topk(n, m, k, d2)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 256 * 2**20, f"peak {peak / 2**20:.0f} MB"
    assert len(rows) == n * k
    assert (rank.reshape(n, k) == np.arange(1, k + 1)).all()
    head = 1_000  # reference: stable argsort over the full row
    want = np.argsort(d2(0, head), axis=1, kind="stable")[:, :k]
    assert (col[: head * k].reshape(head, k) == want).all()
    assert (dist[: head * k].reshape(head, k) == np.take_along_axis(d2(0, head), want, 1)).all()


def _embeddings(tmp_path, groups):
    """embeddings.parquet whose vectors repeat under several ids each:
    ``groups`` maps a base vector index to the ids carrying it."""
    rng = np.random.default_rng(3)
    base = rng.normal(size=(len(groups), 16)).astype(np.float32)
    ids, vecs = [], []
    for g, gids in enumerate(groups):
        for i in gids:
            ids.append(i)
            vecs.append(base[g].tolist())
    path = tmp_path / "embeddings.parquet"
    pq.write_table(
        pa.table({"vec_id": pa.array(ids, pa.int64()),
                  "embedding": pa.array(vecs, pa.list_(pa.float32()))}),
        path,
    )
    return str(path)


@pytest.mark.parametrize(
    "groups",
    [
        # 4 ids per vector: each query's 3 duplicates rank first, and the
        # k=5 cut falls inside the next 4-way tie
        [[7, 3, 12, 20], [1, 9, 30, 4], [15, 2, 8, 25], [11, 6, 40, 5]],
        # k=5 >= |index| = 4: the query itself is selected, then dropped
        [[2, 9], [5, 1]],
    ],
)
def test_cosine_topk_ties_and_self_exclusion_match_oracle(spark, tmp_path, groups):
    path = _embeddings(tmp_path, groups)
    got = similarity.cosine_topk_bruteforce(spark, spark.read.parquet(path), k=QT.TOPK)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
        want = canon(con.execute(QT.oracle_cosine_topk()).df())
    finally:
        con.close()
    pd.testing.assert_frame_equal(canon(got.toPandas()), want, check_exact=True)


def test_broadcast_index_gate_raises_before_shipping(spark, monkeypatch):
    monkeypatch.setattr(topk, "MAX_INDEX_ROWS", 3)
    places = spark.createDataFrame(
        [(i, i, i) for i in range(4)], "place_id int, pu long, pv long"
    )
    points = spark.createDataFrame([(0, 0, 0, 0)], "doc_id long, mention_idx long, u long, v long")
    with pytest.raises(ValueError, match="> 3 rows"):
        knn.knn_bruteforce(points, places, k=1)


def test_knn_auto_threshold_past_the_gate_raises(spark, monkeypatch):
    """A broadcast_nlj_threshold above MAX_INDEX_ROWS does not lift the
    gate: knn_auto's deciding pull is bounded by it and raises past it,
    and at a threshold under the gate the large side goes to the cell
    path instead."""
    monkeypatch.setattr(topk, "MAX_INDEX_ROWS", 3)
    places = spark.createDataFrame(
        [(i, i, i) for i in range(4)], "place_id int, pu long, pv long"
    )
    points = spark.createDataFrame([(0, 0, 0, 0)], "doc_id long, mention_idx long, u long, v long")
    with pytest.raises(ValueError, match="> 3 rows"):
        knn.knn_auto(spark, points, places, k=1, broadcast_nlj_threshold=10)
    got = knn.knn_auto(spark, points, places, k=1, broadcast_nlj_threshold=2, cell_size=1)
    assert [(r["place_id"], r["d2"]) for r in got.collect()] == [(0, 0)]
