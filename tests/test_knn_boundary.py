"""kNN ball-boundary regression (VERDICT r1 §wrong-2): certification must
be strict — a candidate at exactly distance R*S cannot certify a point,
because the tie-break against a hypothetical unseen equidistant place
with a smaller place_id could not be proven.  Points with boundary-exact
k-th candidates must fall back to brute force and still produce the
brute-force answer.  Also covers negative coordinates (floor bucketing).
"""

import pytest

from pydriosm_spark.operators import knn

S, R = 10, 2  # cell size, disk radius -> ball radius R*S = 20


def _knn_pairs(df):
    return {
        (r["doc_id"], r["mention_idx"], r["rank"]): (r["place_id"], r["d2"])
        for r in df.collect()
    }


@pytest.fixture(scope="module")
def boundary_case(spark):
    # point P0 at origin; its nearest place sits at EXACTLY distance R*S
    # (d2 = 400) on the ball boundary; next places just outside.
    # point P1 at (-35, -35): negative coords exercise floor bucketing.
    points = spark.createDataFrame(
        [(0, 0, 0, 0), (1, 0, -35, -35)],
        "doc_id long, mention_idx long, u long, v long",
    )
    places = spark.createDataFrame(
        [
            (1, 20, 0),     # d(P0) = 20 exactly (boundary)
            (2, 21, 0),     # d(P0) = 21 (outside ball)
            (3, 0, 22),     # d(P0) = 22
            (4, -35, -30),  # d(P1) = 5
            (5, -40, -35),  # d(P1) = 5 (tie on d2 -> place_id order)
            (6, -100, -100),  # far from both
        ],
        "place_id long, pu long, pv long",
    )
    return points, places


def test_boundary_exact_candidate_matches_bruteforce(spark, boundary_case):
    points, places = boundary_case
    got = _knn_pairs(knn.knn_cell(spark, points, places, k=2, cell_size=S, disk_radius=R))
    want = _knn_pairs(knn.knn_bruteforce(points, places, k=2))
    assert got == want
    # P0's top-1 is the boundary-exact place
    assert got[(0, 0, 1)] == (1, 400)
    # P1 tie at d2=25 broken by smaller place_id
    assert got[(1, 0, 1)] == (4, 25)
    assert got[(1, 0, 2)] == (5, 25)


@pytest.mark.parametrize(
    "radius,blocks",
    [(2, 4), (3, 4), (4, 5), (4, 6)],
)
def test_simhash_pairs_complete_within_radius(spark, radius, blocks):
    """Pigeonhole completeness at TUNABLE radius: with composite
    (blocks - radius)-subset keys, simhash_pairs must find EVERY pair
    whose signatures are within Hamming distance ``radius`` (brute-force
    verified on a corpus engineered to contain near-identical docs)."""
    from pydriosm_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog near the old stone bridge"
    docs = [(0, base)]
    for i in range(1, 20):
        # small token edits => signatures within a few bits of the base
        toks = base.split()
        toks[i % len(toks)] = f"w{i}"
        docs.append((i, " ".join(toks)))
    docs += [(100 + i, f"completely different text number {i} about topic {i * 7}")
             for i in range(10)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signature(df).collect()}
    want = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin(sigs[a] ^ sigs[b]).count("1") <= radius:
                want.add((a, b))
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_pairs(df, radius=radius, blocks=blocks).collect()
    }
    assert len(want) >= (10 if radius >= 3 else 3)  # genuine near-dups
    assert set(got) == want, (len(got), len(want))
    for (a, b), h in got.items():
        assert h == bin(sigs[a] ^ sigs[b]).count("1")


def test_simhash_pairs_rejects_bad_radius():
    from pydriosm_spark.operators import dedup

    with pytest.raises(ValueError, match="radius"):
        dedup.simhash_key_subsets(4, 4)
    with pytest.raises(ValueError, match="divide"):
        dedup.simhash_key_subsets(2, 7)


def test_boundary_point_is_uncertified(spark, boundary_case):
    """The strict < must route P0 (k-th candidate exactly at R*S) through
    the fallback: with k=1 its only in-ball candidate count is 0."""
    points, places = boundary_case
    from pyspark.sql import functions as F

    p0 = points.filter(F.col("doc_id") == 0)
    out = _knn_pairs(knn.knn_cell(spark, p0, places, k=1, cell_size=S, disk_radius=R))
    assert out == {(0, 0, 1): (1, 400)}


def test_knn_cell_shuffle_form_equals_broadcast(spark):
    """broadcast_places=False (the large-place-side plan: shuffle join on
    the derived cell keys) must produce exactly the broadcast form's
    result — and the plan must actually drop the broadcast."""
    from pydriosm_spark.functions import extract
    from pydriosm_spark.sources import synth
    from tests.conftest import SF_SMOKE

    points = extract.extract_mentions(synth.webpages(spark, SF_SMOKE))
    places = synth.places_df(spark)
    a = knn.knn_cell(spark, points, places, k=3).toPandas()
    b_df = knn.knn_cell(spark, points, places, k=3, broadcast_places=False)
    # ADVICE r3: the flag must reach the uncertified-point fallback too —
    # no join anywhere in the plan (probe OR brute-force residual cross
    # join) may carry a broadcast HINT that would override Spark's size
    # statistics once the place side outgrows an executor.  (At fixture
    # scale Spark may still auto-broadcast from stats — that's the
    # planner's call, which honest stats at 2M+ places would flip.)
    p = b_df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in p, p[:3000]
    b = b_df.toPandas()
    key = ["doc_id", "mention_idx", "rank"]
    import pandas as pd

    pd.testing.assert_frame_equal(
        a.sort_values(key).reset_index(drop=True),
        b.sort_values(key).reset_index(drop=True),
    )


def test_auto_cell_size_clustering_correction(spark):
    """r5 caveat closure: bbox-average density under-reads hotspots.
    90% of places packed into a tiny corner of a huge bbox must yield a
    SMALLER auto cell size than the same count spread uniformly — the
    weighted-median occupancy pass reads the hotspot density — while
    knn_cell(auto) stays exact vs brute force on the clustered set."""
    import random

    rng = random.Random(7)
    hot = [(i, rng.randrange(0, 200), rng.randrange(0, 200)) for i in range(900)]
    sparse = [
        (900 + i, rng.randrange(0, 100_000), rng.randrange(0, 100_000))
        for i in range(100)
    ]
    clustered = spark.createDataFrame(
        hot + sparse, "place_id long, pu long, pv long"
    )
    uniform = spark.createDataFrame(
        [(i, rng.randrange(0, 100_000), rng.randrange(0, 100_000)) for i in range(1000)],
        "place_id long, pu long, pv long",
    )
    s_clustered = knn.auto_cell_size(clustered, k=3, disk_radius=1)[0]
    s_uniform = knn.auto_cell_size(uniform, k=3, disk_radius=1)[0]
    assert s_clustered < s_uniform // 4, (s_clustered, s_uniform)

    pts = spark.createDataFrame(
        [(i, 0, rng.randrange(0, 1000), rng.randrange(0, 1000)) for i in range(40)],
        "doc_id long, mention_idx long, u long, v long",
    )
    got = _knn_pairs(knn.knn_cell(spark, pts, clustered, k=3, cell_size="auto"))
    want = _knn_pairs(
        knn.knn_bruteforce(pts, clustered, k=3, point_keys=["doc_id", "mention_idx"])
    )
    assert got == want


def test_auto_cell_size_ball_invariant_across_disk_radius(spark):
    """Fix for the pass-2 discreteness floor: on uniform data the
    certification BALL (radius R*S) must come out roughly the same size
    whatever disk_radius is — before the 2R-scaled trial grid, R>=2 with
    small k read occupancy 1 everywhere and shrank the ball ~12x,
    collapsing auto-sized knn_cell to the brute-force fallback."""
    import random

    rng = random.Random(11)
    places = spark.createDataFrame(
        [(i, rng.randrange(0, 100_000), rng.randrange(0, 100_000)) for i in range(2000)],
        "place_id long, pu long, pv long",
    )
    balls = {
        r: r * knn.auto_cell_size(places, k=1, disk_radius=r)[0] for r in (1, 2, 4)
    }
    for r in (2, 4):
        ratio = balls[r] / balls[1]
        assert 0.5 <= ratio <= 2.0, balls


@pytest.mark.parametrize("threshold", [4096, 3])
def test_knn_auto_decides_with_its_index_pull(spark, boundary_case, threshold):
    """knn_auto equals the CartesianProduct brute force on both sides of
    its threshold; below it, the one Arrow pull that decides is also the
    broadcast index (one job, no count)."""
    points, places = boundary_case
    sc, group = spark.sparkContext, f"knn_auto_plan_{threshold}"
    sc.setJobGroup(group, "knn_auto planning")
    try:
        got = knn.knn_auto(spark, points, places, k=2, broadcast_nlj_threshold=threshold,
                           cell_size=S, disk_radius=R)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _knn_pairs(got) == _knn_pairs(knn.knn_bruteforce(points, places, k=2, broadcast=False))
    if threshold == 4096:  # the 6 places take the brute-force branch
        assert len(jobs) == 1, jobs


def test_knn_auto_counts_the_place_side_once(spark, boundary_case):
    """Past the threshold the ``"auto"`` cell sizing's count also decides
    ``broadcast_places``: knn_auto's jobs are its index pull, the sizing's
    and knn_cell's own, with no separate count of the place side; with a
    fixed cell size and ``broadcast_places`` passed, nothing is counted."""
    points, places = boundary_case
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, "knn_auto planning")
        try:
            out = fn()
            return out, len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    (cs, n), sizing = jobs("knn_sizing", lambda: knn.auto_cell_size(places, 2, 1))
    assert n == 6
    _, cell = jobs("knn_cell_auto", lambda: knn.knn_cell(
        spark, points, places, k=2, cell_size=cs, disk_radius=1))
    got, auto = jobs("knn_auto_auto", lambda: knn.knn_auto(
        spark, points, places, k=2, broadcast_nlj_threshold=3))
    _, cell_fixed = jobs("knn_cell_fixed", lambda: knn.knn_cell(
        spark, points, places, k=2, cell_size=S, disk_radius=R, broadcast_places=False))
    _, fixed = jobs("knn_auto_fixed", lambda: knn.knn_auto(
        spark, points, places, k=2, broadcast_nlj_threshold=3, cell_size=S, disk_radius=R,
        broadcast_places=False))
    assert (auto, fixed) == (1 + sizing + cell, 1 + cell_fixed)
    assert _knn_pairs(got) == _knn_pairs(knn.knn_bruteforce(points, places, k=2, broadcast=False))
