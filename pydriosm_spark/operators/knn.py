"""kNN join via cell-disk expansion (plus a brute-force baseline).

Both operate on integer planar coordinates (units of 1e-5 degree in our
fixtures) so distances are exact integers — ``d2 = (u-pu)^2 + (v-pv)^2``
— and results are bit-stable across engines and parallelism levels.
Ties break deterministically on ``(d2, place_id)``.

``knn_bruteforce`` — exact top-k against the whole place side.  With
``broadcast=True`` (the plan for |places| up to ~10^4 even at 100 TB of
points) the place side, pulled once as Arrow, ships as a task broadcast
into the shared tiled top-k kernel (operators/topk.py): query-row tiles
of ``TILE_ELEMS // |places|`` rows, partition-select + id tie-break per
tile, zero shuffles.  ``broadcast=False`` keeps the JVM block-partitioned
CartesianProduct + WindowGroupLimit window for place sides too big to
ship.

``knn_cell`` — the scale path for large place sets, exact:

1. **Disk probe** — bucket places into grid cells of size S
   (``cell_size="auto"`` sizes S from place density so the
   certification ball of radius R*S holds ~4k places; R defaults to 1,
   a 9-cell probe).  Each point explodes the (2R+1)^2 cell-offset array
   of its Chebyshev R-disk PLUS one NULL marker offset and LEFT-joins
   the place buckets — the marker row never matches, giving every point
   a sentinel through the top-k window (r6).  A point is *certified* if
   it has >= k candidates with distance < (R*S)^2 — every unseen place
   sits in cell-ring > R, hence at distance > R*S.  The rank<=k filter
   rewrites to a partial+final WindowGroupLimit, so only <= k rows per
   point cross the window exchange, and the certification count rides
   the same exchange.
2. **Fallback** — uncertified points (present in the same materialized
   top-k thanks to the sentinel, coordinates included) go through the
   brute-force path.  Exactness is unconditional; S and R only tune how
   much traffic takes the cheap path.

Skew: points concentrate in hot cells, but the probe join key is the
*place* bucket and the place side is broadcast by default
(``knn_auto`` keeps it so up to ``topk.MAX_INDEX_ROWS`` places).  With
``broadcast_places=False`` both sides shuffle on the bucket without
salting; AQE's skew-join splitting (on in the session factory) is then
the only guard against a hot bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pydriosm_spark.operators import topk


def _topk(cand: DataFrame, point_keys: list[str], k: int) -> DataFrame:
    w = Window.partitionBy(*point_keys).orderBy(F.col("d2").asc(), F.col("place_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*point_keys, "rank", "place_id", "d2")
    )


def _with_d2(df: DataFrame, u: str, v: str) -> DataFrame:
    return df.withColumn(
        "d2",
        (F.col(u) - F.col("pu")) * (F.col(u) - F.col("pu"))
        + (F.col(v) - F.col("pv")) * (F.col(v) - F.col("pv")),
    )


def knn_bruteforce(
    points: DataFrame,
    places: DataFrame,
    k: int = 3,
    point_keys: list[str] | None = None,
    u: str = "u",
    v: str = "v",
    broadcast: bool = True,
) -> DataFrame:
    """Exact top-k places per point: (point_keys, rank, place_id, d2),
    ordered as ``ORDER BY d2, place_id``.  ``place_id`` must be unique
    on the place side and ``point_keys`` unique on the point side.

    ``broadcast=True``: the place side (at most ``topk.MAX_INDEX_ROWS``
    rows, raises beyond) is pulled once as Arrow, sorted by place_id
    and shipped as a task broadcast; each Arrow batch of points is
    ranked by the shared tiled top-k kernel (:mod:`.topk`) on exact
    integer d2, with no shuffle.  Per-task memory is a few
    ``topk.TILE_ELEMS``-element tiles at any batch and place count.

    ``broadcast=False`` keeps the JVM block-partitioned CartesianProduct
    + WindowGroupLimit plan — required when |places| exceeds executor
    memory (knn_cell's uncertified-point fallback threads its
    ``broadcast_places`` flag here so a >2M-place side is never
    broadcast, ADVICE r3)."""
    point_keys = point_keys or ["doc_id", "mention_idx"]
    if not broadcast:
        cand = _with_d2(points.crossJoin(places), u, v)
        return _topk(cand, point_keys, k)
    index = places.select("place_id", "pu", "pv")
    return _broadcast_topk(points, index, topk.pull_index(index, "place_id"), k, point_keys, u, v)


def _broadcast_topk(
    points: DataFrame,
    index: DataFrame,
    t,
    k: int,
    point_keys: list[str] | None = None,
    u: str = "u",
    v: str = "v",
) -> DataFrame:
    """The broadcast brute force: ``t`` is ``index`` (place_id, pu, pv)
    pulled as a pyarrow Table sorted by place_id."""
    import numpy as np
    import pandas as pd

    bc = points.sparkSession.sparkContext.broadcast(
        (
            t["place_id"].to_numpy(),  # keeps the declared place_id width
            t["pu"].to_numpy().astype(np.int64),
            t["pv"].to_numpy().astype(np.int64),
        )
    )
    point_keys = point_keys or ["doc_id", "mention_idx"]
    place_t = dict(index.dtypes)["place_id"]
    src = points.select(*point_keys, u, v)
    key_types = dict(src.dtypes)
    schema = (
        ", ".join(f"`{c}` {key_types[c]}" for c in point_keys)
        + f", rank int, place_id {place_t}, d2 long"
    )

    def kern(batches):
        sids, spu, spv = bc.value
        for b in batches:
            uu = b[u].to_numpy().astype(np.int64)
            vv = b[v].to_numpy().astype(np.int64)

            def d2(lo, hi):
                du = uu[lo:hi, None] - spu
                du *= du
                dv = vv[lo:hi, None] - spv
                dv *= dv
                du += dv
                return du

            rows, rank, col, dist = topk.batch_topk(len(b), len(sids), k, d2)
            if len(rows):
                out = {pk: b[pk].to_numpy()[rows] for pk in point_keys}
                yield pd.DataFrame({**out, "rank": rank, "place_id": sids[col], "d2": dist})

    return src.mapInPandas(kern, schema)


def auto_cell_size(places: DataFrame, k: int, disk_radius: int) -> tuple[int, int]:
    """(cell size, place count): derive the disk-probe cell size from
    PLACE DENSITY (VERDICT r4 item 7): size the certification ball
    (radius R*S) to hold ~4k places, so a typical point certifies on the
    cheap path instead of falling through to brute force.  The count is
    pass 1's, returned so a caller needs no second count of the side.
    Two tiny exact aggregates — deterministic across runs and
    parallelism, and the RESULT is invariant to S (S only picks the
    plan), so oracles are untouched by construction.

    Pass 1 (count + bbox) gives the uniform-density estimate S0.  Pass
    2 corrects for CLUSTERING (r5 caveat: bbox-average density under-
    reads hotspots, oversizing cells and exploding hotspot candidate
    lists): it measures the PLACE-WEIGHTED median cell occupancy at a
    trial grid of 2x the ball radius — "how dense is the neighbourhood
    a typical place sits in" — and re-solves the ball equation against
    that local density.  On uniform data the weighted median equals the mean and
    the correction is a fixed point (S == S0); on clustered data it
    reads the hotspot density and shrinks S accordingly.  Points in
    genuinely empty regions still take the exact fallback — no single
    S can fix that — but hotspot probes stay ~4k candidates."""
    import math

    r = places.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("pu").alias("u0"), F.max("pu").alias("u1"),
        F.min("pv").alias("v0"), F.max("pv").alias("v1"),
    ).toArrow().to_pylist()[0]
    n = int(r["n"] or 0)
    if n == 0:
        return 1, 0
    area = max(1, int(r["u1"]) - int(r["u0"])) * max(1, int(r["v1"]) - int(r["v0"]))
    # pi*(R*S)^2 * n/area >= 4k  ->  (R*S)^2 >= 4k*area/(pi*n); pi ~ 3
    rs2 = max(1, (4 * k * area) // max(1, 3 * n))
    s0 = max(1, math.isqrt(rs2) // max(1, disk_radius) + 1)

    # pass 2: place-weighted median occupancy at the trial grid —
    # "the cell of the median place", not "the median occupied cell"
    # (which would under-read density on sparse grids where most cells
    # hold 1).  NOT Spark's percentile() aggregate: that collects every
    # per-cell count into one group's memory (OOM at 10^8 places).
    # Instead a second hash-agg folds cells into a (occupancy ->
    # place-weight) histogram — rows bounded by the number of DISTINCT
    # occupancy values, which a counting argument caps at
    # ~sqrt(2 * |places|) — and the driver walks that tiny histogram.
    # Trial cell = 2 * ball radius, NOT s0 itself: at s0 the expected
    # occupancy is 4k/(3 R^2), which for disk_radius >= 2 (or k = 1)
    # drops below ~1 — every occupied cell then reads 1, the median
    # over-reads density by the discreteness floor, and the ball
    # shrinks until uniform data falls back to brute force.  At
    # t = 2*R*s0 the uniform expectation is 16k/3 >= 5 for any (k, R),
    # safely above the floor, and the fixed-point algebra is unchanged
    # (m = d*t^2  ->  rs2 = 4k*t^2/(3m) = 4k/(3d) = (R*s0)^2).
    t = 2 * max(1, disk_radius) * s0
    # no .orderBy: the histogram is <= ~sqrt(2N) rows and the walk below
    # needs it sorted anyway — sorting driver-side removes a whole
    # range-partitioning exchange from every auto-sized call (r6)
    hist = sorted(
        places.groupBy(
            F.floor(F.col("pu") / t).alias("__cx"),
            F.floor(F.col("pv") / t).alias("__cy"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("cnt")
        .agg(F.sum("cnt").alias("w"))
        .toArrow()
        .to_pylist(),
        key=lambda r: r["cnt"],
    )
    total = sum(r["w"] for r in hist)
    half, acc, m = (total + 1) // 2, 0, 1
    for r in hist:
        acc += r["w"]
        if acc >= half:
            m = int(r["cnt"])
            break
    m = max(1, m)
    # local density ~ m / t^2; solve 3*(R*S)^2 * m / t^2 >= 4k
    rs2 = max(1, (4 * k * t * t) // (3 * m))
    return max(1, math.isqrt(rs2) // max(1, disk_radius) + 1), n


def _disk_probe_topk(
    cand: DataFrame, point_keys: list[str], k: int, u: str = "u", v: str = "v"
) -> DataFrame:
    """In-ball candidates (+ one NULL-place sentinel per point) -> per-point
    truncated top-k with the in-ball count: (point_keys, u, v, rank,
    place_id, d2, __n_ball) where rank <= k and __n_ball = min(#candidates
    with d2 < bound, k).  The rank<=k filter is a PURE rank predicate so
    InferWindowGroupLimit rewrites it into a (partial + final)
    WindowGroupLimit — the per-group truncation happens map-side before
    the exchange; the count window then rides the same exchange + sort
    over the truncated rows (plan-locked in tests/test_plans.py).
    Sentinel rows (NULL place_id / d2) sort last and are excluded from
    the count, so __n_ball is exactly the in-ball candidate count capped
    at k.  ``cand`` must already be restricted to d2 < bound (plus the
    sentinels) — the filter lives in the caller so the sentinel union
    sits between them."""
    w = Window.partitionBy(*point_keys).orderBy(
        F.col("d2").asc_nulls_last(), F.col("place_id").asc_nulls_last()
    )
    wall = Window.partitionBy(*point_keys)
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("__n_ball", F.count("place_id").over(wall))
        .select(*point_keys, u, v, "rank", "place_id", "d2", "__n_ball")
    )


def knn_cell(
    spark: SparkSession,
    points: DataFrame,
    places: DataFrame,
    k: int = 3,
    cell_size: int | str = "auto",
    disk_radius: int = 1,
    point_keys: list[str] | None = None,
    u: str = "u",
    v: str = "v",
    broadcast_places: bool = True,
) -> DataFrame:
    """Exact kNN join: disk-probe equi-join + brute-force fallback.

    ``cell_size="auto"`` (default since r5) sizes the grid from place
    density (:func:`auto_cell_size`) so the certification ball (radius
    ``disk_radius * S``) holds ~4k places; any int pins the size
    explicitly.  ``disk_radius`` defaults to 1 since r5: with auto
    sizing the ball is the invariant, and R=1 emits a 9-cell probe
    instead of R=2's 25 — at billions of points the explode factor
    dominates the (slightly) larger candidate square.  Results are
    exact for EVERY (cell_size, disk_radius): the knobs only pick the
    plan, the fallback guarantees the answer.

    ``broadcast_places=False`` drops the broadcast hint so the disk
    probe runs as a shuffle join on the derived cell keys — required
    once the place side outgrows an executor (the equality condition
    ``cx + dx == pcx`` is key-extractable, so Catalyst plans a regular
    hash/sort-merge join; equivalence-tested against the broadcast
    form).  The flag threads into the uncertified-point fallback too:
    ``knn_bruteforce(..., broadcast=False)`` runs the residual cross
    join as a partitioned CartesianProduct rather than broadcasting a
    place side the flag says is too big (ADVICE r3)."""
    point_keys = point_keys or ["doc_id", "mention_idx"]
    if cell_size == "auto":
        cell_size, _ = auto_cell_size(places, k, disk_radius)
    S, R = int(cell_size), int(disk_radius)

    placed = places.select(
        "place_id", "pu", "pv",
        F.floor(F.col("pu") / S).alias("pcx"),
        F.floor(F.col("pv") / S).alias("pcy"),
    )

    pts = points.select(
        *point_keys,
        F.col(u).alias("__u"),
        F.col(v).alias("__v"),
        F.floor(F.col(u) / S).alias("__cx"),
        F.floor(F.col(v) / S).alias("__cy"),
    )

    # The (2R+1)^2 probe offsets PLUS one NULL "marker" offset per point:
    # a NULL join key can never match, so under the LEFT join each point
    # emits exactly one unmatched marker row — its sentinel — in the SAME
    # pass as the probe (r6; a separate sentinel branch re-scanned the
    # point side).  Unmatched real-offset rows (probe cells with no
    # places) are pruned by the filter below before anything is sorted.
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in range(-R, R + 1)
            for dy in range(-R, R + 1)
        ],
        F.struct(
            F.lit(None).cast("int").alias("dx"), F.lit(None).cast("int").alias("dy")
        ),
    )
    probe = pts.withColumn("__o", F.explode(offsets))
    placed_side = F.broadcast(placed) if broadcast_places else placed
    cand = _with_d2(
        probe.join(
            placed_side,
            (F.col("__cx") + F.col("__o.dx") == F.col("pcx"))
            & (F.col("__cy") + F.col("__o.dy") == F.col("pcy")),
            "left",
        ).select(
            *point_keys,
            F.col("__u").alias(u),
            F.col("__v").alias(v),
            F.col("__o.dx").alias("__dx"),
            "place_id",
            "pu",
            "pv",
        ),
        u,
        v,
    )

    # Certification rides the top-k window (r5), and since r6 the rank
    # filter is a PURE rank<=k predicate so Catalyst's InferWindowGroupLimit
    # rewrite fires: a partial per-group top-k runs map-side BEFORE the
    # exchange (candidates of one point are partition-local — the explode
    # kept them together), so the shuffle and sort carry <= k rows per
    # point instead of the full in-ball candidate set (guide §2.3: shuffle
    # fewer bytes).  A point is certified iff it has >= k candidates
    # STRICTLY inside the ball of radius R*S (anything unseen is outside
    # the R-disk, hence at distance > R*S) — equivalently, iff its
    # truncated top-k holds exactly k in-ball rows.  Strict < at the
    # boundary: a candidate at exactly R*S cannot be proven to beat an
    # unseen place's (d2, place_id) tie-break, so such points take the
    # exact brute-force fallback instead.  The count window reuses the
    # rank window's exchange and sort (same partition keys).
    #
    # The sentinel union (r6) keeps EVERY point visible to the window —
    # one NULL-place row per point, sorting after any real candidate —
    # so the uncertified points fall out of the same materialized top-k
    # WITH their coordinates.  The r5 shape instead re-scanned the whole
    # point side and anti-joined it against the certified keys (a second
    # pass over the fact table + an exchange of every point, guide §2.4),
    # and executed the probe+window subtree once per union branch.
    bound = (R * S) * (R * S)
    inball = cand.filter(
        (F.col("__dx").isNotNull() & (F.col("d2") < bound)) | F.col("__dx").isNull()
    ).select(*point_keys, u, v, "place_id", "d2")
    nn = _disk_probe_topk(inball, point_keys, k, u=u, v=v)
    # materialize ONCE: the fast branch and the fallback both consume
    # this (<= k rows per point, i.e. output-sized); without it the whole
    # explode+join+window subtree executes twice — once per union branch
    # (measured: the two subtrees were the bulk of the r5 wall time at
    # sf0.1).
    nn = nn.localCheckpoint(eager=True)
    fast = nn.filter(F.col("__n_ball") >= k).select(*point_keys, "rank", "place_id", "d2")

    slow_pts = nn.filter((F.col("rank") == 1) & (F.col("__n_ball") < k)).select(
        *point_keys, u, v
    )
    slow = knn_bruteforce(
        slow_pts, places, k=k, point_keys=point_keys, u=u, v=v,
        broadcast=broadcast_places,
    )
    return fast.unionByName(slow)


def knn_auto(
    spark: SparkSession,
    points: DataFrame,
    places: DataFrame,
    k: int = 3,
    broadcast_nlj_threshold: int = 4096,
    **kw,
) -> DataFrame:
    """Adaptive dispatch on |places|: up to ``broadcast_nlj_threshold``
    places the broadcast brute force (:func:`knn_bruteforce`, the tiled
    numpy top-k kernel — no explode, no shuffle) beats the cell path;
    above it the disk-probe plan (:func:`knn_cell`) takes over; and past
    ``topk.MAX_INDEX_ROWS`` places the probe join and its fallback stop
    broadcasting (shuffle join on the derived cell keys, CartesianProduct
    fallback).

    The decision rides the index pull (:func:`topk.pull_index` with
    ``limit=broadcast_nlj_threshold``): one Arrow collect of at most
    ``broadcast_nlj_threshold + 1`` places either is the brute force's
    broadcast index or shows the place side is large, and only then is
    it counted: once, by the ``"auto"`` cell sizing, whose count also
    sets ``broadcast_places`` unless the caller passed it.  The pull
    stays under the gate: a threshold above ``topk.MAX_INDEX_ROWS`` with
    a place side past the gate raises, as the brute force's own pull
    does."""
    index = places.select("place_id", "pu", "pv")
    t = topk.pull_index(index, "place_id", limit=broadcast_nlj_threshold)
    if t is not None:
        return _broadcast_topk(
            points, index, t, k,
            **{k_: v for k_, v in kw.items() if k_ in ("point_keys", "u", "v")},
        )
    n = None
    if kw.get("cell_size", "auto") == "auto":
        kw["cell_size"], n = auto_cell_size(places, k, kw.get("disk_radius", 1))
    if "broadcast_places" not in kw:
        kw["broadcast_places"] = (places.count() if n is None else n) <= topk.MAX_INDEX_ROWS
    return knn_cell(spark, points, places, k=k, **kw)
