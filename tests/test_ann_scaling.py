"""ANN selectivity at scale: the SELF-SIZED plane/list counts keep the
candidate set sub-quadratic while guided multi-probe holds recall.
Found in round 2: at 8k vectors a fixed 6-plane default (64 buckets)
degenerated toward all-pairs — ANN ran 40x SLOWER than brute force.
Round 3: ``sized_lsh_planes`` / ``sized_ivf_params`` derive the knobs
from N at call time (and the oracles re-derive them from count(*) in
SQL), so no manual sizing exists to get wrong."""

import time

import pytest
from pyspark.sql import functions as F

from pydriosm_spark.operators import similarity

N_REPL = 4  # 2000 -> 8000 distinct vectors


def _replicated(spark, n_repl):
    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    n = emb.count()
    return (
        emb.withColumn("rep", F.explode(F.expr(f"sequence(0, {n_repl - 1})")))
        .withColumn(
            "embedding",
            F.expr(
                "transform(embedding, (x, i) -> x + CAST(rep AS FLOAT) * 0.01 "
                "* CAST((i % 7) - 3 AS FLOAT))"
            ),
        )
        .withColumn("vec_id", F.col("vec_id") + F.col("rep") * n)
        .drop("rep")
        .repartition(32)
        .cache()
    )


@pytest.fixture(scope="module")
def emb8k(spark):
    out = _replicated(spark, N_REPL)
    out.count()
    return out


@pytest.fixture(scope="module")
def exact8k(spark, emb8k):
    """Brute-force ground-truth pairs, computed once for both recall
    tests."""
    exact = similarity.cosine_topk_bruteforce(spark, emb8k).toPandas()
    return set(map(tuple, exact[["vec_id", "neighbor_id"]].itertuples(index=False)))


def _lsh_cand_count(emb, n_planes):
    b = similarity.lsh_buckets(emb, n_planes=n_planes)
    a = similarity.lsh_buckets(emb, n_planes=n_planes, n_guided=similarity.N_GUIDED)
    a = a.select(F.col("vec_id").alias("qid"), "table", "bucket")
    c = b.select(F.col("vec_id").alias("nid"), "table", "bucket")
    return (
        a.join(c, ["table", "bucket"])
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
        .distinct()
        .count()
    )


def test_sizing_rules_are_monotone_and_bounded():
    """The pure arithmetic of the rules, across 9 decades."""
    prev = 0
    for n in (10, 100, 500, 8_000, 100_000, 10**6, 10**9, 10**12):
        p = similarity.sized_lsh_planes(n)
        assert 3 <= p <= similarity.MAX_PLANES
        assert p >= prev
        prev = p
        nl, npb, budget = similarity.sized_ivf_params(n)
        assert nl & (nl - 1) == 0  # power of two
        assert npb <= nl and npb >= min(nl, 8)
        assert budget >= similarity.IVF_BUDGET_FLOOR
        # build cost stays O(N * 4 sqrt N): lists capped at 4 * 2^(lg N / 2)
        assert nl <= 4 * (1 << (similarity.ceil_log2(n) // 2)) or nl == 4
    assert similarity.sized_lsh_planes(500) == 3
    assert similarity.sized_lsh_planes(8_000) == 7
    assert similarity.sized_lsh_planes(100_000) == 11
    assert similarity.sized_ivf_params(500) == (16, 8, 256)
    assert similarity.sized_ivf_params(8_000) == (256, 16, 256)
    assert similarity.sized_ivf_params(100_000) == (1024, 64, 3125)


def test_sized_planes_keep_candidates_subquadratic(spark, emb8k):
    """At 8k vectors the sized rule (7 planes + guided probes) must keep
    the candidate join well under all-pairs."""
    n = emb8k.count()
    all_pairs = n * (n - 1)
    c_sized = _lsh_cand_count(emb8k, similarity.sized_lsh_planes(n))
    # measured (decorrelated planes, r4): ~42.5% of DISTINCT pairs on
    # this 55%-near-dup corpus — the collision mass is DATA-bound
    # (mutually similar vectors genuinely co-bucket); absolute economics
    # are pinned by the uniform 1M gate below, and hostile density by
    # the cap gate.
    assert c_sized < 0.5 * all_pairs, (c_sized, all_pairs)


def test_sized_ivf_holds_recall(spark, emb8k, exact8k):
    """Self-sized two-stage IVF (256 lists / rank-16 probe / 256-candidate
    budget at 8k, VERDICT r4 item 6) keeps recall >= 0.8 while re-ranking
    < 5% of the corpus per query (was 12.5% with the fixed nl//8 probe)."""
    t0 = time.time()
    approx = similarity.cosine_topk_ivf(spark, emb8k).toPandas()
    t_sized = time.time() - t0
    a = set(map(tuple, approx[["vec_id", "neighbor_id"]].itertuples(index=False)))
    recall = len(exact8k & a) / len(exact8k)
    assert recall >= 0.8, recall
    # scan economics: distinct candidates per query / corpus < 5%
    n = emb8k.count()
    cand = similarity.ivf_candidate_pairs(spark, emb8k).count()
    frac = cand / n / n
    assert frac < 0.05, (cand, frac)
    # generous ceiling: box noise is 2-3x and time-localized — the load-
    # bearing gates are recall and the candidate economics, not wall time
    assert t_sized < 300, t_sized


def test_sized_planes_hold_recall_and_beat_degenerate_runtime(spark, emb8k, exact8k):
    # max_bucket=None: this gates the UNCAPPED recall floor (the
    # exact-oracle registry path); the default ("auto") on this clustered
    # corpus triggers the cap, gated separately below.
    t0 = time.time()
    approx = similarity.cosine_topk_lsh(spark, emb8k, max_bucket=None).toPandas()
    t_sized = time.time() - t0
    a = set(map(tuple, approx[["vec_id", "neighbor_id"]].itertuples(index=False)))
    recall = len(exact8k & a) / len(exact8k)
    # numpy prototype measured 0.837 at 7 planes / guided-3 on this corpus
    assert recall >= 0.8, recall
    assert t_sized < 300, t_sized  # 6-plane blind measured ~99s; see above


def test_lsh_no_degeneration_at_100k(spark):
    """The 100k-vector gate, measured ANALYTICALLY (probe rows joined to
    bucket sizes, summed = exact pre-distinct emission count of the
    bucket join) so no pairs materialize and the test runs in seconds.

    Two claims:
    1. self-sized planes keep the bucket join's fan-out a few percent of
       the unbucketed (all-pairs) join even on this ADVERSARIALLY
       clustered corpus (50 near-identical replicas per base vector:
       measured 13% of all vectors hash into ONE bucket, so fan-out is
       skew-bound, not size-bound);
    2. the max_bucket viral-bucket cap bounds per-query work at
       probes * tables * cap regardless of that skew — the graceful
       degradation knob for hostile density at 100 TB.
    """
    emb = _replicated(spark, 50).cache()  # 100k vectors
    n = emb.count()
    assert n == 100_000
    sized = similarity.sized_lsh_planes(n)
    assert sized == 11
    t0 = time.time()
    b = similarity.lsh_buckets(emb, n_planes=sized)
    probes = similarity.lsh_buckets(emb, n_planes=sized, n_guided=similarity.N_GUIDED)
    sizes = b.groupBy("table", "bucket").count()
    fanout = (
        probes.join(sizes, ["table", "bucket"])
        .agg(F.sum("count").alias("emissions"))
        .collect()[0][0]
    )
    # unbucketed form of the same join = every probe row x every vector.
    # measured 7.2% with the r4 decorrelated planes (the old lattice
    # planes packed the replicas into fewer, larger buckets: smaller
    # total fan-out, far worse p99 — the cap below is the real guard)
    unbucketed = (7 * similarity.N_TABLES) * n * n
    assert fanout < 0.10 * unbucketed, (fanout, unbucketed)

    cap = 256
    capped_sizes = sizes.withColumn(
        "count", F.least(F.col("count"), F.lit(cap))
    )
    capped = (
        probes.join(capped_sizes, ["table", "bucket"])
        .agg(F.sum("count").alias("emissions"))
        .collect()[0][0]
    )
    dt = time.time() - t0
    assert capped / n <= 7 * similarity.N_TABLES * cap, capped / n
    assert dt < 240, dt
    emb.unpersist()


def test_lsh_bucket_cap_preserves_recall_at_8k(spark, emb8k, exact8k):
    """The viral-bucket cap's recall trade: an explicit 256 cap on this
    clustered 8k corpus keeps recall within a few points of uncapped
    (dense buckets are mutually-similar vectors, so the deterministic
    prefix still supplies good candidates).  Uncapped keeps the 0.8
    floor (tested above); the cap's floor is the documented
    graceful-degradation trade."""
    approx = similarity.cosine_topk_lsh(spark, emb8k, max_bucket=256).toPandas()
    a = set(map(tuple, approx[["vec_id", "neighbor_id"]].itertuples(index=False)))
    recall = len(exact8k & a) / len(exact8k)
    assert recall >= 0.75, recall


def _viral_corpus(spark, n_base: int = 16, n_repl: int = 500):
    """A hostile density profile: n_base well-separated base vectors,
    each replicated n_repl times with tiny jitter — every base's replica
    set lands in ONE bucket (~n_repl members), far above 4x target."""
    import pandas as pd

    @F.pandas_udf("array<float>")
    def vec(id_s: pd.Series) -> pd.Series:
        import numpy as np

        ids = id_s.to_numpy()
        base = ids % n_base
        rng = np.random.default_rng(0)
        bases = rng.standard_normal((n_base, 64))
        x = bases[base] + 1e-4 * rng.standard_normal((len(ids), 64))
        return pd.Series(list(x.astype(np.float32)))

    n = n_base * n_repl
    return (
        spark.range(n, numPartitions=8)
        .select(F.col("id").alias("vec_id"), vec("id").alias("embedding"))
    ), n


def test_auto_bucket_cap_triggers_on_skew_only(spark, emb8k):
    """max_bucket='auto' caps when the measured p99 bucket size exceeds
    4x the sizing target, and only then.  With the r4 decorrelated
    planes the 4x-replica corpus no longer produces giant buckets (its
    p99 sits under the threshold — evidence the trigger is genuinely
    skew-conditional, not clustering-phobic); a viral corpus (500
    near-identical replicas per base) still does."""
    viral, n = _viral_corpus(spark)
    skewed = similarity.lsh_buckets(viral, n_planes=similarity.sized_lsh_planes(n))
    assert similarity.auto_bucket_cap(skewed) == 4 * similarity.TARGET_BUCKET

    mild = similarity.lsh_buckets(emb8k, n_planes=similarity.sized_lsh_planes(8000))
    assert similarity.auto_bucket_cap(mild) is None

    raw = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    uniform = similarity.lsh_buckets(raw, n_planes=similarity.sized_lsh_planes(raw.count()))
    assert similarity.auto_bucket_cap(uniform) is None


def test_lsh_no_degeneration_at_1M(spark):
    """The 1M-vector gate (VERDICT r4 item 5), measured ANALYTICALLY
    like the 100k gate (probe rows joined to bucket sizes, summed =
    exact pre-distinct emission count — no pairs materialize).

    On a uniform corpus the self-sized rule must land where it aims:
    planes = 14 at 1M (expected bucket = 1M / 2^14 ~ 61 ~ TARGET_BUCKET)
    and candidates/query ~ tables * probes * TARGET_BUCKET — i.e. a few
    THOUSAND of the 10^6 possible neighbors, 10^-3 of all-pairs.  The
    clustered/skew behavior has its own 100k gate above; this one pins
    the sizing rule's absolute economics at index scale."""
    import pandas as pd
    from pyspark.sql import functions as F2

    @F2.pandas_udf("array<float>")
    def synth_vec(id_s: pd.Series) -> pd.Series:
        import numpy as np

        # Gaussian -> directions uniform on the sphere -> near-uniform
        # hyperplane buckets (a sin-lattice walk clusters on a curve and
        # skews buckets 30x).  Seeded by the batch's first id: stable
        # given Spark's deterministic range partitioning.
        rng = np.random.default_rng(int(id_s.iloc[0]))
        x = rng.standard_normal((len(id_s), 64))
        return pd.Series(list(x.astype(np.float32)))

    n = 1_000_000
    emb = (
        spark.range(n, numPartitions=32)
        .select(F2.col("id").alias("vec_id"), synth_vec("id").alias("embedding"))
        .cache()
    )
    assert emb.count() == n
    sized = similarity.sized_lsh_planes(n)
    assert sized == 14

    t0 = time.time()
    b = similarity.lsh_buckets(emb, n_planes=sized)
    probes = similarity.lsh_buckets(emb, n_planes=sized, n_guided=similarity.N_GUIDED)
    sizes = b.groupBy("table", "bucket").count()
    fanout = (
        probes.join(sizes, ["table", "bucket"])
        .agg(F.sum("count").alias("emissions"))
        .collect()[0][0]
    )
    dt = time.time() - t0
    emb.unpersist()

    per_query = fanout / n
    rule = 7 * similarity.N_TABLES * similarity.TARGET_BUCKET  # 3584
    # tracks the rule within hash variance (measured ~1.5x: 5.5k/query
    # against the 3.6k target) and sits orders below all-pairs
    assert 0.2 * rule < per_query < 5 * rule, (per_query, rule)
    assert fanout < 0.01 * float(n) * n, fanout
    # analytic pass stays minutes-not-hours (brute force would be 10^12
    # similarity evaluations); generous bound for box noise
    assert dt < 420, dt


def test_sized_ivf_tiny_corpora(spark):
    """n_lists never exceeds N (k-means needs k <= N): the end-to-end
    path works on corpora down to a handful of vectors."""
    from pyspark.sql import functions as F2

    for n in (1, 2, 3, 5, 10):
        nl, npb, budget = similarity.sized_ivf_params(n)
        assert 1 <= nl <= max(1, n), (n, nl)
    emb = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .orderBy("vec_id").limit(7)
    )
    out = similarity.cosine_topk_ivf(spark, emb, k=2).toPandas()
    # every vector gets neighbors (budget covers the whole tiny corpus)
    assert set(out["vec_id"].unique()) == set(
        r["vec_id"] for r in emb.select("vec_id").collect()
    )



def test_lsh_buckets_read_the_width_from_the_vectors(spark):
    """16-dimension vectors (every other test uses 64): the kernel takes
    its planes from the batch's vector width, so its base buckets and
    guided probes equal a numpy recompute over ``_planes(16, t, n)``."""
    import numpy as np
    import pandas as pd

    from pydriosm_spark.session import local_frame

    n_planes, g = 5, similarity.N_GUIDED
    vecs = np.random.default_rng(16).standard_normal((40, 16)).astype(np.float32)
    emb = local_frame(
        spark, [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    Q = similarity._qmat(pd.Series(list(vecs)))
    base, probes = set(), set()
    for t in range(similarity.N_TABLES):
        D = Q @ similarity._planes(16, t, n_planes).T  # (40, n_planes)
        bk = (D > 0).astype(np.int64) @ (1 << np.arange(n_planes))
        for i in range(len(Q)):
            base.add((i, t, int(bk[i])))
            near = sorted(range(n_planes), key=lambda p: (abs(D[i, p]), p))[:g]
            flips = [1 << p for p in near]
            flips += [flips[a] ^ flips[c] for a in range(g) for c in range(a + 1, g)]
            probes |= {(i, t, int(bk[i])), *((i, t, int(bk[i] ^ f)) for f in flips)}

    def rows(df):
        return sorted(map(tuple, df.toPandas()[["vec_id", "table", "bucket"]].to_numpy().tolist()))

    assert rows(similarity.lsh_buckets(emb, n_planes=n_planes)) == sorted(base)
    got = rows(similarity.lsh_buckets(emb, n_planes=n_planes, n_guided=g))
    assert len(got) == len(Q) * similarity.N_TABLES * (1 + g + g * (g - 1) // 2)
    assert set(got) == probes
