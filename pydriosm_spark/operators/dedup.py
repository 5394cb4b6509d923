"""Deduplication operators for the training-data pipeline:

* ``dedup_exact``      — content-hash window; canonical keeper = min id.
* ``minhash_lsh_pairs``— shingle -> banded MinHash -> per-bucket pair
  expansion -> exact n-gram Jaccard verification.  The classic near-dup
  pipeline (Broder MinHash + LSH banding) as pure DataFrame ops.
* ``simhash_pairs``    — 60-bit majority-vote SimHash over token hashes
  (token explode + one hash aggregate), searched by block-rotation
  composite keys.
* ``connected_components`` — the near-dup pair graph's clusters.

Determinism: all hashes are md5-derived (identical across engines and
partitionings); a shingle's fingerprint is its md5's first 15 hex
digits as a 60-bit int, and each MinHash band permutes it with an
integer mix (``_band_hash_sql``); Jaccard is integer-scaled.

Scale notes: dedup_exact shuffles once on the hash (bounded by distinct
content); minhash aggregates each document once (its band minima and its
fingerprint set), then moves |docs| x BANDS ids through the bucket
groupBy; bucket skew (a viral shingle set) is bounded by capping bucket
size (``max_bucket``), the standard guard in web-scale dedup; the
verify joins each candidate pair to the two documents' fingerprint sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BANDS = 16
SHINGLE_K = 3
SIMHASH_BITS = 60


def _ensure_parallelism(df: DataFrame, key: str | None = None) -> DataFrame:
    """Repartition CPU-bound kernels off a too-narrow source (e.g. one
    small parquet file = one task) without touching the RDD lineage:
    ``inputFiles()`` reads the plan's file listing, with no conversion to
    a physical plan the way ``df.rdd.getNumPartitions()`` forces.  File
    count underestimates split counts for huge files, so this errs toward
    one extra (cheap) shuffle on small inputs and is a no-op on many-file
    tables at scale.

    ``key``: when the downstream aggregation groups by ``key``,
    repartitioning BY that key lets the groupBy reuse this very exchange
    — EnsureRequirements sees the clustered distribution is already
    satisfied and the partial+final aggregate pair collapses into the
    map stage (measured: the sf0.1 signature pass halved).  Hash-of-key
    placement co-locates each document's exploded rows, which is exactly
    what the aggregation needs; doc sizes bound the per-task work
    (SCALE.md, "Keyed spread in the text operators")."""
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        nparts = len(df.inputFiles())
    except Exception:
        nparts = 0
    if nparts == 0:  # non-file source (createDataFrame, checkpoint, ...)
        nparts = df.rdd.getNumPartitions()
    if nparts >= max(2, par // 2):
        return df
    return df.repartition(par, key) if key else df.repartition(par)


def shingles_exploded(df: DataFrame, key: str = "doc_id", text: str = "text") -> DataFrame:
    """(key, s): one row per 3-word shingle OCCURRENCE (duplicates kept;
    a doc with < K tokens is one shingle, its tokens joined by one
    space, as in the oracle) — entirely
    whole-stage-codegen: split -> arrays_zip of three shifted slices ->
    explode -> concat.  The previous per-doc HOF
    ``transform(sequence(...))`` form was INTERPRETED and alone cost 4s
    of the 10s sf0.1 minhash run.

    Duplicate shingles affect neither the MIN aggregation (signatures)
    nor the verify, which compares each document's ``collect_set``.

    Small inputs (e.g. a single parquet file = one partition) are
    repartitioned to the session's parallelism first: shingling + md5
    is CPU-bound and must not serialize onto one task.  The repartition
    is keyed so a downstream per-``key`` aggregation reuses the same
    exchange."""
    df = _ensure_parallelism(df, key)
    toks = f"split(trim({text}), '\\\\s+')"
    m = f"(size({toks}) - {SHINGLE_K - 1})"
    zipped = (
        "arrays_zip("
        + ", ".join(f"slice({toks}, {i + 1}, {m})" for i in range(SHINGLE_K))
        + ")"
    )
    short = (
        f"array(named_struct('0', array_join({toks}, ' '), "
        "'1', CAST(NULL AS STRING), '2', CAST(NULL AS STRING)))"
    )
    arr = f"CASE WHEN size({toks}) < {SHINGLE_K} THEN {short} ELSE {zipped} END"
    out = df.select(key, F.explode(F.expr(arr)).alias("__z"))
    s = (
        "CASE WHEN __z['1'] IS NULL THEN __z['0'] "
        "ELSE concat_ws(' ', __z['0'], __z['1'], __z['2']) END"
    )
    return out.select(key, F.expr(s).alias("s"))


def dedup_exact(df: DataFrame, key: str = "doc_id", fp: str = "fp") -> DataFrame:
    """(doc_id, fp) -> (doc_id, keep_id, is_dup); keeper = min doc_id."""
    w = Window.partitionBy(fp)
    return df.select(
        key,
        fp,
        F.min(key).over(w).alias("keep_id"),
    ).withColumn("is_dup", F.col(key) != F.col("keep_id"))


MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)
_MIX = 2654435761  # Knuth multiplicative constant


def _band_hash_sql(h: str, band: int) -> str:
    """Integer band-permutation hash from the base shingle hash —
    identical text valid in both Spark SQL and DuckDB.  Operands stay
    < 2^37 so ANSI-mode long arithmetic never overflows."""
    a = 2 * band + 1
    c = (band * _MIX) % MINHASH_P
    return f"((({h}) % {MINHASH_P}) * {a} + {c}) % {MINHASH_P}"


def minhash_lsh_pairs(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    jaccard_e6_min: int = 0,
    max_bucket: int = 64,
) -> DataFrame:
    """Candidate pairs via LSH banding + exact Jaccard verify.

    Returns (id_a, id_b, inter, union, jaccard_e6) with id_a < id_b,
    inter > 0 and jaccard_e6 >= threshold.

    Each document is shingled and hashed once.  One aggregate per
    document computes its ``BANDS`` band minima and its distinct
    fingerprint set together; that per-document table is materialised
    once (the call's one eager job) and feeds both the banding and the
    verify.
    """
    # exploded shingles (codegen) -> 16 min-aggregates plus the
    # fingerprint set in ONE aggregate on the keyed spread's exchange
    # (collect_set keeps a repeated shingle once).  NOT a
    # higher-order-function fold: Spark evaluates HOF lambdas interpreted
    # per element (~10x slower than this codegen path).  The base md5
    # hash is PROJECTED ONCE per shingle, as in tokens_with_hash:
    # inlining it into the 16 band aggregates left 16 md5 evaluations per
    # row on the table (~20% of signature time).
    sh = shingles_exploded(df, key, text).select(
        key, F.expr("CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)").alias("__h")
    )
    aggs = [
        F.min(F.expr(_band_hash_sql("__h", b))).alias(f"__mh{b}") for b in range(BANDS)
    ]
    # Consumed twice (banding and both sides of the verify).  Without the
    # checkpoint column pruning splits the aggregate and the corpus is
    # shingled again for the verify; a lazy checkpoint makes the DAG
    # scheduler log "Failed to update accumulator" errors.
    # localCheckpoint persists memory-and-disk, so a large corpus spills
    # rather than recomputes or OOMs.
    docs = sh.groupBy(key).agg(*aggs, F.collect_set("__h").alias("fps")).localCheckpoint(
        eager=True
    )
    # A document with null text explodes to no shingle and so has no row
    # here; every row's band minima are non-null.
    stack = ", ".join(f"{b}, __mh{b}" for b in range(BANDS))
    sig = docs.select(key, F.expr(f"stack({BANDS}, {stack}) AS (band, minhash)"))

    # Each (band, minhash) bucket is gathered in ONE hash aggregate; the
    # viral-bucket cap is a free size() filter on the bucket array (a
    # window count would add a full sort of the signature table, and a
    # bucket self-join two more exchanges).
    buckets = (
        sig.groupBy("band", "minhash")
        .agg(F.sort_array(F.collect_list(key)).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    # pairwise expansion as two codegen Generates (posexplode + explode
    # of the sorted tail slice) — no interpreted lambda, and ids sorted
    # means id_a < id_b by construction.  Explode factor per bucket is
    # C(n, 2), n <= max_bucket.
    pairs = (
        buckets.select("ids", F.posexplode("ids").alias("__i", "id_a"))
        .select(
            "id_a",
            F.explode(
                F.slice(
                    F.col("ids"),
                    F.col("__i") + F.lit(2),
                    F.size("ids") - F.col("__i") - F.lit(1),
                )
            ).alias("id_b"),
        )
        .distinct()
    )

    # The verify runs over the 60-bit md5 shingle FINGERPRINT (the same
    # engine-identical hash the signatures use), not the raw string:
    # 8-byte longs instead of ~30-byte strings.  Jaccard is therefore
    # over each doc's distinct fingerprint set — identical to the
    # string-set Jaccard unless two distinct shingles collide in 60 bits
    # (~n^2/2^61; never at any tested scale), and the oracle mirrors the
    # same fingerprint so both engines agree by construction either way.
    # No broadcast hint: the per-document table is corpus-sized, so AQE
    # picks broadcast or shuffle from its runtime size.
    fa = docs.select(F.col(key).alias("id_a"), F.col("fps").alias("fa"))
    fb = docs.select(F.col(key).alias("id_b"), F.col("fps").alias("fb"))
    out = (
        pairs.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn(
            "inter", F.expr("CAST(size(array_intersect(fa, fb)) AS BIGINT)")
        )
        .withColumn(
            "union", F.expr("CAST(size(fa) + size(fb) AS BIGINT) - inter")
        )
        .withColumn("jaccard_e6", F.expr("CAST(inter * 1000000 DIV `union` AS BIGINT)"))
        # a candidate pair with an empty intersection (linked only by a
        # shared band minimum) never appears, even at jaccard_e6_min = 0,
        # as in the oracle's inner join on fingerprint
        .filter((F.col("jaccard_e6") >= jaccard_e6_min) & (F.col("inter") > 0))
        .select("id_a", "id_b", "inter", "union", "jaccard_e6")
    )
    return out


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 30,
) -> DataFrame:
    """Connected components over the near-duplicate pair graph —
    label-propagation to the minimum reachable id (the canonical
    representative), iterated to fixpoint.

    Each iteration: every vertex takes min(own label, neighbors' labels)
    via one edge join + hash aggregation; lineage truncated per round
    with localCheckpoint.  Converges in O(graph diameter) rounds —
    near-dup clusters are shallow, so typically 3-5.  This is the
    cluster step of web-scale dedup (keep one doc per component).

    Returns (doc_id, component) for every vertex in the pair graph.
    """
    spark = pairs.sparkSession
    F_ = F
    edges = (
        pairs.select(F_.col(id_a).alias("a"), F_.col(id_b).alias("b"))
        .unionByName(pairs.select(F_.col(id_b).alias("a"), F_.col(id_a).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F_.col("a").alias("doc_id")).distinct().withColumn(
        "component", F_.col("doc_id")
    )
    converged = False
    for _ in range(max_iterations):
        neigh = (
            edges.join(labels, edges["b"] == labels["doc_id"])
            .groupBy(F_.col("a").alias("doc_id"))
            .agg(F_.min("component").alias("__nbmin"))
        )
        prop = labels.join(neigh, "doc_id", "left").select(
            "doc_id",
            F_.least(
                F_.col("component"), F_.coalesce(F_.col("__nbmin"), F_.col("component"))
            ).alias("component"),
            (F_.col("__nbmin") < F_.col("component")).alias("__chg"),
        )
        # pointer-doubling shortcut: component <- label(component).  Combined
        # with the neighbor-min step this converges in O(log diameter)
        # rounds instead of O(diameter) — long near-dup chains at web scale
        # would otherwise exhaust max_iterations.
        par = prop.select(
            F_.col("doc_id").alias("__p"), F_.col("component").alias("__pc")
        )
        new_labels = (
            prop.join(par, prop["component"] == par["__p"], "left")
            .select(
                "doc_id",
                F_.least(
                    F_.col("component"), F_.coalesce(F_.col("__pc"), F_.col("component"))
                ).alias("component"),
                (F_.col("__chg") | (F_.col("__pc") < F_.col("component"))).alias("__chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F_.col("__chg")).limit(1).count()
        labels = new_labels.drop("__chg")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations — raise max_iterations (labels would be silently wrong)"
        )
    return labels


def simhash_fragments(text: str, dialect: str) -> tuple[str, str]:
    """(hash_array_sql, signature_sql) for a 60-bit SimHash of ``text``.

    Token hash = first 15 md5 hex digits as a 60-bit int; bit k of the
    signature is set iff tokens with bit k set are a (weak) majority.
    ``signature_sql`` references the bound array as ``__h`` and the token
    count as ``__n`` — bind both first (withColumn / CTE).

    Used for the DuckDB oracle (and as a reference HOF form); the Spark
    engine path is :func:`simhash_signature` — explode + one hash
    aggregate, fully whole-stage-codegen (Spark evaluates HOF lambdas
    interpreted, ~10x slower than codegen; 60 ``filter()`` passes per row
    was the repo's own anti-pattern).
    """
    if dialect == "spark":
        toks = f"split(trim({text}), '\\\\s+')"
        hashes = f"transform({toks}, t -> CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT))"
        cnt = lambda k: f"size(filter(__h, h -> ((shiftright(h, {k})) & 1) = 1))"  # noqa: E731
    else:
        toks = f"string_split_regex(trim({text}), '\\s+')"
        hashes = f"list_transform({toks}, t -> (('0x' || substr(md5(t), 1, 15))::BIGINT))"
        cnt = lambda k: f"len(list_filter(__h, h -> ((h >> {k}) & 1) = 1))"  # noqa: E731
    bits = [
        f"(CASE WHEN 2 * {cnt(k)} >= __n THEN CAST({1 << k} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for k in range(SIMHASH_BITS)
    ]
    return hashes, "(" + " + ".join(bits) + ")"


def simhash_agg_exprs() -> tuple:
    """(agg_columns, signature_sql_over_the_agg_output): the 61
    aggregates (token count + 60 bit-count sums over the per-token hash
    column ``__h``) and the majority-vote CASE expression that folds
    them into the signature.  Factored out so callers can RIDE the same
    exploded token stream with extra aggregates (e.g. text_profile's
    fused langid counts) — one explode, one shuffle for everything."""
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum(F.shiftright("__h", k).bitwiseAND(F.lit(1))).alias(f"__c{k}")
        for k in range(SIMHASH_BITS)
    ]
    bits = " + ".join(
        f"(CASE WHEN 2 * __c{k} >= __n THEN CAST({1 << k} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for k in range(SIMHASH_BITS)
    )
    return aggs, bits


def tokens_with_hash(df: DataFrame, key: str = "doc_id", text: str = "text") -> DataFrame:
    """(key, __t, __h): the exploded whitespace-token stream with the
    60-bit token hash projected ONCE (Catalyst would re-evaluate a bound
    md5 expression inside each of the 60 aggregates otherwise)."""
    return df.select(
        key, F.explode(F.expr(f"split(trim({text}), '\\\\s+')")).alias("__t")
    ).select(
        key,
        "__t",
        F.expr("CAST(conv(substr(md5(__t), 1, 15), 16, 10) AS BIGINT)").alias("__h"),
    )


def simhash_signature(
    df: DataFrame, key: str = "doc_id", text: str = "text", out: str = "simhash"
) -> DataFrame:
    """(key, simhash) via explode + ONE hash aggregate.

    Tokens explode (codegen), the 60-bit hash is projected once per token,
    then 60 bit-count sums + a token count run in a single partial+final
    hash agg — only |docs| x 61 longs shuffle.  Matches the HOF/oracle
    form bit-for-bit (duplicates kept: explode == full-array filter()).
    The parallelism repartition is keyed on ``key`` so the aggregate
    collapses onto the same exchange (``_ensure_parallelism``)."""
    df = _ensure_parallelism(df, key)
    aggs, bits = simhash_agg_exprs()
    wide = tokens_with_hash(df, key, text).groupBy(key).agg(*aggs)
    return wide.select(key, F.expr(bits).alias(out))


SIMHASH_BLOCKS = 4


def simhash_key_subsets(radius: int, blocks: int) -> list[tuple]:
    """The composite-key block subsets a radius-``r`` complete search
    needs: any pair within Hamming distance r differs in at most r
    blocks, so it AGREES on some (blocks - r)-subset — joining on every
    such subset is complete by pigeonhole (Manku et al., WWW'07 block
    rotation, generalized to arbitrary radius).  C(blocks, r) keys per
    signature; radius 3 with 4 blocks degenerates to the classic
    one-key-per-block form."""
    from itertools import combinations

    if not 1 <= radius < blocks:
        raise ValueError(
            f"radius must be in [1, blocks-1]; got radius={radius} blocks={blocks}"
        )
    if SIMHASH_BITS % blocks:
        raise ValueError(f"blocks={blocks} must divide {SIMHASH_BITS}")
    return list(combinations(range(blocks), blocks - radius))


def simhash_composite_sql(sig: str, subset: tuple, bits: int, dialect: str) -> str:
    """SQL for one composite key: the subset's block values packed into a
    single BIGINT (block j of the subset lands at bit j*bits)."""
    mask = (1 << bits) - 1
    parts = []
    for j, s in enumerate(subset):
        if dialect == "spark":
            v = f"(shiftright({sig}, {s * bits}) & {mask})"
            parts.append(f"shiftleft({v}, {j * bits})" if j else v)
        else:
            v = f"(({sig} >> {s * bits}) & {mask})"
            parts.append(f"({v} << {j * bits})" if j else v)
    return "(" + " + ".join(parts) + ")"


def simhash_pairs(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    radius: int = 3,
    blocks: int = SIMHASH_BLOCKS,
    max_bucket: int = 64,
) -> DataFrame:
    """Hamming-ball near-dup pairs over SimHash signatures — the bucketed
    block-rotation search (Manku et al.'s SimHash dedup shape): split the
    60-bit signature into ``blocks`` exact blocks and join on every
    (blocks - radius)-subset composite key (:func:`simhash_key_subsets`)
    — complete for any ``radius < blocks`` by pigeonhole, so candidates
    come from ONE equi-join on (subset_id, composite_value) and the exact
    bit_count(xor) verify touches candidates only — never all pairs.
    ``max_bucket`` caps viral keys (all-identical content) exactly like
    the MinHash banding guard.

    Returns (id_a, id_b, hamming) with id_a < id_b, hamming <= radius.
    """
    subsets = simhash_key_subsets(radius, blocks)
    bits = SIMHASH_BITS // blocks
    sig = simhash_signature(df, key, text)
    key_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.expr(
                    simhash_composite_sql("simhash", subset, bits, "spark")
                ).alias("val"),
            )
            for i, subset in enumerate(subsets)
        ]
    )
    b = (
        sig.withColumn("__b", F.explode(key_arr))
        .select(key, "simhash", F.col("__b.blk").alias("blk"), F.col("__b.val").alias("val"))
        .withColumn("bn", F.count(F.lit(1)).over(Window.partitionBy("blk", "val")))
        .filter(F.col("bn") <= max_bucket)
    )
    a = b.select(F.col(key).alias("id_a"), F.col("simhash").alias("sa"), "blk", "val")
    c = b.select(F.col(key).alias("id_b"), F.col("simhash").alias("sb"), "blk", "val")
    return (
        a.join(c, ["blk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sa", "sb")
        .distinct()
        .withColumn("hamming", F.expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
        .filter(F.col("hamming") <= radius)
        .select("id_a", "id_b", "hamming")
    )
