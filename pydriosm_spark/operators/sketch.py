"""Deterministic distinct-count sketch: KMV (k-minimum-values).

The classic streaming/distributed cardinality estimator (Bar-Yossef et
al.): hash every value uniformly, keep the k smallest distinct hashes;
if the k-th smallest is ``h_k`` on a hash range of size ``R``, the
distinct count is ~ ``(k-1) * R / h_k``.  Unlike HyperLogLog
implementations (whose register layouts differ per engine), KMV built
on md5-derived integer hashes is EXACTLY reproducible in any engine —
so the estimate itself carries a DuckDB oracle.

Scale shape: the heavy step is ``distinct-hash -> k smallest``, which
Spark executes as per-partition top-k + single merge
(TakeOrderedAndProject) after a map-side-combined distinct — no full
sort, shuffle bounded by distinct hashes.  Merging two KMV sketches =
union + re-take-k, so the operator is algebraic (partitionable) by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydriosm_spark.session import local_frame

#: hash range: top 30 bits of the 60-bit md5 prefix (integer arithmetic
#: stays well inside int64 for any k)
HASH_BITS = 30
HASH_RANGE = 1 << HASH_BITS


def hash30_sql(value: str, dialect: str) -> str:
    """Uniform 30-bit integer hash of ``value`` — same text semantics in
    both dialects (md5 hex -> 60-bit int -> top 30 bits)."""
    if dialect == "spark":
        return f"(CAST(conv(substr(md5({value}), 1, 15), 16, 10) AS BIGINT) >> {HASH_BITS})"
    return f"((('0x' || substr(md5({value}), 1, 15))::BIGINT) >> {HASH_BITS})"


def sampled_quantiles(
    df: DataFrame,
    value_sql: str,
    key_sql: str,
    qs_permille: tuple = (500, 900, 990),
    k: int = 2048,
) -> DataFrame:
    """Quantile estimation over a deterministic bottom-k-by-hash sample.

    The bottom-k rows by a uniform hash ARE a uniform random sample, so
    exact quantiles over them estimate the population quantiles with
    ~1/sqrt(k) error — and unlike t-digest/GK sketches the whole
    computation is engine-reproducible (hash, distinct, order, limit,
    row_number are all deterministic), so the ESTIMATES carry a DuckDB
    oracle.  Returns (q_permille, value) rows.

    ``value_sql``: integer-valued SQL expression to take quantiles of;
    ``key_sql``: SQL expression identifying a row (hashed for sampling).
    Duplicate (hash, value) pairs collapse via DISTINCT — required for a
    cross-engine-deterministic LIMIT (no ties at the boundary)."""
    h = hash30_sql(key_sql, "spark")
    samp = (
        df.select(F.expr(h).alias("h"), F.expr(value_sql).cast("long").alias("v"))
        .distinct()
        .orderBy("h", "v")
        .limit(k)
    )
    from pyspark.sql import Window

    ranked = samp.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.col("v").asc(), F.col("h").asc()))
    )
    spark = df.sparkSession
    targets = local_frame(
        spark, [(q, (q * k + 999) // 1000) for q in qs_permille], "q_permille long, rank int"
    )
    # Clamp target ranks to the actual sample size: inputs smaller than k
    # must return their exact max-side quantile, not silently drop the row
    # (ADVICE r2).
    n_df = samp.agg(F.count(F.lit(1)).alias("n"))
    targets = targets.crossJoin(n_df).select(
        "q_permille", F.least(F.col("rank"), F.col("n")).cast("int").alias("rank")
    )
    return targets.join(ranked, "rank").select(
        "q_permille", F.col("v").alias("value")
    )


def quantile_oracle_sql(
    table_sql: str,
    value_sql: str,
    key_sql: str,
    qs_permille: tuple = (500, 900, 990),
    k: int = 2048,
) -> str:
    """DuckDB mirror of :func:`sampled_quantiles` over ``table_sql``
    (a FROM-able relation)."""
    h = hash30_sql(key_sql, "duckdb")
    targets = ", ".join(f"({q}, {(q * k + 999) // 1000})" for q in qs_permille)
    return f"""
WITH samp AS (
  SELECT h, v FROM (
    SELECT DISTINCT {h} AS h, CAST({value_sql} AS BIGINT) AS v FROM {table_sql}
  ) ORDER BY h, v LIMIT {k}
),
ranked AS (
  SELECT v, row_number() OVER (ORDER BY v ASC, h ASC) AS rank FROM samp
),
targets(q_permille, rank) AS (VALUES {targets}),
clamped AS (
  SELECT q_permille, LEAST(rank, (SELECT count(*) FROM samp)) AS rank FROM targets
)
SELECT CAST(t.q_permille AS BIGINT) AS q_permille, r.v AS value
FROM clamped t JOIN ranked r ON r.rank = t.rank"""


def kmv_distinct_estimate(values: DataFrame, value_col: str, k: int = 256) -> DataFrame:
    """One-row DataFrame (k, kth_hash, est_distinct) estimating the
    number of distinct ``value_col`` values.  All-integer arithmetic:
    ``est = (k-1) * HASH_RANGE DIV kth_hash`` (or the exact count when
    fewer than k distinct hashes exist)."""
    hs = (
        values.select(F.expr(hash30_sql(value_col, "spark")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    agg = hs.agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("kth"))
    return agg.select(
        F.lit(k).cast("long").alias("k"),
        F.col("kth").cast("long").alias("kth_hash"),
        F.expr(
            f"CAST(CASE WHEN n < {k} THEN n "
            f"ELSE CAST({(k - 1) * HASH_RANGE} AS BIGINT) DIV kth END AS BIGINT)"
        ).alias("est_distinct"),
    )
