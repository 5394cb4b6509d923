"""Training-data pipeline queries: text quality / language-ID /
fingerprinting, exact + MinHash-LSH + SimHash dedup, and embedding
similarity search — each with a DuckDB oracle where SQL-expressible
(the LSH-ANN variant is rows-only by design; its recall is pytest-gated
against brute force)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pydriosm_spark.functions import text as T
from pydriosm_spark.operators import dedup, similarity

JACCARD_E6_MIN = 100_000  # 0.1 — near-dup threshold for the pair query
TOPK = 5
DIM = 64  # embeddings.parquet vector width (TESTDATA.md)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# Spark queries
# ---------------------------------------------------------------------------

def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document profile table a training pipeline materializes
    in ONE pass over the corpus: quality stats, language, content
    fingerprint, token budgets, and the SimHash signature — the former
    text_quality / langid / fingerprint / token_counts / simhash registry
    queries as one 500-row-per-500-doc output (VERDICT r4: merged so the
    whole registry fits the driver's 50-query correctness gate).

    Shape: scalar columns are a single codegen projection; langid's
    4 stopword conditional-sums RIDE the simhash aggregation's exploded
    token stream (both consume the identical \\s+ tokens), so the whole
    profile is one explode + ONE 65-column hash aggregate + one doc_id
    equi-join back to the projection — a single shuffle of |docs| x 65
    longs, no per-row Python anywhere."""
    d = _docs(spark, sf_dir)
    cols = T.quality_select_sql("text", "spark")
    scalars = d.select(
        "doc_id",
        *[F.expr(sql).alias(name) for name, sql in cols.items()],
        F.expr(T.fingerprint_sql("text", "spark")).alias("fp"),
        F.expr(f"CAST({T.ntokens_sql('text', 'spark')} AS BIGINT)").alias("n_ws_tokens"),
        F.expr(f"CAST({T.bpe_token_count_sql('text', 'spark')} AS BIGINT)").alias(
            "n_bpe_tokens"
        ),
    )
    sim_aggs, sim_bits = dedup.simhash_agg_exprs()
    lang_aggs = [
        F.sum(
            F.when(F.col("__t").isin(ws), F.lit(1)).otherwise(F.lit(0))
        ).alias(f"__c_{l}")
        for l, ws in T.LANG_STOPWORDS.items()
    ]
    # keyed parallelism spread (r6): the explode + per-token md5 must not
    # serialize onto a single small-file scan task, and keying the
    # repartition by doc_id lets the 65-column aggregate collapse onto
    # the same exchange (guide §2.4)
    wide = (
        dedup.tokens_with_hash(dedup._ensure_parallelism(d, "doc_id"))
        .groupBy("doc_id")
        .agg(*sim_aggs, *lang_aggs)
    )
    prof = wide.select(
        "doc_id",
        F.expr(sim_bits).alias("simhash"),
        F.expr(T._langid_case({l: f"__c_{l}" for l in T.LANG_STOPWORDS})).alias(
            "lang_pred"
        ),
    )
    # LEFT join (ADVICE r4): a NULL-text document yields no exploded
    # token rows (split(trim(NULL)) -> NULL -> explode drops it), and an
    # inner join would silently drop the document from the profile while
    # the scalar-SQL oracle still emits its row with NULL metrics.
    return scalars.join(prof, "doc_id", "left")


def q_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-3-gram-shingle sketch over the corpus, alongside the
    exact distinct count (the estimate is deterministic, hence oracled;
    the corpus has thousands of distinct shingles, so the k-th-minimum
    estimator branch — not the exact small-set branch — is exercised)."""
    from pydriosm_spark.operators.sketch import kmv_distinct_estimate

    sh = dedup.shingles_exploded(_docs(spark, sf_dir)).select("s")
    est = kmv_distinct_estimate(sh, "s", k=256)
    exact = sh.agg(F.countDistinct("s").cast("long").alias("exact_distinct"))
    return est.crossJoin(exact)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the md5 of the first-3-token prefix (guarantees
    real duplicate groups in the synthetic corpus)."""
    d = _docs(spark, sf_dir).withColumn(
        "fp", F.expr("md5(concat_ws(' ', slice(split(trim(text), '\\\\s+'), 1, 3)))")
    )
    return dedup.dedup_exact(d.select("doc_id", "fp"))


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), jaccard_e6_min=JACCARD_E6_MIN
    ).select(
        "id_a",
        "id_b",
        F.col("inter").cast("long").alias("inter"),
        F.col("union").cast("long").alias("union"),
        "jaccard_e6",
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-ball near-dup pairs (block-rotation bucketed
    search + exact bit_count verify) — end-to-end SimHash dedup."""
    return dedup.simhash_pairs(_docs(spark, sf_dir))


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash-LSH pairs -> connected components ->
    (doc_id, component) with component = min doc_id reachable."""
    pairs = dedup.minhash_lsh_pairs(_docs(spark, sf_dir), jaccard_e6_min=JACCARD_E6_MIN)
    cc = dedup.connected_components(pairs)
    return cc.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


EMB_DEDUP_SIM_E6 = 400_000


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (LSH candidates + exact verify)."""
    return similarity.embedding_dedup_pairs(
        spark, _emb(spark, sf_dir), sim_e6_min=EMB_DEDUP_SIM_E6
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk_bruteforce(spark, _emb(spark, sf_dir), k=TOPK)


ANN_CAP = 16  # small enough to bite at sf0.01's ~39-vector expected bucket


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN — recall-gated in tests AND fully SQL-oracled
    (integer-quantized buckets + re-rank are bit-exact cross-engine).
    ``max_bucket=None`` pins the uncapped path so the oracle stays exact
    at any scale (the public default is "auto"; the capped branch gets
    its own driver-gated entry below)."""
    return similarity.cosine_topk_lsh(
        spark, _emb(spark, sf_dir), k=TOPK, max_bucket=None
    )


def q_ann_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The viral-bucket-capped ANN branch (the default's skew response)
    under the driver gate: an explicit cap small enough to truncate
    buckets at sf0.01, mirrored in SQL by the QUALIFY row_number form —
    proving the deterministic-prefix cap is cross-engine exact
    (VERDICT r4 item 3)."""
    return similarity.cosine_topk_lsh(
        spark, _emb(spark, sf_dir), k=TOPK, max_bucket=ANN_CAP
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (distributed k-means inverted lists) — recall-gated in
    tests AND fully SQL-oracled (the unrolled Lloyd iterations below
    reproduce the integer-exact centroids)."""
    return similarity.cosine_topk_ivf(spark, _emb(spark, sf_dir), k=TOPK)


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def oracle_text_profile() -> str:
    """All five per-doc profile components in one SQL statement: the
    scalar columns read ``text`` directly; simhash reuses the fragment
    CTE (``__h``/``__n``) the standalone oracle used; langid is the
    scalar CASE form (differentially equal to the engine's explode+agg,
    as the standalone pair proved for three rounds)."""
    hashes, total = dedup.simhash_fragments("text")
    cols = T.quality_select_sql("text", "duckdb")
    sel = ", ".join(f"{sql} AS {name}" for name, sql in cols.items())
    return f"""
WITH h AS (
  SELECT doc_id, text, {hashes} AS __h, len({hashes}) AS __n FROM documents
)
SELECT doc_id, {sel},
       {T.fingerprint_sql('text', 'duckdb')} AS fp,
       CAST({T.ntokens_sql('text', 'duckdb')} AS BIGINT) AS n_ws_tokens,
       CAST({T.bpe_token_count_sql('text', 'duckdb')} AS BIGINT) AS n_bpe_tokens,
       {T.langid_sql('text', 'duckdb')} AS lang_pred,
       {total} AS simhash
FROM h"""


def oracle_sketch_kmv(k: int = 256) -> str:
    from pydriosm_spark.operators.sketch import HASH_RANGE, hash30_sql

    h = hash30_sql("s", "duckdb")
    return f"""
WITH {_duck_shingles_cte().strip()},
hs AS (SELECT DISTINCT {h} AS h FROM shingles),
topk AS (SELECT h FROM hs ORDER BY h LIMIT {k}),
a AS (SELECT count(*) AS n, max(h) AS kth FROM topk)
SELECT CAST({k} AS BIGINT) AS k, CAST(kth AS BIGINT) AS kth_hash,
       CAST(CASE WHEN n < {k} THEN n
            ELSE {(k - 1) * HASH_RANGE} // kth END AS BIGINT) AS est_distinct,
       (SELECT CAST(count(DISTINCT s) AS BIGINT) FROM shingles) AS exact_distinct
FROM a"""


def oracle_dedup_exact() -> str:
    return """
WITH f AS (
  SELECT doc_id,
         md5(array_to_string((string_split_regex(trim(text), '\\s+'))[1:3], ' ')) AS fp
  FROM documents
)
SELECT doc_id, fp,
       min(doc_id) OVER (PARTITION BY fp) AS keep_id,
       doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_dup
FROM f"""


def _duck_shingles_cte() -> str:
    k = dedup.SHINGLE_K
    return f"""
toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
shingles AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(t) < {k} THEN [array_to_string(t, ' ')]
         ELSE list_transform(range(1, len(t) - {k - 2}),
                             i -> array_to_string(t[i:i+{k - 1}], ' '))
    END)) AS s
  FROM toks
)"""


def _minhash_pairs_ctes() -> str:
    """The CTE chain shared by the pairs oracle and the components
    oracle; ends with the CTE list (no final SELECT)."""
    B = dedup.BANDS
    h = "(('0x' || substr(md5(s), 1, 15))::BIGINT)"
    per_band = ", ".join(
        f"min({dedup._band_hash_sql(h, b)}) AS mh{b}" for b in range(B)
    )
    unpivot = ", ".join(f"struct_pack(band := {b}, minhash := mh{b})" for b in range(B))
    return f"""{_duck_shingles_cte().strip()},
wide AS (
  SELECT doc_id, {per_band} FROM shingles GROUP BY doc_id
),
sig AS (
  SELECT doc_id, u.s.band AS band, u.s.minhash AS minhash
  FROM wide, unnest([{unpivot}]) u(s)
),
capped AS (
  SELECT *, count(*) OVER (PARTITION BY band, minhash) AS bn FROM sig
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b ON a.band = b.band AND a.minhash = b.minhash
  WHERE a.doc_id < b.doc_id AND a.bn <= 64 AND b.bn <= 64
),
shash AS (
  -- verify runs over the engine-identical 60-bit md5 fingerprint
  -- (mirrors minhash_lsh_pairs: long joins, string-set-identical
  -- unless two shingles collide in 60 bits)
  SELECT DISTINCT doc_id, {h} AS h FROM shingles
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shash GROUP BY doc_id),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS inter
  FROM pairs p
  JOIN shash sa ON sa.doc_id = p.id_a
  JOIN shash sb ON sb.doc_id = p.id_b AND sb.h = sa.h
  GROUP BY p.id_a, p.id_b
),
pairq AS (
  SELECT i.id_a, i.id_b, i.inter, na.n_sh + nb.n_sh - i.inter AS "union",
         (i.inter * 1000000) // (na.n_sh + nb.n_sh - i.inter) AS jaccard_e6
  FROM inter i
  JOIN sizes na ON na.doc_id = i.id_a
  JOIN sizes nb ON nb.doc_id = i.id_b
  WHERE (i.inter * 1000000) // (na.n_sh + nb.n_sh - i.inter) >= {JACCARD_E6_MIN}
)"""


def oracle_minhash_pairs() -> str:
    return f"""
WITH {_minhash_pairs_ctes()}
SELECT id_a, id_b, inter, "union", jaccard_e6 FROM pairq"""


def oracle_dedup_components() -> str:
    """Recursive-CTE ground truth: min reachable id over the undirected
    pair graph."""
    return f"""
WITH RECURSIVE {_minhash_pairs_ctes()},
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairq
  UNION
  SELECT id_b, id_a FROM pairq
),
reach(src, dst) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
)
SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS component
FROM reach GROUP BY src"""


def oracle_simhash_pairs(
    radius: int = 3, blocks: int = dedup.SIMHASH_BLOCKS, max_bucket: int = 64
) -> str:
    """Mirrors dedup.simhash_pairs at any (radius, blocks): one
    (subset_id, composite_value) key per (blocks-radius)-subset."""
    hashes, total = dedup.simhash_fragments("text")
    subsets = dedup.simhash_key_subsets(radius, blocks)
    bits = dedup.SIMHASH_BITS // blocks
    keys = ", ".join(
        f"struct_pack(blk := {i}, val := "
        f"{dedup.simhash_composite_sql('simhash', subset, bits, 'duckdb')})"
        for i, subset in enumerate(subsets)
    )
    return f"""
WITH h AS (
  SELECT doc_id, {hashes} AS __h, len({hashes}) AS __n FROM documents
),
s AS (SELECT doc_id, {total} AS simhash FROM h),
b AS (
  SELECT doc_id, simhash, blk, val FROM (
    SELECT doc_id, simhash, u.k.blk AS blk, u.k.val AS val,
           count(*) OVER (PARTITION BY u.k.blk, u.k.val) AS bn
    FROM (SELECT doc_id, simhash, [{keys}] AS kl FROM s), unnest(kl) u(k)
  ) WHERE bn <= {max_bucket}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, a.simhash AS sa, c.doc_id AS id_b, c.simhash AS sb
  FROM b a JOIN b c ON a.blk = c.blk AND a.val = c.val AND a.doc_id < c.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {radius}"""


def oracle_cosine_topk() -> str:
    return f"""
WITH sims AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS sim
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
)
SELECT vec_id,
       CAST(row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS rank,
       neighbor_id
FROM sims
QUALIFY rank <= {TOPK}"""


def _lsh_dot_arrays(n_planes: int) -> list[str]:
    """One DuckDB expression per plane table: the array of ``n_planes``
    exact integer plane dots (as DOUBLE — exact below 2^53), mirroring
    the one plane-hash kernel, similarity.lsh_buckets (base buckets and
    guided probes alike)."""
    out = []
    for t in range(similarity.N_TABLES):
        P = similarity._planes(DIM, t, n_planes)
        dots = []
        for p in range(n_planes):
            coefs = ", ".join(str(int(c)) for c in P[p])
            dots.append(f"list_dot_product(qv::DOUBLE[], [{coefs}]::DOUBLE[])")
        out.append("[" + ", ".join(dots) + "]")
    return out


def oracle_ann_lsh(max_bucket: int | None = None) -> str:
    """Self-sizing guided-multi-probe LSH oracle.  The plane count is
    computed from count(*) IN SQL with the same integer rule the engine
    uses (similarity.sized_lsh_planes — ceil_log2 via length(bin(m-1))),
    so this one string is correct at any table size; buckets mask the
    first np of MAX_PLANES static plane dots, and the probe set is the
    base bucket + single and pair flips of the 3 lowest-|dot| planes
    (row_number tie-break (|d|, p) == the kernel's lexsort).

    ``max_bucket`` mirrors the engine's deterministic viral-bucket cap:
    the candidate join's INDEX side keeps only each bucket's first
    ``max_bucket`` members by id (QUALIFY row_number) — probe side
    untouched, exactly like cosine_topk_lsh."""
    qz = similarity.quantize_sql("embedding", "duckdb")
    MP, TB, G = similarity.MAX_PLANES, similarity.TARGET_BUCKET, similarity.N_GUIDED
    packs = ", ".join(
        f"struct_pack(t := {t}, dots := {e})"
        for t, e in enumerate(_lsh_dot_arrays(MP))
    )
    return f"""
WITH e AS (SELECT vec_id, {qz} AS qv FROM embeddings),
nn AS (SELECT count(*) AS n FROM e),
pp AS (
  SELECT greatest(3, least({MP},
    CASE WHEN (n + {TB - 1}) // {TB} <= 1 THEN 0
         ELSE length(bin((n + {TB - 1}) // {TB} - 1)) END)) AS np
  FROM nn
),
dt AS (
  SELECT vec_id, u.s.t AS tbl, u.s.dots AS dots
  FROM (SELECT vec_id, [{packs}] AS bl FROM e), unnest(bl) u(s)
),
pl AS (
  SELECT vec_id, tbl, r.i AS p, dots[r.i + 1] AS d
  FROM dt, pp, range(0, {MP}) r(i) WHERE r.i < pp.np
),
bk AS (
  SELECT vec_id, tbl,
         CAST(sum(CASE WHEN d > 0 THEN 1::BIGINT << p ELSE 0 END) AS BIGINT) AS bucket
  FROM pl GROUP BY vec_id, tbl
),
tg AS (
  SELECT vec_id, tbl, p FROM (
    SELECT vec_id, tbl, p,
           row_number() OVER (PARTITION BY vec_id, tbl ORDER BY abs(d) ASC, p ASC) AS r
    FROM pl
  ) WHERE r <= {G}
),
pr AS (
  SELECT vec_id, tbl, bucket FROM bk
  UNION
  SELECT t.vec_id, t.tbl, xor(b.bucket, 1::BIGINT << t.p)
  FROM tg t JOIN bk b ON b.vec_id = t.vec_id AND b.tbl = t.tbl
  UNION
  SELECT a.vec_id, a.tbl, xor(xor(b.bucket, 1::BIGINT << a.p), 1::BIGINT << c.p)
  FROM tg a JOIN tg c ON a.vec_id = c.vec_id AND a.tbl = c.tbl AND a.p < c.p
  JOIN bk b ON b.vec_id = a.vec_id AND b.tbl = a.tbl
),
bki AS (
  SELECT vec_id, tbl, bucket FROM bk{'' if max_bucket is None else f'''
  QUALIFY row_number() OVER (PARTITION BY tbl, bucket ORDER BY vec_id) <= {max_bucket}'''}
),
cand AS (
  SELECT DISTINCT a.vec_id AS qid, c.vec_id AS nid
  FROM pr a JOIN bki c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id <> c.vec_id
),
rr AS (
  SELECT cand.qid, cand.nid, {similarity.qcosine_sql('ea.qv', 'eb.qv')} AS sim
  FROM cand JOIN e ea ON ea.vec_id = cand.qid JOIN e eb ON eb.vec_id = cand.nid
)
SELECT qid AS vec_id,
       CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS BIGINT) AS rank,
       nid AS neighbor_id
FROM rr QUALIFY rank <= {TOPK}"""


def oracle_dedup_embedding() -> str:
    """Self-sized like the engine (similarity.sized_lsh_planes from
    count(*) in SQL): buckets mask the first np of MAX_PLANES static
    plane dots; candidates are same-bucket pairs (no multiprobe on the
    dedup path — a true near-dup collides without probing)."""
    qz = similarity.quantize_sql("embedding", "duckdb")
    MP, TB = similarity.MAX_PLANES, similarity.TARGET_BUCKET
    packs = ", ".join(
        f"struct_pack(t := {t}, dots := {e})"
        for t, e in enumerate(_lsh_dot_arrays(MP))
    )
    return f"""
WITH e AS (SELECT vec_id, {qz} AS qv FROM embeddings),
nn AS (SELECT count(*) AS n FROM e),
pp AS (
  SELECT greatest(3, least({MP},
    CASE WHEN (n + {TB - 1}) // {TB} <= 1 THEN 0
         ELSE length(bin((n + {TB - 1}) // {TB} - 1)) END)) AS np
  FROM nn
),
dt AS (
  SELECT vec_id, u.s.t AS tbl, u.s.dots AS dots
  FROM (SELECT vec_id, [{packs}] AS bl FROM e), unnest(bl) u(s)
),
b AS (
  SELECT vec_id, tbl,
         CAST(sum(CASE WHEN dots[r.i + 1] > 0 THEN 1::BIGINT << r.i ELSE 0 END) AS BIGINT) AS bucket
  FROM dt, pp, range(0, {MP}) r(i) WHERE r.i < pp.np
  GROUP BY vec_id, tbl
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
  FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id
)
SELECT cand.id_a, cand.id_b,
       CAST(floor({similarity.qcosine_sql('ea.qv', 'eb.qv')} * 1e6) AS BIGINT) AS sim_e6
FROM cand JOIN e ea ON ea.vec_id = cand.id_a JOIN e eb ON eb.vec_id = cand.id_b
WHERE floor({similarity.qcosine_sql('ea.qv', 'eb.qv')} * 1e6) >= {EMB_DEDUP_SIM_E6}"""


def _ivf_sim_sql(q: str, c: str) -> str:
    """The kernel's exact assignment metric dot(q, c) / sqrt(dot(c, c))
    — integer dots are exact in float64, so DuckDB == numpy."""
    n2 = f"list_dot_product({c}::DOUBLE[], {c}::DOUBLE[])"
    dot = f"list_dot_product({q}::DOUBLE[], {c}::DOUBLE[])"
    return f"({dot} / (CASE WHEN sqrt({n2}) = 0 THEN 1.0 ELSE sqrt({n2}) END))"


def _ivf_assign_cte(name: str, cents: str) -> str:
    """Assignment CTE: every vector of ``e`` (vec_id, qv) ranked
    against every centroid of ``cents`` (list_id, cent)."""
    sim = _ivf_sim_sql("e.qv", "c.cent")
    return f"""{name} AS (
  SELECT e.vec_id, e.qv, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY {sim} DESC, c.list_id ASC) AS rn
  FROM e e CROSS JOIN {cents} c
)"""


def oracle_ann_ivf(iterations: int = 5) -> str:
    """Unrolled distributed-Lloyd oracle: every iteration's assignment +
    integer re-quantized mean is exact arithmetic, so the final inverted
    lists, probes, and re-rank equal similarity.cosine_topk_ivf's.
    n_lists / n_probe_max / budget are computed from count(*) IN SQL
    with the engine's integer sizing rule (similarity.sized_ivf_params),
    and the TWO-STAGE budget probe (centroid-rank order, keep a list
    while the running size of prior kept lists < budget) is mirrored
    with the same window — one string, any scale."""
    qz = similarity.quantize_sql("embedding", "duckdb")
    AVG, BF = similarity.IVF_AVG_LIST, similarity.IVF_BUDGET_FLOOR
    parts = [
        f"e AS (SELECT vec_id, {qz} AS qv FROM embeddings)",
        "nn AS (SELECT count(*) AS n FROM e)",
        f"""pp AS (
  SELECT n,
         least(greatest(1, n), greatest(4, least(
           CASE WHEN (n + {AVG - 1}) // {AVG} <= 1 THEN 1
                ELSE 1::BIGINT << length(bin((n + {AVG - 1}) // {AVG} - 1)) END,
           CASE WHEN n <= 1 THEN 4
                ELSE 4::BIGINT << (length(bin(n - 1)) // 2) END))) AS nl,
         greatest({BF}, n // {AVG}) AS budget
  FROM nn
)""",
        """c0 AS (
  SELECT row_number() OVER (ORDER BY rn) - 1 AS list_id, qv AS cent
  FROM (SELECT qv, rn
        FROM (SELECT qv, row_number() OVER (ORDER BY vec_id) - 1 AS rn FROM e), pp
        WHERE rn % greatest(pp.n // pp.nl, 1) = 0
        QUALIFY row_number() OVER (ORDER BY rn) <= pp.nl)
)""",
    ]
    for i in range(1, iterations + 1):
        parts.append(_ivf_assign_cte(f"a{i}", f"c{i - 1}"))
        parts.append(
            f"""m{i} AS (
  SELECT a.list_id, r.i AS ord,
         CAST(round(CAST(sum(a.qv[r.i]) AS DOUBLE) / count(*)) AS BIGINT) AS cx
  FROM a{i} a, range(1, {DIM + 1}) r(i) WHERE a.rn = 1 GROUP BY a.list_id, r.i
)"""
        )
        parts.append(
            f"g{i} AS (SELECT list_id, list(cx ORDER BY ord) AS cent FROM m{i} GROUP BY list_id)"
        )
        parts.append(
            f"""c{i} AS (
  SELECT c.list_id, coalesce(g.cent, c.cent) AS cent
  FROM c{i - 1} c LEFT JOIN g{i} g USING (list_id)
)"""
        )
    parts.append(_ivf_assign_cte("af", f"c{iterations}"))
    parts.append("idx AS (SELECT vec_id AS nid, list_id FROM af WHERE rn = 1)")
    parts.append("lsz AS (SELECT list_id, count(*) AS lsize FROM idx GROUP BY list_id)")
    # stage 1: top n_probe_max lists by centroid rank; stage 2: keep a
    # list while the running size of higher-ranked kept lists < budget
    parts.append(
        """pw AS (
  SELECT af.vec_id AS qid, af.list_id, af.rn, coalesce(l.lsize, 0) AS lsize
  FROM af af LEFT JOIN lsz l ON l.list_id = af.list_id, pp
  WHERE af.rn <= least(pp.nl, greatest(8, pp.nl // 16))
)"""
    )
    parts.append(
        """pr AS (
  SELECT qid, list_id FROM (
    SELECT qid, list_id,
           coalesce(sum(lsize) OVER (PARTITION BY qid ORDER BY rn
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
    FROM pw
  ), pp WHERE cumb < pp.budget
)"""
    )
    parts.append(
        "cand AS (SELECT DISTINCT pr.qid, idx.nid FROM pr JOIN idx USING (list_id) WHERE pr.qid <> idx.nid)"
    )
    parts.append(
        f"""rr AS (
  SELECT cand.qid, cand.nid, {similarity.qcosine_sql('ea.qv', 'eb.qv')} AS sim
  FROM cand JOIN e ea ON ea.vec_id = cand.qid JOIN e eb ON eb.vec_id = cand.nid
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT qid AS vec_id,
       CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS BIGINT) AS rank,
       nid AS neighbor_id
FROM rr QUALIFY rank <= {TOPK}"""
    )


def registry() -> dict:
    # text_quality / langid / fingerprint / token_counts / simhash merged
    # into text_profile (VERDICT r4: the whole registry must fit the
    # driver's 50-query gate).
    return {
        "text_profile": (q_text_profile, oracle_text_profile()),
        "sketch_kmv": (q_sketch_kmv, oracle_sketch_kmv()),
        "dedup_exact": (q_dedup_exact, oracle_dedup_exact()),
        "dedup_minhash_lsh": (q_minhash_pairs, oracle_minhash_pairs()),
        "dedup_components": (q_dedup_components, oracle_dedup_components()),
        "simhash_pairs": (q_simhash_pairs, oracle_simhash_pairs()),
        "cosine_topk": (q_cosine_topk, oracle_cosine_topk()),
        "dedup_embedding": (q_dedup_embedding, oracle_dedup_embedding()),
        "ann_lsh": (q_ann_lsh, oracle_ann_lsh()),
        "ann_lsh_capped": (q_ann_lsh_capped, oracle_ann_lsh(max_bucket=ANN_CAP)),
        "ann_ivf": (q_ann_ivf, oracle_ann_ivf()),
    }
