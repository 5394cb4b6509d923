#!/usr/bin/env python
"""Example production job: embedding similarity retrieval — the ANN leg
of a training-data pipeline (near-dup mining / semantic retrieval over
an ``array<float>`` embedding column), shipped like the other jobs:

    python package.py
    spark-submit --master local[8] \
        --py-files dist/pydriosm_spark.zip examples/ann_job.py \
        <sf_dir> <out_dir> [lsh|ivf|brute]

Every variant self-sizes from count(*) (sized_lsh_planes /
sized_ivf_params) and reads the embedding width from the vectors, so
the SAME job text runs at 10^2 and 10^9 vectors of any width; the
method argument only picks the plan:

* ``brute`` — exact broadcast-matmul top-k (gated at 2M index rows);
* ``lsh``   — guided multi-probe hyperplane LSH + exact re-rank
              (``max_bucket="auto"`` viral-bucket cap), the default;
* ``ivf``   — two-stage budget IVF (distributed Lloyd quantizer).

Writes (vec_id, rank, neighbor_id) and prints a one-line summary.
"""

import sys

from pyspark.sql import SparkSession


def main(sf_dir: str, out_dir: str, method: str = "lsh") -> None:
    spark = SparkSession.builder.appName("geotile_ann_job").getOrCreate()

    from pydriosm_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    k = 5
    if method == "brute":
        topk = similarity.cosine_topk_bruteforce(spark, emb, k=k)
    elif method == "lsh":
        topk = similarity.cosine_topk_lsh(spark, emb, k=k)
    elif method == "ivf":
        topk = similarity.cosine_topk_ivf(spark, emb, k=k)
    else:
        raise SystemExit(f"unknown method {method!r}")

    topk.write.mode("overwrite").parquet(out_dir)

    out = spark.read.parquet(out_dir)
    n_pairs = out.count()
    n_q = out.select("vec_id").distinct().count()
    print(f"ANN_JOB_RESULT method={method} queries={n_q} pairs={n_pairs}")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else "lsh")
