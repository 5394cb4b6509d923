"""Streaming form of the extraction -> tile-assignment pipeline: a stream
of webpages (url, warc_ts, html) flows through the SAME native column
expressions as the batch path (functions/extract.py, operators/tiling.py)
— Structured Streaming guarantees the batch/stream transformation is the
identical Catalyst plan per micro-batch, which the test verifies with an
availableNow drain.

At scale this tails the crawl log; the sink is the partition-checkpointed
table (plans/checkpoint.py) keyed by ``days(warc_ts)``, matching the
Iceberg-partition commit unit in FIXTURES.md §1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pydriosm_spark import queries as Q
from pydriosm_spark.functions import extract
from pydriosm_spark.operators import tiling


def extract_and_tile(webpages: DataFrame) -> DataFrame:
    """Works identically on batch and streaming frames (stateless —
    pure per-row transforms + explode, no exchange).

    It takes ``tiling.tile_columns``, not ``assign_tiles``: the sink here
    is not partitioned by tile, so ``assign_tiles``' rebalance would buy
    no tile layout and add a shuffle to every micro-batch (about +20%
    CPU per drain on one-file micro-batches; SCALE.md, "Designs tried and
    kept out")."""
    m = extract.extract_mentions(webpages)
    t = tiling.tile_columns(m, Q.TILE_RES, Q.TILE_PARENT_RES)
    return t.select("doc_id", "mention_idx", "lat", "lon", "tile", "tile_parent")
