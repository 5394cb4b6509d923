"""Exact top-k of every query row against a small broadcast index.

The shared core of ``knn.knn_bruteforce(broadcast=True)`` and
``similarity.cosine_topk_bruteforce``.  Each caller supplies only its
score tile (lower is better); this module owns the index pull and the
selection:

* :func:`pull_index` fetches the index side to the driver ONCE as an
  Arrow table — ``LIMIT MAX_INDEX_ROWS + 1`` and a raise past the gate,
  so the driver pull is bounded whatever the input — sorted by id.  The
  caller broadcasts the numpy arrays it derives from that table.
* :func:`batch_topk` ranks one Arrow batch in query-row tiles of
  ``max(1, TILE_ELEMS // |index|)`` rows, so the score matrix and its
  temporaries stay near ``8 * TILE_ELEMS`` bytes (16 MB) each, at any
  batch size and index size up to the gate.

Selection is exact.  Per tile, ``np.partition`` finds each row's k-th
smallest score; every entry strictly below it is kept, and entries equal
to it are taken in column order until k are chosen.  Columns follow the
id-sorted index, so a stable argsort of the survivors gives exactly the
``ORDER BY score, id`` prefix a SQL window returns.

Precondition: ids are unique.  Duplicate ids still rank deterministically
(stable index order), but no oracle pins their order.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame

#: index-side cap for every broadcast top-k plan; knn_auto routes larger
#: place sides to the shuffle-join plan
MAX_INDEX_ROWS = 2_000_000
#: score-matrix elements per tile (2M x 8 bytes = 16 MB)
TILE_ELEMS = 1 << 21


def pull_index(index: DataFrame, id_col: str):
    """``index`` as a pyarrow Table sorted by ``id_col`` (stable), pulled
    with one bounded Arrow collect; raises ValueError beyond
    ``MAX_INDEX_ROWS`` rows."""
    t = index.limit(MAX_INDEX_ROWS + 1).toArrow()
    if t.num_rows > MAX_INDEX_ROWS:
        raise ValueError(
            f"broadcast top-k index would hold > {MAX_INDEX_ROWS} rows; use a "
            "distributed plan (knn broadcast=False, cosine_topk_lsh / cosine_topk_ivf)"
        )
    return t.sort_by(id_col)


def _select(scores: np.ndarray, kk: int) -> tuple[np.ndarray, np.ndarray]:
    """(columns, scores) of each row's ``kk`` smallest entries, ordered by
    (score, column).  ``0 < kk <= scores.shape[1]``."""
    n = scores.shape[0]
    kth = np.partition(scores, kk - 1, axis=1)[:, kk - 1 : kk]
    below = scores < kth
    tie = scores == kth
    need = kk - below.sum(axis=1, keepdims=True)
    keep = below | (tie & (np.cumsum(tie, axis=1, dtype=np.int32) <= need))
    cols = np.nonzero(keep)[1].reshape(n, kk)  # ascending column per row
    vals = np.take_along_axis(scores, cols, axis=1)
    order = np.argsort(vals, axis=1, kind="stable")
    return np.take_along_axis(cols, order, axis=1), np.take_along_axis(vals, order, axis=1)


def batch_topk(
    n: int, m: int, k: int, score: Callable[[int, int], np.ndarray]
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Top ``min(k, m)`` of each of ``n`` query rows against an ``m``-entry
    index.  ``score(lo, hi)`` returns the (hi - lo, m) score tile of query
    rows ``lo:hi``, lower is better.  Returns flat, row-major arrays
    ``(row, rank, col, score)``: query row, 1-based rank (int32), index
    column and its score."""
    kk = min(k, m)
    empty = np.empty(0, dtype=np.int64)
    if n == 0 or kk <= 0:
        return empty, empty.astype(np.int32), empty, empty
    step = max(1, TILE_ELEMS // m)
    cols, vals = [], []
    for lo in range(0, n, step):
        c, v = _select(score(lo, min(n, lo + step)), kk)
        cols.append(c.ravel())
        vals.append(v.ravel())
    rows = np.repeat(np.arange(n, dtype=np.int64), kk)
    ranks = np.tile(np.arange(1, kk + 1, dtype=np.int32), n)
    return rows, ranks, np.concatenate(cols), np.concatenate(vals)
