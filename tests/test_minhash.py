"""minhash_lsh_pairs on hand-made edge cases, against the DuckDB oracle's
CTE chain run over the same rows."""

import hashlib

import duckdb
import pandas as pd
import pytest

from pydriosm_spark import queries_text as QT
from pydriosm_spark.operators import dedup
from pydriosm_spark.session import local_frame
from tests.oracle_util import canon

# two one-shingle documents whose 60-bit fingerprints differ but agree
# modulo MINHASH_P, so every band minimum agrees: a candidate pair with an
# empty intersection
CONGRUENT = ("w10409 x10409 y10409", "w41544 x41544 y41544")

EDGE_DOCS = [
    (1, None),
    (2, ""),
    (3, "   "),
    (4, "alpha"),
    (5, "alpha beta"),
    (6, "alpha beta"),
    (7, "x y z x y z x y z"),
    (8, "the quick brown fox jumps over the lazy dog"),
    (9, "the quick brown fox jumps over the lazy dog"),
    (10, "the quick brown fox leaps over the lazy dog"),
    (11, CONGRUENT[0]),
    (12, CONGRUENT[1]),
    (13, "x y z"),
]

# one two-token document spelled with one space, two spaces and a tab:
# both engines split on any whitespace run, so all three are one shingle
WHITESPACE_DOCS = [(1, "alpha beta"), (2, "alpha  beta"), (3, "alpha\tbeta")]


def _fp(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _oracle(rows: list, threshold: int) -> pd.DataFrame:
    """The oracle's pair rows over ``rows`` at ``threshold``: its CTEs up
    to the fingerprint intersection, with the threshold applied here
    instead of the registry's fixed one."""
    con = duckdb.connect()
    try:
        con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
        return con.execute(f"""
WITH {QT._minhash_pairs_ctes()}
SELECT i.id_a, i.id_b, i.inter, na.n_sh + nb.n_sh - i.inter AS "union",
       (i.inter * 1000000) // (na.n_sh + nb.n_sh - i.inter) AS jaccard_e6
FROM inter i
JOIN sizes na ON na.doc_id = i.id_a
JOIN sizes nb ON nb.doc_id = i.id_b
WHERE (i.inter * 1000000) // (na.n_sh + nb.n_sh - i.inter) >= {threshold}""").df()
    finally:
        con.close()


def _pairs_match_the_oracle(spark, rows: list, threshold: int) -> pd.DataFrame:
    docs = local_frame(spark, rows, "doc_id BIGINT, text STRING")
    got = canon(dedup.minhash_lsh_pairs(docs, jaccard_e6_min=threshold).toPandas())
    want = canon(_oracle(rows, threshold))
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    return got


@pytest.mark.parametrize("threshold", [0, 100_000])
def test_minhash_pairs_match_the_oracle_on_edge_cases(spark, threshold):
    """Null and blank text, one- and two-token documents, a repeated
    shingle, identical documents, a pair linked only by a shared band
    minimum, and two-token documents whose tokens are split by different
    whitespace give the oracle's rows, at threshold 0 as at the
    registry's."""
    a, b = (_fp(s) for s in CONGRUENT)
    assert a != b and a % dedup.MINHASH_P == b % dedup.MINHASH_P
    got = _pairs_match_the_oracle(spark, EDGE_DOCS, threshold)
    pairs = set(zip(got.id_a, got.id_b))
    assert (8, 9) in pairs and (5, 6) in pairs and (2, 3) in pairs, pairs
    assert (11, 12) not in pairs and not any(1 in p for p in pairs), pairs
    # 7's seven shingles are three distinct ones, one of them 13's only one
    row = got[(got.id_a == 7) & (got.id_b == 13)]
    assert (row.inter.tolist(), row.union.tolist()) == ([1], [3]), got
    ws = _pairs_match_the_oracle(spark, WHITESPACE_DOCS, threshold)
    assert sorted(zip(ws.id_a, ws.id_b, ws.inter)) == [(1, 2, 1), (1, 3, 1), (2, 3, 1)], ws
