"""Differential gate: every registered query vs its DuckDB oracle at
sf0.01 — the same check the driver runs for CORRECTNESS_r{N}.json."""

import pytest

from pydriosm_spark import queries
from tests.oracle_util import compare
from tests.conftest import SF_CORRECT


@pytest.mark.parametrize("name", sorted(queries.registry().keys()))
def test_query_matches_oracle(spark, name):
    fn, sql = queries.registry()[name]
    if sql is None:
        df = fn(spark, SF_CORRECT)
        assert df.count() >= 0
        return
    compare(fn(spark, SF_CORRECT), sql, SF_CORRECT)

