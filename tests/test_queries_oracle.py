"""Every declared query must match its DuckDB oracle at sf0.001 (the
driver runs the same compare at sf0.01)."""

from __future__ import annotations

import pytest

from themis_tritonsort_spark.queries import ORACLES, QUERIES

from .oracle_harness import compare


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    result = compare(spark, sf_dir, QUERIES[name], ORACLES[name])
    assert result["ok"], f"{name}: {result}"
