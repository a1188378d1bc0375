"""Every declared query must match its DuckDB oracle at sf0.001, must
leave no Dataset cache behind in the session once its result is
consumed, and must leave the session's conf exactly as it found it."""

from __future__ import annotations

import pytest

from themis_tritonsort_spark.queries import CATALOG, ORACLES

from .oracle_harness import compare


@pytest.mark.parametrize("name", sorted(CATALOG))
def test_query_matches_oracle(spark, sf_dir, name):
    conf_before = spark.conf.getAll
    result = compare(spark, sf_dir, CATALOG[name], ORACLES[name])
    assert result["ok"], f"{name}: {result}"
    assert spark.conf.getAll == conf_before, f"{name} changed session conf"
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty(), f"{name} left a Dataset cache in the session"
