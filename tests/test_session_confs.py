"""Tests for the session-conf pinning in data._ensure_session_confs:
the silent-timezone-shift class of bug (ADVICE r2) must stay loud.  That
read-side pin is the one conf write in the package; operators write no
session conf."""

from __future__ import annotations

import warnings

from themis_tritonsort_spark.data import _ensure_session_confs, table

from .conftest import SF_SMOKE


def test_confs_noop_when_already_pinned(spark):
    # Values already correct -> no warning, no change.
    _ensure_session_confs(spark)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        _ensure_session_confs(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_override_of_foreign_timezone_warns_and_pins(spark):
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            _ensure_session_confs(spark)
        assert any("timeZone" in str(w.message) for w in caught)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        # and the read path still produces UTC-correct instants
        assert table(spark, SF_SMOKE, "events").select("ts").first() is not None
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_star_cc_and_budget_replay_write_no_caller_conf(
    spark, monkeypatch, graph_paths
):
    """Neither star-contraction CC nor the token-budget replay writes
    the caller's session conf: the replay sets its state-store count on
    a session of its own, and star CC runs under the conf it is given,
    on the driver path and on its distributed loop alike."""
    from pyspark.sql.conf import RuntimeConfig

    from themis_tritonsort_spark.operators.components import (
        connected_components_star,
    )
    from themis_tritonsort_spark.streaming.budget import token_budget_replay

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], "src long, dst long"
    )
    docs = spark.createDataFrame(
        [(i, "w w w", "g0") for i in range(6)],
        "doc_id long, text string, source string",
    )
    caller_conf = spark.conf
    before = caller_conf.getAll
    writes = []
    real_set = RuntimeConfig.set

    def spy_set(self, key, value):
        if self is caller_conf:
            writes.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy_set)
    cc = {
        path: sorted(tuple(r) for r in connected_components_star(edges).collect())
        for path in graph_paths
    }
    replayed = token_budget_replay(spark, docs, "doc_id", "text", "source", 8)
    admitted = sorted(r["id"] for r in replayed.collect())
    monkeypatch.undo()
    assert writes == []
    assert spark.conf.getAll == before
    want = [(1, 1), (2, 1), (3, 1), (4, 1), (7, 7), (8, 7)]
    assert cc == {"driver": want, "loop": want}
    assert admitted == [0, 1, 2]
