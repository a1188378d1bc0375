"""In-process tests for the job-runner CLI (run.main)."""

from __future__ import annotations

import json

from themis_tritonsort_spark.run import main

from .conftest import SF_SMOKE


def test_cli_runs_catalog_query(spark, capsys, tmp_path):
    out = tmp_path / "q16"
    rc = main(["--query", "q16_top_customers", "--sf-dir", SF_SMOKE,
               "--output", str(out)])
    assert rc == 0
    assert spark.read.parquet(str(out)).count() == 10


def test_cli_rejects_unknown_query(capsys):
    assert main(["--query", "nope", "--sf-dir", SF_SMOKE]) == 2


def test_cli_runs_job_spec_chain(spark, tmp_path):
    spec = [
        {"map_function": "WordCountMapFunction", "params": {"COLUMN": "text"},
         "input_table": "documents", "reduce_function": "WordCountReduceFunction"},
    ]
    p = tmp_path / "spec.json"
    p.write_text(json.dumps(spec))
    out = tmp_path / "wc"
    rc = main(["--spec", str(p), "--sf-dir", SF_SMOKE, "--output", str(out)])
    assert rc == 0
    assert spark.read.parquet(str(out)).count() > 0


def test_cli_gensort_valsort_roundtrip(spark, capsys, tmp_path):
    recs = tmp_path / "recs"
    rc = main(["--gensort", "1000", "--output", str(recs)])
    assert rc == 0
    out = capsys.readouterr().out
    # bare hex checksum, identical to the reference binary's stderr line
    assert "1ea6370b955" in out

    # raw (unsorted) input: valsort reports order failure via exit code
    rc = main(["--valsort", str(recs)])
    assert rc == 1
    assert "checksum=1ea6370b955" in capsys.readouterr().out


def test_cli_gensort_checksum_only(capsys):
    rc = main(["--gensort", "2000", "--start", "5000"])
    assert rc == 0
    assert "3f070c88a47" in capsys.readouterr().out


def test_driver_sim_staleness_report(monkeypatch):
    """tools/driver_sim.py's freshness audit: windowed entries always
    count as current, and an entry outside the window is flagged once
    its newest driver row is one window rotation old
    (ceil(148 / 50) = 3 rounds), not before — the rotation-debt
    contract.  The committed gate history reports nothing."""
    import math
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from driver_sim import WINDOW, staleness_report

    import __spark_entry__ as em

    names = list(em.queries())
    assert staleness_report(names) == []

    period = math.ceil(len(names) / WINDOW)
    # synthetic history, current round 11: one entry outside the window
    # one rotation old, one a round younger, one inside the window at 9
    # rounds old (never flagged: this round gates it)
    newest = {name: 10 for name in names}
    newest[names[0]] = 11 - 9
    newest[names[WINDOW]] = 11 - period
    newest[names[WINDOW + 1]] = 11 - (period - 1)
    monkeypatch.setattr(em, "newest_passes", lambda: newest)
    warnings = staleness_report(names)
    assert [w.split()[1].rstrip(":") for w in warnings] == [names[WINDOW]]


def test_scale_probe_powerlaw_generator_is_pinned(spark):
    """tools/scale_probe.py's power-law graph is a pure function of
    (n, seed): its canonical edge and oriented wedge counts at n = 500,
    seed 7 stay those every committed powerlaw capture was built on."""
    from tools.scale_probe import canonical_edge_count_and_wedges, powerlaw_graph

    edges = powerlaw_graph(spark, 500, seed=7)
    assert canonical_edge_count_and_wedges(edges) == (3967, 14551)
