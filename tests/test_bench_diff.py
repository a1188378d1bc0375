"""tools/bench_diff.py loader: every capture format it claims to read.

The bench signal crosses three formats (raw bench lines, BENCH_FULL
files, truncated driver tails); a loader bug silently produces an
empty overlap and a useless round comparison, so pin each path.
"""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

spec = importlib.util.spec_from_file_location(
    "bench_diff", Path(__file__).resolve().parent.parent / "tools" / "bench_diff.py"
)
bench_diff = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench_diff)


def test_loads_bench_full_and_raw_line(tmp_path):
    full = {"metric": "x", "queries": {"q01_a": 1.5, "q02_b": 0.25}}
    p = tmp_path / "BENCH_FULL.json"
    p.write_text(json.dumps(full))
    assert bench_diff.load_queries(str(p)) == {"q01_a": 1.5, "q02_b": 0.25}


def test_loads_driver_record_with_truncated_tail(tmp_path):
    # a driver record whose tail lost the JSON head mid-entry — the
    # tolerant regex must still recover the complete pairs
    tail = '3], "q05_x": [1.25, 1.75], "q06_y": 2.0, "q07_z": [0.5'
    p = tmp_path / "BENCH_r99.json"
    p.write_text(json.dumps({"n": 1, "tail": tail, "parsed": None}))
    got = bench_diff.load_queries(str(p))
    # q05 list -> median (index 1 of the sorted 2-list = max), q06
    # scalar; q07's value is cut off and must be skipped, not crash
    assert got["q05_x"] == 1.75
    assert got["q06_y"] == 2.0
    assert "q07_z" not in got


def test_median_of_sample_lists():
    assert bench_diff._median(3.0) == 3.0
    assert bench_diff._median([3.0, 1.0, 2.0]) == 2.0


def test_bench_emit_payloads_partial_vs_headline():
    """The bench evidence contract (ADVICE r08): a subset run renames
    the metric (a parser keyed on the headline name can never ingest
    a subset total), flags itself partial, writes a suffixed file,
    and warns with the ACTUAL reason; a full headline-SF run keeps
    the bare filename and headline metric."""
    import bench

    timings = {"q01": 1.0, "q02": 2.0}
    runs = {"q01": [0.9, 1.0, 1.1], "q02": [1.8, 2.0, 2.2]}

    # full run at the headline SF, stamped with the session's parallelism
    full, compact, suffix, warnings = bench.emit_payloads(
        timings, runs, 3, bench.HEADLINE_SF_DIR, "",
        master="local[8]", default_parallelism=8,
    )
    assert full["master"] == "local[8]"
    assert full["default_parallelism"] == 8
    assert full["metric"] == "headline_queries_wall_clock"
    assert compact["metric"] == "headline_queries_wall_clock"
    assert full["partial"] is False and compact["partial"] is False
    assert suffix == "" and warnings == []
    assert compact["value"] == 3.0

    # subset run at the SAME headline SF: partial reason only
    full, compact, suffix, warnings = bench.emit_payloads(
        timings, runs, 5, bench.HEADLINE_SF_DIR, "q01"
    )
    assert full["metric"] == "partial_queries_wall_clock"
    assert compact["metric"] == "partial_queries_wall_clock"
    assert full["partial"] is True and compact["partial"] is True
    assert suffix == "_partial"
    assert len(warnings) == 1
    assert "partial run (SPARK_GRAFT_BENCH_ONLY=q01)" in warnings[0]
    assert "non-headline" not in warnings[0]

    # full run at a NON-headline SF: SF reason only
    full, compact, suffix, warnings = bench.emit_payloads(
        timings, runs, 3, "/root/testdata/sf0.001", ""
    )
    assert full["metric"] == "headline_queries_wall_clock"
    assert suffix == "_sf0.001"
    assert len(warnings) == 1
    assert "non-headline SF" in warnings[0]
    assert "partial run" not in warnings[0]

    # subset at a non-headline SF: both reasons, both suffix parts
    _, _, suffix, warnings = bench.emit_payloads(
        timings, runs, 3, "/root/testdata/sf0.001", "q01,q02"
    )
    assert suffix == "_partial_sf0.001"
    assert "partial run" in warnings[0] and "non-headline SF" in warnings[0]


def test_adjudications_annotate_and_clear_gate(tmp_path, monkeypatch, capsys):
    """A flagged regression with a calm-window adjudication that clears
    the same threshold math is annotated (loudly) and excluded from the
    failing exit gate; a stale adjudication that does NOT clear it
    stays a REGRESSION — adjudications can never mask a real one."""
    import sys

    before = {"metric": "x", "queries": {"q01_a": 2.0, "q02_b": 2.0}}
    after = {"metric": "x", "queries": {"q01_a": 4.0, "q02_b": 4.0}}
    pb, pa = tmp_path / "b.json", tmp_path / "a.json"
    pb.write_text(json.dumps(before))
    pa.write_text(json.dumps(after))
    adj = tmp_path / "adj.json"
    adj.write_text(json.dumps(
        {"q01_a": {"value": 2.1, "date": "2026-08-16", "note": "noise"}}
    ))

    monkeypatch.setattr(
        sys, "argv",
        ["bench_diff", str(pb), str(pa), "--adjudications", str(adj)],
    )
    rc = bench_diff.main()
    out = capsys.readouterr().out
    assert "ADJUDICATED q01_a" in out and "2026-08-16" in out
    assert "REGRESSION q02_b" in out
    assert "1 regression(s)" in out
    assert rc == 1

    # adjudicated value worse than threshold*before: still a regression
    adj.write_text(json.dumps({"q01_a": {"value": 3.5, "date": "old"}}))
    rc = bench_diff.main()
    out = capsys.readouterr().out
    assert "REGRESSION q01_a" in out and "ADJUDICATED" not in out
    assert rc == 1

    # --adjudications '' disables the mechanism entirely
    monkeypatch.setattr(
        sys, "argv", ["bench_diff", str(pb), str(pa), "--adjudications", ""]
    )
    rc = bench_diff.main()
    out = capsys.readouterr().out
    assert "ADJUDICATED" not in out and rc == 1


def test_deliberate_adjudication_rebaselines(tmp_path, monkeypatch, capsys):
    """A deliberate:true entry makes the calm value the NEW baseline:
    a capture at (or under) threshold x calm is annotated and clears
    the gate even though it fails threshold x before, while a capture
    worse than threshold x calm still fails — the recorded trade can
    never mask a further regression on top of it."""
    import sys

    before = {"metric": "x", "queries": {"q01_a": 2.0}}
    pb = tmp_path / "b.json"
    pb.write_text(json.dumps(before))
    adj = tmp_path / "adj.json"
    adj.write_text(json.dumps({
        "q01_a": {"value": 4.0, "date": "2026-08-16",
                  "note": "trade", "deliberate": True}
    }))

    # 2.0 -> 4.1: fails threshold*before (1.5x) but is within
    # threshold*calm (6.0) — adjudicated as deliberate, gate clears
    pa = tmp_path / "a.json"
    pa.write_text(json.dumps({"metric": "x", "queries": {"q01_a": 4.1}}))
    monkeypatch.setattr(
        sys, "argv",
        ["bench_diff", str(pb), str(pa), "--adjudications", str(adj)],
    )
    rc = bench_diff.main()
    out = capsys.readouterr().out
    assert "ADJUDICATED q01_a" in out and "deliberate" in out
    assert rc == 0

    # 2.0 -> 6.5: worse than threshold*calm — still a REGRESSION
    pa.write_text(json.dumps({"metric": "x", "queries": {"q01_a": 6.5}}))
    rc = bench_diff.main()
    out = capsys.readouterr().out
    assert "REGRESSION q01_a" in out
    assert rc == 1

    # without deliberate:true the same calm value must NOT rebaseline
    adj.write_text(json.dumps(
        {"q01_a": {"value": 4.0, "date": "2026-08-16", "note": "calm"}}
    ))
    pa.write_text(json.dumps({"metric": "x", "queries": {"q01_a": 4.1}}))
    rc = bench_diff.main()
    out = capsys.readouterr().out
    assert "REGRESSION q01_a" in out
    assert rc == 1


def test_emit_payloads_records_load_and_flags_contention():
    """VERDICT r10 #3: per-sample load1 goes into BENCH_FULL.json so
    contention is machine-visible; samples over CONTENDED_X x cpus are
    counted and warned about.  Calm loads produce no warning."""
    import os

    import bench

    timings = {"q01": 1.0}
    runs = {"q01": [0.9, 1.0, 1.1]}
    cpus = os.cpu_count() or 1

    calm = {"q01": [0.5 * cpus, 0.8 * cpus, 1.0 * cpus]}
    full, _, _, warnings = bench.emit_payloads(
        timings, runs, 3, bench.HEADLINE_SF_DIR, "", loads=calm
    )
    assert full["load"] == calm and full["cpus"] == cpus
    assert full["contended_samples"] == 0
    assert warnings == []

    hot = {"q01": [0.9 * cpus, 2.0 * cpus, 1.0 * cpus]}
    full, _, _, warnings = bench.emit_payloads(
        timings, runs, 3, bench.HEADLINE_SF_DIR, "", loads=hot
    )
    assert full["contended_samples"] == 1
    assert any("contended capture" in w for w in warnings)

    # captures without load evidence stay byte-compatible
    full, _, _, warnings = bench.emit_payloads(
        timings, runs, 3, bench.HEADLINE_SF_DIR, ""
    )
    assert "load" not in full and warnings == []


def test_partials_ledger_headline_sf_only():
    """ADVICE r10: smoke-scale partials must not enter the
    BENCH_PARTIALS.jsonl ledger that adjudications anchor on."""
    import bench

    assert bench.ledger_eligible("q01", bench.HEADLINE_SF_DIR)
    assert not bench.ledger_eligible("q01", "/root/testdata/sf0.001")
    assert not bench.ledger_eligible("", bench.HEADLINE_SF_DIR)


def test_bench_diff_annotates_flags_under_load(tmp_path, monkeypatch, capsys):
    """A REGRESSION whose after-capture samples saw load1 above
    CONTENDED_X x cpus is suffixed [UNDER LOAD: ...]; the annotation
    does not clear the gate, and calm flags carry no suffix."""
    import sys

    before = {"metric": "x", "queries": {"q01_a": 2.0, "q02_b": 2.0}}
    after = {
        "metric": "x",
        "queries": {"q01_a": 4.0, "q02_b": 4.0},
        "cpus": 32,
        "load": {"q01_a": [30.0, 61.5, 33.0], "q02_b": [30.0, 31.0, 33.0]},
    }
    pb, pa = tmp_path / "b.json", tmp_path / "a.json"
    pb.write_text(json.dumps(before))
    pa.write_text(json.dumps(after))
    monkeypatch.setattr(
        sys, "argv", ["bench_diff", str(pb), str(pa), "--adjudications", ""]
    )
    rc = bench_diff.main()
    out = capsys.readouterr().out
    line_q01 = next(ln for ln in out.splitlines() if "REGRESSION q01_a" in ln)
    line_q02 = next(ln for ln in out.splitlines() if "REGRESSION q02_b" in ln)
    assert "UNDER LOAD" in line_q01 and "1.92x cpus" in line_q01
    assert "UNDER LOAD" not in line_q02
    assert rc == 1


def test_steal_evidence_recorded_and_annotated(tmp_path, monkeypatch, capsys):
    """Host co-tenancy shows as CPU steal, not load1 (the r09/r10
    episodes: loadavg calm, queries 2-13x slow).  bench.py counts
    steal-hot samples as contended; bench_diff annotates flags whose
    after-samples exceeded STEAL_PCT_X even when load1 was calm."""
    import sys

    import bench

    timings = {"q01": 1.0}
    runs = {"q01": [0.9, 1.0, 1.1]}
    calm_load = {"q01": [1.0, 2.0, 1.5]}
    hot_steal = {"q01": [0.1, 12.5, 0.3]}
    full, _, _, warnings = bench.emit_payloads(
        timings, runs, 3, bench.HEADLINE_SF_DIR, "",
        loads=calm_load, steals=hot_steal,
    )
    assert full["steal_pct"] == hot_steal
    assert full["contended_samples"] == 1
    assert any("contended capture" in w for w in warnings)

    before = {"metric": "x", "queries": {"q01_a": 2.0}}
    after = {
        "metric": "x",
        "queries": {"q01_a": 4.0},
        "cpus": 32,
        "load": {"q01_a": [3.0, 4.0, 3.5]},           # calm load1
        "steal_pct": {"q01_a": [0.2, 9.8, 0.1]},       # host steal spike
    }
    pb, pa = tmp_path / "b.json", tmp_path / "a.json"
    pb.write_text(json.dumps(before))
    pa.write_text(json.dumps(after))
    monkeypatch.setattr(
        sys, "argv", ["bench_diff", str(pb), str(pa), "--adjudications", ""]
    )
    rc = bench_diff.main()
    out = capsys.readouterr().out
    line = next(ln for ln in out.splitlines() if "REGRESSION q01_a" in ln)
    assert "max steal 9.8%" in line and "load1" not in line
    assert rc == 1
