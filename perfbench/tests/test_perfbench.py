"""Tests for the benchmark's pure parts: watermark diffing, span self
time, result hashing and metric aggregation.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import run  # noqa: E402
import stores  # noqa: E402
from spans import Span, Tracer, self_time  # noqa: E402


def _stage(sid, status="COMPLETE", **kw):
    return {"stageId": sid, "status": status, **kw}


def _snap(stage_ids, job_ids=(), exec_ids=()):
    return {
        "stages": [_stage(s) for s in stage_ids],
        "jobs": [{"jobId": j, "stageIds": []} for j in job_ids],
        "executions": [{"executionId": e} for e in exec_ids],
    }


# ---- watermark diffing -------------------------------------------------


def test_since_counts_only_entries_above_the_watermark():
    mark = stores.marks(_snap([3, 4, 5], [1, 2], [7]))
    later = _snap([4, 5, 6, 7], [2, 3], [7, 8, 9])
    delta = stores.since(later, mark)
    assert [s["stageId"] for s in delta["stages"]] == [6, 7]
    assert [j["jobId"] for j in delta["jobs"]] == [3]
    assert [e["executionId"] for e in delta["executions"]] == [8, 9]


def test_eviction_does_not_make_totals_negative_or_recount():
    """The store drops its oldest stages; whole-list totals would shrink,
    watermark diffing counts only the new stage."""
    before = {"stages": [_stage(i, executorRunTime=1000) for i in range(1000)], "jobs": [],
              "executions": []}
    after = {"stages": [_stage(i, executorRunTime=1000) for i in range(1, 1001)], "jobs": [],
             "executions": []}
    delta = stores.since(after, stores.marks(before))
    assert stores.stage_totals(delta)["spark.task_s"] == 1.0


def test_marks_never_move_backwards():
    previous = {"stages": 10, "jobs": 4, "executions": 2}
    assert stores.marks(_snap([]), previous) == previous
    assert stores.marks(_snap([12], [5], [1]), previous) == {"stages": 12, "jobs": 5,
                                                             "executions": 2}


def test_stage_totals_skip_skipped_stages_and_convert_units():
    delta = {
        "jobs": [{"jobId": 0, "stageIds": [0, 1]}],
        "stages": [
            _stage(0, executorRunTime=1500, executorCpuTime=2 * 10**9,
                   executorDeserializeCpuTime=10**9, numCompleteTasks=4,
                   shuffleWriteBytes=100, diskBytesSpilled=7),
            _stage(1, status="SKIPPED", executorRunTime=99999, numCompleteTasks=50),
        ],
        "executions": [],
    }
    t = stores.stage_totals(delta)
    assert t["spark.jobs"] == 1
    assert t["spark.stages"] == 1
    assert t["spark.tasks"] == 4
    assert t["spark.task_s"] == 1.5
    assert t["spark.exec_cpu_s"] == 3.0
    assert t["spark.shuffle_write_bytes"] == 100
    assert t["spark.spill_bytes"] == 7


def test_sort_phases_split_sample_map_and_reduce():
    delta = {
        "jobs": [
            {"jobId": 1, "stageIds": [1]},
            {"jobId": 2, "stageIds": [2]},
            {"jobId": 3, "stageIds": [3, 4]},
        ],
        "stages": [
            _stage(1, submissionTime=0, completionTime=500),
            _stage(2, submissionTime=500, completionTime=2500, shuffleWriteBytes=10),
            _stage(3, status="SKIPPED", shuffleWriteBytes=10),
            _stage(4, submissionTime=2500, completionTime=3500),
        ],
        "executions": [],
    }
    assert stores.sort_phases(delta) == {
        "sources.sample_s": 0.5,
        "sources.map_s": 2.0,
        "sources.reduce_s": 1.0,
    }


@pytest.mark.parametrize(
    "text,value",
    [
        ("10,000", 10000.0),
        ("total (min, med, max (stageId: taskId))\n4.7 s (1.2 s, 1.2 s, 1.2 s (stage 3.0: task 8))",
         4.7),
        ("total (min, med, max (stageId: taskId))\n250 ms (1 ms, 2 ms, 3 ms (stage 1.0: task 2))",
         0.25),
        ("total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB (stage 1.0: task 2))",
         2048.0),
        ("1.5 m", 90.0),
    ],
)
def test_parse_metric_total(text, value):
    assert stores.parse_metric_total(text) == pytest.approx(value)


def test_parse_metric_total_rejects_unknown_units():
    with pytest.raises(ValueError):
        stores.parse_metric_total("3 furlongs")


def test_python_metrics_sum_named_accumulators():
    executions = [
        {
            "executionId": 5,
            "metrics": [
                {"name": "time to run Python workers", "accumulatorId": 1},
                {"name": "data sent to Python workers", "accumulatorId": 2},
                {"name": "number of output rows", "accumulatorId": 3},
            ],
            "metricValues": {"1": "total (min, med, max)\n2.0 s (1 s, 1 s, 1 s)", "2": "1.0 KiB",
                             "3": "10"},
        }
    ]
    assert stores.python_metrics(executions) == {
        "pyworker.udf_s": 2.0,
        "pyworker.boot_s": 0.0,
        "pyworker.bytes_sent": 1024.0,
    }


# ---- /proc -------------------------------------------------------------


def test_parse_stat_handles_spaces_and_parens_in_the_command():
    tick = stores._TICK
    fields = ["S", "41"] + ["0"] * 9 + [str(2 * tick), str(tick), str(3 * tick), str(tick)]
    text = "1234 (java (x) y) " + " ".join(fields + ["0"] * 30)
    assert stores.parse_stat(text) == (41, 3.0, 4.0)


def test_cpu_split_counts_reaped_workers():
    table = {
        1: (0, 1.0, 50.0),  # driver; its cutime includes nothing live
        2: (1, 10.0, 3.0),  # JVM; reaped 3 s of exited daemons
        3: (2, 1.0, 4.0),  # Python daemon; reaped 4 s of exited workers
        4: (3, 2.0, 0.0),  # live worker
        9: (7, 100.0, 0.0),  # unrelated process
    }
    assert sorted(stores.descendants(table, 2)) == [3, 4]
    assert stores.cpu_split(table, 1, 2) == {"driver": 1.0, "jvm": 10.0, "pyworker": 10.0}


def test_host_ticks_and_steal_share():
    before = stores.host_ticks("cpu  100 0 50 800 10 0 5 35 7 0\ncpu0 1 2 3\n")
    after = stores.host_ticks("cpu  200 0 60 1500 10 0 5 225 9 0\ncpu0 1 2 3\n")
    assert before == (35, 1000)  # guest (7) is inside user already
    assert after == (225, 2000)
    assert stores.steal_share(before, after) == pytest.approx(0.19)
    assert stores.steal_share(before, before) == 0.0


# ---- spans -------------------------------------------------------------


def test_self_time_subtracts_the_union_of_overlapping_children():
    parent = Span(0, "pass", None, 0.0, 10.0)
    kids = [
        Span(1, "a", 0, 1.0, 3.0),
        Span(2, "b", 0, 2.0, 4.0),  # overlaps a
        Span(3, "c", 0, 6.0, 12.0),  # runs past the parent's end
    ]
    assert self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 4.0)
    assert self_time(parent, []) == 10.0


def test_tracer_records_parents_and_times():
    tr = Tracer()
    with tr.span("pass"):
        with tr.span("job:q1"):
            with tr.span("build"):
                pass
    names = {s.name: s for s in tr.spans}
    assert names["pass"].parent is None
    assert names["job:q1"].parent == names["pass"].id
    assert names["build"].parent == names["job:q1"].id
    out = tr.to_json()
    assert all(s["end"] >= s["start"] and s["self_s"] >= 0 for s in out)


# ---- result hashes -----------------------------------------------------


def test_hash_ignores_row_and_column_order():
    a = checks.result_hash(["x", "y"], [(1, "a"), (2, "b")])
    b = checks.result_hash(["y", "x"], [("b", 2), ("a", 1)])
    assert a == b


def test_hash_sees_multiplicity_and_values():
    base = checks.result_hash(["x"], [(1,), (2,)])
    assert checks.result_hash(["x"], [(1,), (2,), (2,)]) != base
    assert checks.result_hash(["x"], [(1,), (3,)]) != base
    assert checks.result_hash(["z"], [(1,), (2,)]) != base


def test_hash_normalises_like_the_oracle_compare():
    nan = float("nan")
    assert checks.norm(nan) == "NaN"
    assert checks.norm(0.1) == repr(0.1)
    assert checks.norm(b"\x01\xff") == "01ff"
    assert checks.result_hash(["v"], [(nan,)]) == checks.result_hash(["v"], [(float("nan"),)])


def _workload_queries() -> set:
    """CATALOG_MIX, read without importing the engine."""
    import ast

    with open(os.path.join(run.BENCH_DIR, "workloads.py")) as f:
        tree = ast.parse(f.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and node.targets[0].id == "CATALOG_MIX":
            return set(ast.literal_eval(node.value))
    raise AssertionError("CATALOG_MIX not found")


def test_expected_file_has_exactly_the_workloads_queries():
    with open(os.path.join(run.BENCH_DIR, "expected.json")) as f:
        expected = json.load(f)["queries"]
    assert set(expected) == _workload_queries()
    for entry in expected.values():
        assert entry["tables"] and entry["hash"].count(":") == 2
        for t in entry["tables"]:
            assert os.path.exists(os.path.join(run.BENCH_DIR, "data", "sf0.01", f"{t}.parquet"))


# ---- aggregation and output -------------------------------------------


def test_summarize_passes_takes_medians_and_fills_missing_with_zero():
    passes = [
        {"layers": {"a": 1.0, "b": 5.0}},
        {"layers": {"a": 3.0}},
        {"layers": {"a": 2.0, "b": 7.0}},
    ]
    assert run.summarize_passes(passes) == {"a": 2.0, "b": 5.0}
    assert run.summarize_passes([]) == {}


def test_layer_metric_names_are_unique_and_cover_jobs():
    names = run.layer_metric_names({"w1": ("q1", "q2"), "w2": ("q3",)}, iterative=("q3",))
    assert len(names) == len(set(names))
    assert {"q1.wall_s", "q2.wall_s", "q3.wall_s", "q3.build_s", "q3.jobs", "q3.stages"} <= set(names)
    assert "q1.jobs" not in names


def test_units():
    assert run.unit_of("spark.task_s") == "s"
    assert run.unit_of("spark.shuffle_write_bytes") == "bytes"
    assert run.unit_of("pyworker.bytes_sent") == "bytes"
    assert run.unit_of("sources.io_passes") == "ratio"
    assert run.unit_of("q86_kcore.jobs") == "count"


def test_result_line_shape():
    line = run.result_line(True, 4, 0, {"wall_s": 1.25}, run.END_TO_END.get)
    assert json.loads(line) == {
        "correct": True,
        "attempted": 4,
        "failed": 0,
        "metrics": {"wall_s": {"value": 1.25, "unit": "s"}},
    }


def test_benchmark_json_matches_the_metrics_the_runner_emits():
    with open(os.path.join(os.path.dirname(run.BENCH_DIR), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    layer = [m["name"] for m in spec["per_layer"]]
    assert layer[: len(run.LAYER_METRICS)] == list(run.LAYER_METRICS)
    for m in spec["end_to_end"] + spec["per_layer"]:
        expected_unit = run.END_TO_END.get(m["name"]) or run.unit_of(m["name"])
        assert m["unit"] == expected_unit


def test_git_commit_reads_refs_without_git(tmp_path):
    git = tmp_path / ".git"
    (git / "refs" / "heads").mkdir(parents=True)
    (git / "HEAD").write_text("ref: refs/heads/main\n")
    (git / "refs" / "heads" / "main").write_text("abc123\n")
    assert run.git_commit(str(tmp_path)) == "abc123"
    assert run.git_commit(str(tmp_path / "missing")) == "unknown"
