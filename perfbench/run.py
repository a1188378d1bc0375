#!/usr/bin/env python3
"""Themis/TritonSort-on-Spark benchmark.

    python3 perfbench/run.py --workload graysort --seed 1 --seconds 12 --trace 0

Runs one workload in one driver process on ``local[nproc]`` as a closed
loop: set-up (repeated, median reported), warm-up passes (the first one
cold), then a fixed number of warm passes sized by ``--seconds``.  Every
job's output is checked.  The last stdout line is one JSON object:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.  Spans, counters and the environment stamp go to
``.perfbench_run/trace-<workload>-<seed>-<trace>.json`` in the checkout.

See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

import stores
from spans import Tracer

PROCESS_START = time.perf_counter()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(ROOT, ".perfbench_run")
ENGINE_FILES = ("__spark_entry__.py", os.path.join("themis_tritonsort_spark", "__init__.py"))
WORKLOADS = ("graysort", "catalog_mix")
# Set-up is repeated at least this often, and until the repeats after the
# first (which also launches the JVM) add up to SETUP_MIN_S: a cheap
# set-up (a session restart) is sampled more often, so its median is
# steady too.
SETUP_MIN_REPEATS = 3
SETUP_MIN_S = 2.5
MIN_PASSES = 3

LAYER_METRICS = (
    "session.start_s",
    "session.warmup_s",
    "sources.gen_s",
    "sources.valsort_s",
    "sources.sample_s",
    "sources.map_s",
    "sources.reduce_s",
    "sources.io_passes",
    "queries.build_s",
    "queries.build_jobs",
    "driver.py_cpu_s",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.deser_s",
    "spark.driver_jvm_cpu_s",
    "spark.task_s",
    "spark.exec_cpu_s",
    "spark.gc_s",
    "spark.slot_util",
    "spark.input_bytes",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.fetch_wait_s",
    "spark.spill_bytes",
    "pyworker.cpu_s",
    "pyworker.udf_s",
    "pyworker.boot_s",
    "pyworker.bytes_sent",
    "trace.overhead_s",
)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}


def unit_of(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("bytes") or metric.endswith("bytes_sent"):
        return "bytes"
    if metric in ("sources.io_passes", "spark.slot_util"):
        return "ratio"
    return "count"


def layer_metric_names(jobs_by_workload: dict[str, tuple], iterative: tuple) -> list[str]:
    """Fixed layer metrics, then per-job ones (build time, jobs and
    stages of the iterative jobs too).  Every run reports all of them; a layer a
    workload does not use reports 0."""
    names = list(LAYER_METRICS)
    for jobs in jobs_by_workload.values():
        for job in jobs:
            names.append(f"{job}.wall_s")
            if job in iterative:
                names += [f"{job}.build_s", f"{job}.jobs", f"{job}.stages"]
    return names


def median_of(passes: list[dict], key: str) -> float:
    return statistics.median(p[key] for p in passes)


def summarize_passes(passes: list[dict]) -> dict:
    """Median of each numeric counter over the given passes."""
    keys = set().union(*(p["layers"] for p in passes)) if passes else set()
    return {k: statistics.median(p["layers"].get(k, 0) for p in passes) for k in sorted(keys)}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict, units) -> str:
    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units(k)} for k, v in metrics.items()},
        }
    )


def git_commit(root: str) -> str:
    """HEAD's commit read from .git without running git; "unknown" in an
    exported tree."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_file = os.path.join(git, ref)
        if os.path.exists(ref_file):
            with open(ref_file) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def host_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        return stores.host_ticks(f.read())


def isolate_environment() -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the engine."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK_DIR, sub), exist_ok=True)
    tmp = os.path.join(WORK_DIR, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK_DIR, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # The launcher JVM that spark-submit starts first takes its own options.
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    # A driver heap fixed at its maximum from the start: a heap that grows
    # on demand grows by how long GC pauses took, so its resident size
    # (and peak_rss_mb) moved by 20 % with the load of the host.
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '{jvm_opts} -Xms{heap}' pyspark-shell"
    )
    sys.path.insert(0, ROOT)


class Runner:
    def __init__(self, args):
        self.args = args
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # -- set-up ---------------------------------------------------------

    def setup(self):
        from workloads import make_workload

        setups, gens = [], []
        spark = None
        while len(setups) < SETUP_MIN_REPEATS or sum(setups[1:]) < SETUP_MIN_S:
            with self.tracer.span("setup") as sp:
                with self.tracer.span("session.start") as ss:
                    if spark is not None:
                        spark.stop()
                    from themis_tritonsort_spark.session import get_spark

                    spark = get_spark()
                if not setups:
                    self.session_start_s = ss.end - PROCESS_START
                    self.workload = make_workload(
                        self.args.workload, BENCH_DIR, WORK_DIR, self.args.seed
                    )
                with self.tracer.span("sources.gen") as gen:
                    self.workload.prepare(spark)
            setups.append(sp.duration)
            gens.append(gen.duration)
        self.setups = setups
        self.gen_s = statistics.median(gens)
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())
        if self.args.trace:
            self.stores = stores.SparkStores(spark)

    def environment(self) -> dict:
        import pyspark

        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "master": self.sc.master,
            "defaultParallelism": self.sc.defaultParallelism,
            "nproc": len(os.sched_getaffinity(0)),
            "pyspark": pyspark.__version__,
            "java": self.sc._jvm.java.lang.System.getProperty("java.version"),
            "commit": git_commit(ROOT),
        }

    # -- passes ---------------------------------------------------------

    def cpu(self) -> dict:
        return stores.cpu_split(stores.proc_table(), os.getpid(), self.jvm_pid)

    def run_pass(self, traced: bool) -> dict:
        wl, tr = self.workload, self.tracer
        layers: dict[str, float] = {}

        def add(key, value):
            layers[key] = layers.get(key, 0) + value

        if traced:
            mark = stores.marks(self.stores.snapshot())
        results = {}
        cpu0 = self.cpu()
        with tr.span("pass") as pass_span:
            for job in wl.jobs:
                self.attempted += 1
                with tr.span(f"job:{job}") as js:
                    try:
                        with tr.span("build") as b:
                            df = wl.build(self.spark, job)
                        if traced:
                            ids = self.sc.statusTracker().getJobIdsForGroup(None)
                            add("queries.build_jobs", sum(1 for j in ids if j > mark["jobs"]))
                        with tr.span("action"):
                            results[job] = wl.act(df)
                    except Exception:
                        self.failed += 1
                        self.errors.append(f"{job}: {traceback.format_exc()}")
                        traceback.print_exc()
                add("queries.build_s", b.duration)
                layers[f"{job}.build_s"] = b.duration
                add(f"{job}.wall_s", js.duration)
                if traced:
                    snap = self.stores.snapshot()
                    delta = stores.since(snap, mark)
                    mark = stores.marks(snap, mark)
                    totals = stores.stage_totals(delta)
                    js.counters.update(totals)
                    for k, v in totals.items():
                        add(k, v)
                    for k, v in stores.python_metrics(delta["executions"]).items():
                        add(k, v)
                    layers[f"{job}.jobs"] = totals["spark.jobs"]
                    layers[f"{job}.stages"] = totals["spark.stages"]
                    if wl.sorts_records:
                        for k, v in stores.sort_phases(delta).items():
                            add(k, v)
        cpu1 = self.cpu()
        wall = sum(layers[f"{job}.wall_s"] for job in wl.jobs)
        cpu = {k: cpu1[k] - cpu0[k] for k in cpu1}
        layers["driver.py_cpu_s"] = cpu["driver"]
        layers["pyworker.cpu_s"] = cpu["pyworker"]
        if traced:
            layers["spark.driver_jvm_cpu_s"] = cpu["jvm"] - layers["spark.exec_cpu_s"]
            layers["spark.slot_util"] = layers["spark.task_s"] / (
                wall * self.sc.defaultParallelism
            )
            if wl.sorts_records:
                layers["sources.io_passes"] = (
                    layers["spark.input_bytes"] + layers["spark.shuffle_write_bytes"]
                ) / wl.input_bytes
        for job in wl.jobs:
            if job not in results:
                continue
            with tr.span(f"check:{job}") as ck:
                try:
                    ok = wl.check(self.spark, job, results[job])
                except Exception:
                    traceback.print_exc()
                    ok = False
            if wl.sorts_records:
                add("sources.valsort_s", ck.duration)
            if not ok:
                self.failed += 1
                self.errors.append(f"{job}: output check failed")
        return {
            "traced": traced,
            "wall": wall,
            "elapsed": pass_span.duration,
            "cpu": sum(cpu.values()),
            "layers": layers,
        }

    def measure(self):
        """Warm-up passes (the first one cold), then a fixed number of
        measured passes.

        The JVM keeps compiling for many passes, so pass times fall
        throughout a run.  A time-bounded loop would median over passes
        at run-dependent points of that curve; a pass count fixed by
        ``--seconds`` and the workload's nominal pass time measures the
        same passes in every run."""
        with self.tracer.span("warmup") as w:
            for _ in range(self.workload.warmup_passes):
                self.run_pass(traced=False)
        self.warmup_s = w.duration
        count = max(MIN_PASSES, round(self.args.seconds / self.workload.pass_s))
        # The traced run traces passes 0 and 3 of every 4, so traced and
        # untraced passes sit at the same mean point of the curve and
        # their difference is the tracing overhead.
        if self.args.trace:
            count = max(count, 4)
        ticks0 = host_ticks()
        self.passes = [
            self.run_pass(traced=bool(self.args.trace) and i % 4 in (0, 3))
            for i in range(count)
        ]
        self.steal_share = stores.steal_share(ticks0, host_ticks())

    def peak_rss_mb(self) -> float:
        pids = [os.getpid(), self.jvm_pid] + stores.descendants(stores.proc_table(), self.jvm_pid)
        return stores.peak_rss_mb(pids)

    # -- results --------------------------------------------------------

    def end_to_end(self, peak_rss: float) -> dict:
        plain = [p for p in self.passes if not p["traced"]]
        return {
            "setup_s": statistics.median(self.setups),
            "wall_s": median_of(plain, "wall"),
            "cpu_s": median_of(plain, "cpu"),
            "peak_rss_mb": peak_rss,
        }

    def per_layer(self, names: list[str]) -> dict:
        traced = [p for p in self.passes if p["traced"]]
        plain = [p for p in self.passes if not p["traced"]]
        out = {name: 0 for name in names}
        out.update(summarize_passes(traced))
        out["session.start_s"] = self.session_start_s
        out["session.warmup_s"] = self.warmup_s
        if self.workload.sorts_records:
            out["sources.gen_s"] = self.gen_s
        out["trace.overhead_s"] = median_of(traced, "elapsed") - median_of(plain, "elapsed")
        return {k: out[k] for k in names}

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        from pyspark import SparkContext

        spark = getattr(self, "spark", None)
        if spark is not None:
            spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [f for f in ENGINE_FILES if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: engine sources missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    isolate_environment()
    import workloads

    names = layer_metric_names(
        {"graysort": ("graysort",), "catalog_mix": workloads.CATALOG_MIX},
        iterative=workloads.ITERATIVE,
    )
    runner = Runner(args)
    try:
        runner.setup()
        env = runner.environment()
        print("env " + json.dumps(env), flush=True)
        runner.measure()
        e2e = runner.end_to_end(runner.peak_rss_mb())
        layers = runner.per_layer(names) if args.trace else {}
    finally:
        if hasattr(runner, "workload"):
            runner.workload.cleanup()
        runner.shutdown()
    path = os.path.join(WORK_DIR, f"trace-{args.workload}-{args.seed}-{args.trace}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "env": env,
                "end_to_end": e2e,
                "per_layer": layers,
                "setups_s": runner.setups,
                "host_steal_share": runner.steal_share,
                "passes": runner.passes,
                "errors": runner.errors,
                "spans": runner.tracer.to_json(),
            },
            f,
            indent=1,
        )
    for k, v in e2e.items():
        print(f"{args.workload} {k} {v!r} {END_TO_END[k]}")
    if runner.workload.sorts_records:
        # The paper's unit; wall_s carries the same information.
        sort_mbps = runner.workload.input_bytes / 1e6 / e2e["wall_s"]
        print(f"{args.workload} sort_MBps {sort_mbps!r} MB/s")
    print(f"{args.workload} error_rate {runner.failed / runner.attempted!r} ratio")
    print(f"{args.workload} host.steal_share {runner.steal_share!r} ratio")
    for k, v in layers.items():
        print(f"{args.workload} {k} {v!r} {unit_of(k)}")
    metrics = layers if args.trace else e2e
    units = unit_of if args.trace else END_TO_END.get
    print(result_line(runner.failed == 0, runner.attempted, runner.failed, metrics, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
