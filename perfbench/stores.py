"""Counters read from outside the engine: Spark's status stores and /proc.

Spark side.  ``SparkStores`` serialises whole store listings to JSON
inside the JVM (one py4j call each) instead of walking them field by
field, which costs about 0.4 s per read over py4j.  Even so, the
listings are read only in the traced run.

The stores keep a bounded history (1000 stages by default), so whole-
list totals cannot be diffed across a call: entries drop out of the
front.  Instead a watermark (the highest id seen before the call) is
read first and only entries above it are counted afterwards.

/proc side.  Python workers are forked by a daemon that the JVM starts;
workers that exit are reaped by the daemon, so their CPU appears only
in the daemon's ``cutime``/``cstime``.  Summing live processes alone
loses it and can even go negative across a call.
"""

from __future__ import annotations

import json
import os
import re

_MS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_BYTES = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
    "PiB": 1 << 50,
    "EiB": 1 << 60,
}

PYTHON_METRICS = {
    "time to run Python workers": "pyworker.udf_s",
    "time to start Python workers": "pyworker.boot_s",
    "data sent to Python workers": "pyworker.bytes_sent",
}


class SparkStores:
    """JSON snapshots of the core and SQL status stores of one session."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._core = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        # stageList takes no defaults through py4j: every argument is
        # passed explicitly, as Java list/array objects.
        self._none = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _json(self, obj) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(obj))

    def stages(self) -> list[dict]:
        return self._json(
            self._core.stageList(self._none, False, False, self._no_quantiles, self._none)
        )

    def jobs(self) -> list[dict]:
        return self._json(self._core.jobsList(self._none))

    def executions(self) -> list[dict]:
        return self._json(self._sql.executionsList())

    def snapshot(self) -> dict:
        return {"stages": self.stages(), "jobs": self.jobs(), "executions": self.executions()}


def high_mark(items: list[dict], key: str) -> int:
    return max((i[key] for i in items), default=-1)


def marks(snap: dict, previous: dict | None = None) -> dict:
    """Highest stage, job and execution ids in a snapshot.  Never lower
    than ``previous``: a store that evicted everything still must not
    let old entries count again."""
    out = {
        "stages": high_mark(snap["stages"], "stageId"),
        "jobs": high_mark(snap["jobs"], "jobId"),
        "executions": high_mark(snap["executions"], "executionId"),
    }
    if previous:
        out = {k: max(v, previous[k]) for k, v in out.items()}
    return out


def since(snap: dict, mark: dict) -> dict:
    """The part of a snapshot created after ``mark`` was taken."""
    return {
        "stages": [s for s in snap["stages"] if s["stageId"] > mark["stages"]],
        "jobs": [j for j in snap["jobs"] if j["jobId"] > mark["jobs"]],
        "executions": [
            e for e in snap["executions"] if e["executionId"] > mark["executions"]
        ],
    }


def _ran(stages: list[dict]) -> list[dict]:
    return [s for s in stages if s.get("status") != "SKIPPED"]


def stage_wall_s(stage: dict) -> float:
    start, end = stage.get("submissionTime"), stage.get("completionTime")
    if start is None or end is None:
        return 0.0
    return (end - start) / 1e3


def stage_totals(delta: dict) -> dict:
    """Scheduling, executor and shuffle counters over the stages that ran."""
    ran = _ran(delta["stages"])

    def total(key: str) -> float:
        return sum(s.get(key) or 0 for s in ran)

    return {
        "spark.jobs": len(delta["jobs"]),
        "spark.stages": len(ran),
        "spark.tasks": int(total("numCompleteTasks") + total("numFailedTasks")),
        "spark.deser_s": total("executorDeserializeTime") / 1e3,
        "spark.task_s": total("executorRunTime") / 1e3,
        "spark.exec_cpu_s": (total("executorCpuTime") + total("executorDeserializeCpuTime"))
        / 1e9,
        "spark.gc_s": total("jvmGcTime") / 1e3,
        "spark.input_bytes": int(total("inputBytes")),
        "spark.shuffle_write_bytes": int(total("shuffleWriteBytes")),
        "spark.shuffle_read_bytes": int(total("shuffleReadBytes")),
        "spark.fetch_wait_s": total("shuffleFetchWaitTime") / 1e3,
        "spark.spill_bytes": int(total("diskBytesSpilled")),
    }


def sort_phases(delta: dict) -> dict:
    """Stage wall times of one sort-and-write call, by Themis phase.

    Stages that write shuffle output are phase 1 (map); the stages of
    the last job that write none are phases 2-3 (merge and write); any
    other stage is phase 0, the range partitioner's sampling scan."""
    out = {"sources.sample_s": 0.0, "sources.map_s": 0.0, "sources.reduce_s": 0.0}
    if not delta["jobs"]:
        return out
    last = set(max(delta["jobs"], key=lambda j: j["jobId"])["stageIds"])
    for stage in _ran(delta["stages"]):
        if stage.get("shuffleWriteBytes"):
            key = "sources.map_s"
        elif stage["stageId"] in last:
            key = "sources.reduce_s"
        else:
            key = "sources.sample_s"
        out[key] += stage_wall_s(stage)
    return out


def parse_metric_total(text: str) -> float:
    """Total of one formatted SQL metric value, in seconds or bytes.

    Formats: ``"10,000"`` (sum), ``"4.7 s"`` or the aggregated
    ``"total (min, med, max (stageId: taskId))\\n4.7 s (1.2 s, ...)"``."""
    line = text.strip().splitlines()[-1]
    head = line.split(" (", 1)[0].strip()
    m = re.fullmatch(r"([-0-9.,]+)\s*([A-Za-z]*)", head)
    if not m:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return value
    if unit in _MS:
        return value * _MS[unit]
    if unit in _BYTES:
        return value * _BYTES[unit]
    raise ValueError(f"unknown SQL metric unit {unit!r} in {text!r}")


def python_metrics(executions: list[dict]) -> dict:
    """Python-worker time and bytes from the SQL executions' metrics."""
    out = {name: 0.0 for name in PYTHON_METRICS.values()}
    for ex in executions:
        values = ex.get("metricValues") or {}
        for metric in ex.get("metrics") or []:
            name = PYTHON_METRICS.get(metric["name"])
            text = values.get(str(metric["accumulatorId"]))
            if name and text:
                out[name] += parse_metric_total(text)
    return out


# ---- /proc -----------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def parse_stat(text: str) -> tuple[int, float, float]:
    """(ppid, own CPU s, reaped children's CPU s) from /proc/<pid>/stat."""
    fields = text[text.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state): ppid is 4, utime..cstime are 14..17.
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, (utime + stime) / _TICK, (cutime + cstime) / _TICK


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return None


def proc_table() -> dict[int, tuple[int, float, float]]:
    table = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            text = _read(f"/proc/{entry}/stat")
            if text:
                table[int(entry)] = parse_stat(text)
    return table


def descendants(table: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_split(table: dict, driver: int, jvm: int) -> dict:
    """CPU seconds so far of the driver's Python, the JVM, and the Python
    workers under the JVM (live ones plus every reaped one)."""
    workers = table[jvm][2] + sum(
        table[p][1] + table[p][2] for p in descendants(table, jvm)
    )
    return {"driver": table[driver][1], "jvm": table[jvm][1], "pyworker": workers}


def host_ticks(text: str) -> tuple[int, int]:
    """(steal, total) CPU ticks from the aggregate line of /proc/stat.

    Steal is time the host ran something else on this machine's CPUs; on
    a shared host it is what makes whole runs slower or faster."""
    fields = [int(x) for x in text.split("\n", 1)[0].split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user and nice.
    return fields[7], sum(fields[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in pids:
        text = _read(f"/proc/{pid}/status") or ""
        m = re.search(r"^VmHWM:\s+(\d+) kB", text, re.M)
        if m:
            total_kb += int(m.group(1))
    return total_kb / 1024.0
