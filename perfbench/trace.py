"""Measurement helpers: spans, order statistics, the ``/proc`` RSS sampler
and the offline Spark event-log reader.

Nothing here imports pyspark, so the unit tests run without a JVM.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

#: floor applied to a measured duration before dividing by it: the
#: monotonic clock's resolution. A rate over a sub-microsecond interval
#: reads as "very fast" instead of raising ZeroDivisionError.
MIN_SECONDS = 1e-6


# ------------------------------------------------------------ statistics
def rate(count: float, seconds: float) -> float:
    """``count`` per second, safe for a zero or sub-resolution interval."""
    return count / max(seconds, MIN_SECONDS)


def ratio(num: float, den: float) -> float:
    """``num / den``, 0.0 when the base is 0 (no work, no ratio)."""
    return num / den if den else 0.0


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# ----------------------------------------------------------------- spans
class Tracer:
    """In-memory spans: name, start, end, parent, run id, plus free-form
    attributes (e.g. the Spark job-id range a span covers). Written out
    once, by :meth:`dump`, when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []

    def begin(self, name: str, parent: int | None = None, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "parent": parent,
             "run_id": self.run_id, "start": time.perf_counter(), "end": None,
             **attrs}
        )
        return len(self.spans) - 1

    def end(self, span_id: int, **attrs) -> float:
        s = self.spans[span_id]
        s["end"] = time.perf_counter()
        s.update(attrs)
        return s["end"] - s["start"]

    def duration(self, span_id: int) -> float:
        s = self.spans[span_id]
        return s["end"] - s["start"]

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span_id: int) -> float:
        """Duration minus the part of the interval its children cover."""
        s = self.spans[span_id]
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(self.children(span_id), key=lambda c: c["start"]):
            cs, ce = max(c["start"], s["start"]), min(c["end"], s["end"])
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (s["end"] - s["start"]) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# ------------------------------------------------------------ RSS sampler
def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while we looked
        # comm may contain spaces/parens: ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root_pid: int) -> list[int]:
    kids = _proc_children()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_seconds(root_pid: int) -> float:
    """User plus system CPU time of ``root_pid`` and its live descendants,
    from ``/proc/<pid>/stat``, including what their reaped children used
    (``cutime``/``cstime``). A Python worker that exits between two samples
    thereby stays counted in its parent (the pyspark daemon, the JVM)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        total += int(fields[11]) + int(fields[12]) + int(fields[13]) + int(fields[14])
    return total / tick


#: ``comm`` of a HotSpot JVM's JIT compiler threads (names cut to 15 bytes)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def tree_thread_cpu_seconds(root_pid: int, names=JIT_THREADS) -> float:
    """User plus system CPU time of the live threads in ``root_pid``'s
    tree whose name starts with one of ``names``, from
    ``/proc/<pid>/task/<tid>/stat``. A thread that exits between two
    samples drops out of the second; ``run.py`` therefore starts the JVM
    with a fixed set of compiler threads."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree(root_pid):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            name = stat[stat.index("(") + 1 : stat.rindex(")")]
            if name.startswith(names):
                fields = stat.rsplit(")", 1)[1].split()
                total += int(fields[11]) + int(fields[12])
    return total / tick


def tree_rss_bytes(root_pid: int) -> int:
    """Resident set size of ``root_pid`` and all its descendants (driver
    JVM and Python workers included), from ``/proc/<pid>/statm``."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread tracking the peak of :func:`tree_rss_bytes`
    while active (``with sampler: ...``)."""

    def __init__(self, root_pid: int | None = None, interval_s: float = 0.1):
        self.root_pid = os.getpid() if root_pid is None else root_pid
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
        return self.peak

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self._stop.clear()
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6


# --------------------------------------------------------- event log
#: plan-node name prefixes whose output rows count as join rows
JOIN_NODES = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")
#: plan-node name prefixes that run Python (Arrow) UDFs
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "PythonMapInArrow")


#: the Python-node metric counted as Python time: the UDF body plus its
#: Arrow transfer, per task. Worker start-up and initialisation are
#: reported by Spark separately and overlap other work, so they are left out.
PYTHON_RUN_METRIC = "time to run Python workers"
#: seconds per unit of Spark's SQL timing metric types
TIME_UNITS_S = {"timing": 1e-3, "nsTiming": 1e-9}


class EventLog:
    """Per-job task metrics and per-SQL-node metrics from one Spark event
    log (uncompressed JSON lines), read after the application ended."""

    def __init__(self, path: str):
        self.job_stages: dict[int, list[int]] = {}
        self.job_group: dict[int, str] = {}
        self.tasks: dict[int, list[dict]] = {}  # stage id -> task records
        self.stage_span: dict[int, int] = {}  # stage id -> wall ms
        self.acc_node: dict[int, tuple[str, str, str]] = {}  # acc -> (node, metric, type)
        self.stage_accs: dict[int, dict[int, float]] = {}  # stage -> acc -> sum of updates
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _plan(self, info: dict) -> None:
        node = info.get("nodeName", "")
        for m in info.get("metrics", ()):
            self.acc_node[m["accumulatorId"]] = (node, m["name"], m.get("metricType", ""))
        for child in info.get("children", ()):
            self._plan(child)

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            self.job_stages[jid] = list(ev.get("Stage IDs", ()))
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                self.job_group[jid] = group
        elif kind == "SparkListenerTaskEnd":
            info, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            self.tasks.setdefault(ev["Stage ID"], []).append(
                {
                    "run_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "shuffle_bytes": tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0),
                    "spill_bytes": tm.get("Disk Bytes Spilled", 0),
                }
            )
            accs = self.stage_accs.setdefault(ev["Stage ID"], {})
            for acc in info.get("Accumulables", ()):
                upd = acc.get("Update")
                if isinstance(upd, str) and upd.lstrip("-").isdigit():
                    upd = int(upd)
                if isinstance(upd, (int, float)):
                    accs[acc["ID"]] = accs.get(acc["ID"], 0) + upd
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            self.stage_span[si["Stage ID"]] = (
                si.get("Completion Time", 0) - si.get("Submission Time", 0))
        elif kind.endswith(("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate")):
            self._plan(ev.get("sparkPlanInfo", {}))

    def jobs_in_group(self, group: str) -> list[int]:
        return sorted(j for j, g in self.job_group.items() if g == group)

    def summarize(self, job_ids) -> dict:
        """Task and SQL-node totals over the given Spark jobs: executor CPU,
        shuffle write, disk spill, task-time skew of the longest stage
        (max / median task run time), output rows of join nodes, and time
        spent running Python workers."""
        job_ids = [j for j in job_ids if j in self.job_stages]
        stages = sorted({s for j in job_ids for s in self.job_stages[j] if s in self.tasks})
        tasks = [t for s in stages for t in self.tasks[s]]
        out = {
            "jobs": len(job_ids),
            "task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "shuffle_mb": sum(t["shuffle_bytes"] for t in tasks) / 1e6,
            "spill_mb": sum(t["spill_bytes"] for t in tasks) / 1e6,
            "skew": 0.0,
            "join_rows": 0.0,
            "python_s": 0.0,
        }
        if stages:
            longest = max(stages, key=lambda s: self.stage_span.get(s, 0))
            times = [t["run_ms"] for t in self.tasks[longest]]
            out["skew"] = ratio(max(times), statistics.median(times))
        for s in stages:
            for acc, total in self.stage_accs.get(s, {}).items():
                node, metric, kind = self.acc_node.get(acc, ("", "", ""))
                if node.startswith(JOIN_NODES) and metric == "number of output rows":
                    out["join_rows"] += total
                elif node.startswith(PYTHON_NODES) and metric == PYTHON_RUN_METRIC:
                    out["python_s"] += total * TIME_UNITS_S.get(kind, 0.0)
        return out
