"""Measurement plumbing: spans, process-tree memory and the event log.

Everything here observes the package from outside. A span is recorded
around a call into the package; while it is open, the span's id is the
Spark local property ``perfbench.span``, so every job the call starts
carries it into Spark's event log. After ``spark.stop()`` the event log
is parsed and its task metrics and SQL metrics are summed per span
subtree.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from collections import defaultdict

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    """In-memory spans; written out once, at the end of a run."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty(
                    SPAN_PROPERTY,
                    str(self._stack[-1]) if self._stack else None)

    def seconds(self, name: str) -> float:
        """Total duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def subtree(self, name: str) -> set[int]:
        """Ids of every span called ``name`` and of all their children."""
        ids = {s["id"] for s in self.spans if s["name"] == name}
        grew = True
        while grew:
            more = {s["id"] for s in self.spans if s["parent"] in ids}
            grew = not more <= ids
            ids |= more
        return ids

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows its closing ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root``, its live
    descendants and the children they have reaped (Spark's Python
    workers are reaped by their daemon)."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of ``root`` and its descendants.

    PSS, not RSS: Spark's Python workers are forked from one daemon and
    share its pages, which a sum of RSS would count once per worker."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class MemorySampler:
    """Peak summed PSS of this process and all its descendants (the
    driver, the JVM and the Python workers), sampled every ``period`` s."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(me))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def event_log_conf(log_dir: str) -> dict[str, str]:
    """Uncompressed, non-rolling event log — one JSON event per line."""
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


def _is_int(v) -> bool:
    # SQL metric updates are logged as decimal strings, task metrics as
    # numbers; anything else (lists, observed rows) is not a counter
    return isinstance(v, int) or (isinstance(v, str) and v.isdigit())


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


class EventLog:
    """Task metrics and SQL metrics of one application, by span."""

    def __init__(self, path: str):
        self.metric_of: dict[int, tuple[str, str, str]] = {}
        self.job_span: dict[int, int | None] = {}
        self.job_exec: dict[int, int | None] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.driver_updates: dict[int, list[tuple[int, int]]] = \
            defaultdict(list)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if "sparkPlanInfo" in e:  # execution start and AQE re-plans
            for node in _plan_nodes(e["sparkPlanInfo"]):
                for m in node.get("metrics", []):
                    self.metric_of[m["accumulatorId"]] = (
                        node["nodeName"], m["name"], m["metricType"])
        elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
            for m in e.get("sqlPlanMetrics", []):
                self.metric_of[m["accumulatorId"]] = (
                    "", m["name"], m["metricType"])
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            span = props.get(SPAN_PROPERTY)
            ex = props.get("spark.sql.execution.id")
            self.job_span[e["Job ID"]] = int(span) if span else None
            self.job_exec[e["Job ID"]] = int(ex) if ex else None
            for sid in e["Stage IDs"]:
                self.stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            self.tasks.append({
                "stage": e["Stage ID"],
                "duration_ms": info["Finish Time"] - info["Launch Time"],
                "metrics": tm,
                "accums": [(a["ID"], int(a["Update"]))
                           for a in info.get("Accumulables", [])
                           if _is_int(a.get("Update"))],
            })
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            self.driver_updates[e["executionId"]].extend(
                (int(a), int(v)) for a, v in e["accumUpdates"])

    def summary(self, spans: set[int]) -> "SpanMetrics":
        jobs = {j for j, s in self.job_span.items() if s in spans}
        execs = {self.job_exec[j] for j in jobs} - {None}
        tasks = [t for t in self.tasks
                 if self.stage_job.get(t["stage"]) in jobs]
        updates = [u for t in tasks for u in t["accums"]]
        for ex in execs:
            updates.extend(self.driver_updates.get(ex, ()))
        return SpanMetrics(self, jobs, tasks, updates)


class SpanMetrics:
    def __init__(self, log: EventLog, jobs, tasks, updates):
        self.log, self.jobs, self.tasks = log, jobs, tasks
        self.sql: dict[tuple[str, str], int] = defaultdict(int)
        for acc, v in updates:
            meta = log.metric_of.get(acc)
            if meta is not None:
                self.sql[(meta[0].split(" ")[0], meta[1])] += v

    def task_sum(self, *path: str) -> float:
        total = 0
        for t in self.tasks:
            v = t["metrics"]
            for k in path:
                v = v.get(k, {}) if isinstance(v, dict) else 0
            total += v if isinstance(v, (int, float)) else 0
        return total

    def sql_sum(self, metric: str) -> int:
        return sum(v for (_n, m), v in self.sql.items() if m == metric)

    def max_task_over_median(self, node: str) -> float:
        """Slowest over median task duration in the busiest stage whose
        tasks updated a metric of ``node`` (0 when there is none)."""
        accs = {a for a, meta in self.log.metric_of.items()
                if meta[0].split(" ")[0] == node}
        by_stage: dict[int, list[int]] = defaultdict(list)
        for t in self.tasks:
            if any(a in accs for a, _ in t["accums"]):
                by_stage[t["stage"]].append(t["duration_ms"])
        if not by_stage:
            return 0.0
        durs = max(by_stage.values(), key=sum)
        med = statistics.median(durs)
        return max(durs) / med if med > 0 else 1.0

    def engine(self) -> dict[str, float]:
        return {
            "spark.jobs": len(self.jobs),
            "spark.tasks": len(self.tasks),
            "spark.executor_run_s":
                self.task_sum("Executor Run Time") / 1e3,
            "spark.executor_cpu_s":
                self.task_sum("Executor CPU Time") / 1e9,
            "spark.jvm_gc_s": self.task_sum("JVM GC Time") / 1e3,
            "spark.shuffle_read_bytes":
                self.task_sum("Shuffle Read Metrics", "Remote Bytes Read")
                + self.task_sum("Shuffle Read Metrics", "Local Bytes Read"),
        }

    def python(self) -> dict[str, float]:
        """Summed over every Python evaluation node (the pandas/Arrow UDF
        operators report these SQL metrics)."""
        return {
            "start_s": self.sql_sum("time to start Python workers") / 1e3,
            "init_s": self.sql_sum("time to initialize Python workers")
            / 1e3,
            "run_s": self.sql_sum("time to run Python workers") / 1e3,
            "bytes_to": self.sql_sum("data sent to Python workers"),
            "bytes_from": self.sql_sum("data returned from Python workers"),
            "rows": sum(v for (n, m), v in self.sql.items()
                        if m == "number of output rows"
                        and ("Python" in n or "InArrow" in n
                             or "InPandas" in n)),
        }


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {sorted(os.listdir(log_dir))}")
    return files[0]
