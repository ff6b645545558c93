"""Layer tracing from outside the library.

Spans are recorded by the benchmark around its own calls into each
wimbd_spark module. Spark-side counts come from two stores that exist
even with ``spark.ui.enabled=false``:

- the job-group tracker (``statusTracker().getJobIdsForGroup``) and the
  app status store's stage data: jobs, stages, tasks, task run time,
  shuffle bytes written;
- the SQL status store (``sharedState().statusStore()``): per physical
  operator metrics such as Exchange bytes, HashAggregate spill and peak
  memory, Generate output rows and Python worker time.

Everything stays in memory until the run ends.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric value -> a number (bytes, seconds or
    a count). Aggregated values read ``total (min, med, max ...)\\n<v> (...)``;
    the total is the first figure of the last line."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return num


def _iter(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


class Spans:
    """In-memory spans: name, query, job group, start, end, parent.
    Each thread has its own stack of open spans."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, query: str | None = None, group: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "query": query,
            "group": group,
            "parent": stack[-1] if stack else None,
            "start": time.perf_counter(),
        }
        with self._lock:
            self.spans.append(rec)
            stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()


class SparkCounters:
    """Reads what the jobs of one job group did."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.app_store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._seen_execs = 0

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_counts(self, job_ids: list[int]) -> dict:
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "task_run_s": 0.0,
               "shuffle_write_bytes": 0, "stage_spill_bytes": 0}
        seen = set()
        for j in job_ids:
            info = self.sc.statusTracker().getJobInfo(j)
            for s in info.stageIds if info else []:
                if s in seen:
                    continue
                seen.add(s)
                sd = self.app_store.lastStageAttempt(s)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["task_run_s"] += sd.executorRunTime() / 1000.0
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["stage_spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def new_executions(self) -> list:
        """SQL executions finished since the previous call."""
        n = self.sql_store.executionsCount()
        if n == self._seen_execs:
            return []
        execs = list(_iter(self.sql_store.executionsList(self._seen_execs, n - self._seen_execs)))
        self._seen_execs = n
        return execs

    def operator_metrics(self, executions, job_ids: set[int]) -> list[dict]:
        """Per physical operator of the executions that ran ``job_ids``:
        {"node": name, "<metric name>": value}."""
        nodes = []
        for e in executions:
            if not job_ids.intersection(int(j) for j in _iter(e.jobs().keySet())):
                continue
            values = self.sql_store.executionMetrics(e.executionId())
            for node in _iter(self.sql_store.planGraph(e.executionId()).allNodes()):
                rec = {"node": node.name()}
                for m in _iter(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if not v.isEmpty():
                        rec[m.name()] = parse_metric(v.get())
                nodes.append(rec)
        return nodes


def summarize_operators(nodes: list[dict]) -> dict:
    """Operator metrics of one query, folded into the per-layer counts."""
    def total(pred, key):
        return sum(n.get(key, 0.0) for n in nodes if pred(n["node"]))

    joins = [n.get("number of output rows", 0.0) for n in nodes if "Join" in n["node"]]
    return {
        "agg_peak_mem_bytes": total(lambda s: s.endswith("HashAggregate"), "peak memory"),
        "grams_out": total(lambda s: s == "Generate", "number of output rows"),
        "python_eval_s": total(lambda s: True, "time to run Python workers"),
        "scan_rows": total(lambda s: s.startswith("Scan"), "number of output rows"),
        "largest_join_rows": max(joins, default=0.0),
    }


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def rss_bytes(root: int) -> int:
    """Resident set of ``root`` and every process below it, from /proc."""
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total
