"""Measurement from outside the program: Spark status-store totals per job
window, executed-plan exchange counts, process-tree peak memory, and an
in-memory span tracer that attributes each window to a layer."""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

# a physical-plan line naming a shuffle or broadcast exchange (reused
# exchanges read an earlier one's output and are not counted)
_EXCHANGE = re.compile(r"^[\s:|+\-]*(?:Exchange|ShuffleExchange|BroadcastExchange)\b")


class SparkCounters:
    """Reads job, stage and SQL-execution data from the Spark status store.

    Jobs and SQL executions get increasing ids, so a window of work is
    everything with an id above a ``mark()`` taken before it. The store is
    fed by the listener bus, which is drained before each read; job and
    stage lists cross from the JVM as one JSON string each."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._stage_args = (False, False, spark.sparkContext._gateway.new_array(jvm.double, 0),
                            jvm.java.util.ArrayList())

    def mark(self) -> tuple[int, int]:
        """(last job id, last SQL execution id) seen so far."""
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        execs = self._sql.executionsList()  # oldest first
        return (jobs.head().jobId() if jobs.nonEmpty() else -1,
                execs.last().executionId() if execs.nonEmpty() else -1)

    def window(self, mark: tuple[int, int], exchanges: bool = False) -> dict:
        """Totals over the jobs (and, with ``exchanges``, the SQL
        executions) that started after ``mark``."""
        self._sc.listenerBus().waitUntilEmpty()
        jobs = [j for j in json.loads(self._json.writeValueAsString(self._store.jobsList(None)))
                if j["jobId"] > mark[0]]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = json.loads(self._json.writeValueAsString(self._store.stageList(None, *self._stage_args)))
        tot = {
            "jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0,
            "run_s": 0.0, "cpu_s": 0.0, "shuffle_read_b": 0, "shuffle_write_b": 0,
            "spill_b": 0,
        }
        for s in stages:
            if s["stageId"] not in stage_ids or s["status"] == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
            tot["failed_tasks"] += s["numFailedTasks"]
            tot["run_s"] += s["executorRunTime"] / 1e3
            tot["cpu_s"] += s["executorCpuTime"] / 1e9
            tot["shuffle_read_b"] += s["shuffleReadBytes"]
            tot["shuffle_write_b"] += s["shuffleWriteBytes"]
            tot["spill_b"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
        if exchanges:
            # execution ids count up from 0, so an id is about its list offset
            execs = self._sql.executionsList(max(0, mark[1] - 63), 2**31 - 1)
            tot["exchanges"] = sum(
                count_exchanges(e.physicalPlanDescription())
                for e in (execs.apply(i) for i in range(execs.size())) if e.executionId() > mark[1])
        return tot


def count_exchanges(plan: str) -> int:
    """Exchange operators in an executed plan's tree. For an adaptive plan
    only the final plan counts, not the initial one printed after it."""
    tree = plan.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return sum(1 for line in tree.splitlines() if _EXCHANGE.match(line))


def _tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and all of its descendants, from
    /proc: resident pages, each shared page split among its sharers, so the
    forked Python workers do not count their common pages once each."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration, ValueError):
            pass
    return total


class PeakRss:
    """Samples the resident memory (as PSS) of this process tree, driver JVM
    and Python workers included, on a background thread; ``peak_mb`` is the
    highest sum seen since the last ``reset``. Use as a context manager so
    the thread always ends."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak_b = 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_b = max(self.peak_b, _tree_pss_bytes(os.getpid()))
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def reset(self) -> None:
        self.peak_b = 0

    @property
    def peak_mb(self) -> float:
        return self.peak_b / 2**20


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory; a span
    opened with ``layer=`` also records the Spark totals of its window."""

    def __init__(self, counters: SparkCounters, run_id: str) -> None:
        self.counters = counters
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        mark = self.counters.mark() if layer else None
        rec = {
            "name": name, "layer": layer, "run_id": self.run_id,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "start_s": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end_s"] = time.perf_counter() - self._t0
            self._stack.pop()
            if mark is not None:
                rec["spark"] = self.counters.window(mark, exchanges=True)

    def layer_totals(self, layer: str) -> dict:
        """Sums over the layer's spans: wall, jobs, task time, shuffle, failed
        tasks and exchanges."""
        recs = [r for r in self.spans if r["layer"] == layer]
        out = {"wall_s": sum(r["end_s"] - r["start_s"] for r in recs)}
        for key in ("jobs", "run_s", "shuffle_read_b", "shuffle_write_b",
                    "failed_tasks", "exchanges"):
            out[key] = sum(r["spark"][key] for r in recs)
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f, indent=1)
