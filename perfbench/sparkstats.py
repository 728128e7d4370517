"""Spans around layer calls, and per-span numbers read from Spark's
own status store (jobs, stages, tasks and SQL-execution metrics; it is
populated with the UI off).

A span sets a job group named ``<run id>:<span>`` for the jobs its
thread submits.  Jobs submitted from other threads (``build_all``
runs builders on a thread pool, whose jobs carry no group) are
attributed by time instead: the benchmark is a closed loop with one
client, so every job submitted inside a span's interval belongs to it.
Spans stay in memory; ``Tracer.summary`` reads the store once, after
the traced pass.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_NUM = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")

# SQL metric display names -> aggregate key (seconds or bytes)
SQL_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "arrow_in_b",
    "data returned from Python workers": "arrow_out_b",
}

# plan nodes that run Python workers (MapInArrow, MapInPandas,
# ArrowEvalPython, FlatMapGroupsInPandas, ...)
_PY_NODE = re.compile(r"Python|Pandas|Arrow")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric ('8.1 s (1.9 s, ...)', '5.6 MiB',
    '36,042') in seconds, bytes or plain units.  Per-task metrics
    carry a 'total (min, med, max ...)' header line before the values."""
    m = _NUM.match((text or "").strip().splitlines()[-1] if text else "")
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0


class Tracer:
    """In-memory spans of one traced pass (shared run id)."""

    def __init__(self, spark):
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1].name if self._stack else None
        s = Span(name, parent, time.time())
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(f"{self.run_id}:{name}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                up = self._stack[-1].name
                sc.setJobGroup(f"{self.run_id}:{up}", up)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def self_time(self, s: Span) -> float:
        """Span duration minus the part its child spans cover."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == s.name
        )
        covered, cur = 0.0, s.start
        for a, b in kids:
            a, b = max(a, cur), min(b, s.end)
            if b > a:
                covered += b - a
                cur = b
        return (s.end - s.start) - covered

    def summary(self) -> dict[str, dict]:
        """{span name: aggregates} for every span, read from the status
        store in one pass."""
        t0 = time.time()
        store = StatusStore(self.spark, min(s.start for s in self.spans))
        out = {
            s.name: {
                "wall_s": s.end - s.start,
                "self_s": self.self_time(s),
                **store.aggregate(s.start, s.end, sched=s.parent is None),
            }
            for s in self.spans
        }
        self.summary_s = time.time() - t0
        return out


class StatusStore:
    """Plain-Python snapshot of the jobs, stages, tasks and SQL
    executions submitted since ``since``.

    Job, stage and task lists, plan graphs and metric values cross py4j
    as one JSON string each, written by the Jackson mapper Spark's REST
    API uses: a py4j round trip per field took 30-40 s on a traced
    store_and_queries pass."""

    def __init__(self, spark, since: float):
        sc = spark.sparkContext
        jvm = sc._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        ss = sc._jsc.sc().statusStore()
        sql = spark._jsparkSession.sharedState().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        )
        self._json = lambda seq: json.loads(mapper.writeValueAsString(seq))
        self.jobs = {
            j["jobId"]: {
                "start": j["submissionTime"] / 1e3,
                "end": j["completionTime"] / 1e3 if j.get("completionTime") else time.time(),
                "stages": set(j["stageIds"]),
            }
            for j in self._json(ss.jobsList(None))
            if j.get("submissionTime") and j["submissionTime"] / 1e3 >= since
        }
        wanted = set().union(*(j["stages"] for j in self.jobs.values()))
        empty = sc._gateway.new_array(jvm.double, 0)
        self.stages = [
            {
                "id": st["stageId"],
                "attempt": st["attemptId"],
                "tasks": st["numCompleteTasks"],
                "run_s": st["executorRunTime"] / 1e3,
                "gc_s": st["jvmGcTime"] / 1e3,
                "shuffle_write_b": st["shuffleWriteBytes"],
                "shuffle_read_b": st["shuffleReadBytes"],
                "spill_b": st["memoryBytesSpilled"] + st["diskBytesSpilled"],
                "tasks_failed": st["numFailedTasks"],
                "stages_retried": 1 if st["attemptId"] > 0 else 0,
            }
            for st in self._json(ss.stageList(None, False, False, empty, None))
            if st["stageId"] in wanted
        ]
        self._ss, self._tasks = ss, {}
        self.execs = []
        for e in conv.asJava(sql.executionsList()):
            if e.submissionTime() / 1e3 < since:
                continue
            jobs = set(conv.asJava(e.jobs().keySet())) & set(self.jobs)
            if not jobs:
                continue
            vals = self._json(sql.executionMetrics(e.executionId()))
            sums = dict.fromkeys(["parts", "empty_parts", *SQL_METRICS.values()], 0.0)
            for n in self._json(sql.planGraph(e.executionId()).allNodes()):
                node = n["name"]
                if node not in ("AQEShuffleRead", "Exchange") and not _PY_NODE.search(node):
                    continue
                for m in n["metrics"]:
                    key = SQL_METRICS.get(m["name"])
                    if node == "AQEShuffleRead" and m["name"] == "number of empty partitions":
                        key = "empty_parts"
                    elif node == "Exchange" and m["name"] == "number of partitions":
                        key = "parts"
                    text = vals.get(str(m["accumulatorId"])) if key else None
                    if text is not None:
                        sums[key] += parse_metric(text)
            self.execs.append((jobs, sums))

    def tasks(self, st: dict) -> tuple[float, list[int]]:
        """(summed scheduler delay in s, task run times in ms) of one
        stage, read on first use: task lists are the costly part."""
        key = (st["id"], st["attempt"])
        if key not in self._tasks:
            tasks = self._json(self._ss.taskList(key[0], key[1], 100000))
            self._tasks[key] = (
                sum(t["schedulerDelay"] for t in tasks) / 1e3,
                [t["taskMetrics"]["executorRunTime"] for t in tasks if t.get("taskMetrics")],
            )
        return self._tasks[key]

    def aggregate(self, start: float, end: float, sched: bool = False) -> dict:
        """Numbers of all jobs submitted in [start, end]; the summed
        scheduler delay of their tasks only when ``sched``."""
        ids = {i for i, j in self.jobs.items() if start <= j["start"] <= end}
        stage_ids = set().union(*(self.jobs[i]["stages"] for i in ids))
        stages = [st for st in self.stages if st["id"] in stage_ids]
        keys = ("tasks", "run_s", "gc_s", "shuffle_write_b", "shuffle_read_b",
                "spill_b", "tasks_failed", "stages_retried")
        out = {k: sum(st[k] for st in stages) for k in keys}
        out.update(jobs=len(ids), stages=len(stages), task_skew=0.0, job_s=0.0)
        if sched:
            out["sched_delay_s"] = sum(self.tasks(st)[0] for st in stages)
        if stages:
            runs = self.tasks(max(stages, key=lambda st: st["run_s"]))[1]
            med = statistics.median(runs) if runs else 0
            out["task_skew"] = max(runs) / med if med > 0 else 1.0
        # union of job intervals: the part of the span Spark was busy
        cur = None
        for a, b in sorted(
            (max(self.jobs[i]["start"], start), min(self.jobs[i]["end"], end))
            for i in ids
        ):
            if cur is None or a > cur[1]:
                out["job_s"] += (cur[1] - cur[0]) if cur else 0.0
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        out["job_s"] += max(0.0, cur[1] - cur[0]) if cur else 0.0
        for k in ("parts", "empty_parts", *SQL_METRICS.values()):
            out[k] = sum(sums[k] for jobs, sums in self.execs if jobs & ids)
        return out
