"""Spans around the benchmark's calls into the library, and the Spark work
each span caused, read from Spark's own status stores.

Spans nest run -> workload -> pass -> flow -> phase (``build``,
``catalyst``, ``write``, ``verify``).  They are kept in memory and written
out once, at the end of the run.

After each flow the collector reads the jobs, stages and SQL executions
that Spark's status store gained since the previous read, keyed by id, and
attaches each to the phase span whose interval it overlaps most.  The
benchmark runs one flow at a time, so every job falls inside exactly one
phase.  Nothing inside the library is patched or wrapped: the collector
only reads ``AppStatusStore`` (jobs, stages, RDD operation graphs, RDD
storage) and ``SQLAppStatusStore`` (plan graphs and SQL metric values).
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    kind: str
    start: float
    end: float = 0.0
    parent: Span | None = field(default=None, repr=False)
    children: list[Span] = field(default_factory=list, repr=False)
    attrs: dict = field(default_factory=dict)
    # Spark work attributed to this span (phases only)
    jobs: list[dict] = field(default_factory=list, repr=False)
    stages: list[dict] = field(default_factory=list, repr=False)
    sql: list[dict] = field(default_factory=list, repr=False)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def to_dict(self) -> dict:
        out = {"name": self.name, "kind": self.kind, "start": self.start,
               "end": self.end, "wall_s": self.wall}
        if self.attrs:
            out["attrs"] = self.attrs
        if self.jobs:
            out["jobs"] = [{"id": j["jobId"], "submit_ms": j["submissionTime"],
                            "end_ms": j["completionTime"], "status": j["status"],
                            "stages": j["stageIds"]} for j in self.jobs]
        if self.stages:
            out["stages"] = [{"id": s["stageId"], "attempt": s["attemptId"],
                              "tasks": s["numCompleteTasks"] + s["numFailedTasks"],
                              "run_ms": s["executorRunTime"]} for s in self.stages]
        if self.sql:
            out["sql"] = self.sql
        if self.children:
            out["children"] = [c.to_dict() for c in self.children]
        return out


class Tracer:
    """Records nested spans; ``phase`` spans are the attribution targets."""

    def __init__(self) -> None:
        self.root = Span("run", "run", time.time())
        self._open = self.root
        self.phases: list[Span] = []

    def open(self, name: str, kind: str, **attrs) -> Span:
        span = Span(name, kind, time.time(), parent=self._open, attrs=attrs)
        self._open.children.append(span)
        self._open = span
        if kind == "phase":
            self.phases.append(span)
        return span

    def close(self, span: Span) -> Span:
        span.end = time.time()
        self._open = span.parent
        return span

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        s = self.open(name, kind, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def finish(self) -> dict:
        self.root.end = time.time()
        return self.root.to_dict()


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by (start_ms, end_ms) intervals, in seconds."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """Parse one SQL metric display string into bytes, seconds or a count.

    Task-side metrics display as ``total (min, med, max ...)\\n<total> (...)``;
    driver-side ones as the bare value.  Sizes and times are shown with
    three or four significant digits, so they are approximate."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME_S:
        return num * _TIME_S[unit]
    return num


class StatusCollector:
    """Reads new jobs, stages and SQL executions out of Spark's status
    stores and attributes them to the tracer's phase spans."""

    def __init__(self, spark, tracer: Tracer) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self.jvm = jvm
        self.tracer = tracer
        self.store = sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper.registerModule(getattr(scala, "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        self._gc_beans = [beans.get(i) for i in range(beans.size())]
        self.seen_jobs: set[int] = set()
        self.seen_stages: set[tuple[int, int]] = set()
        self.seen_execs: set[int] = set()
        self.seen_cached: set[int] = set()
        self.sql_low = 0

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def _phase_for(self, start_ms: float, end_ms: float) -> Span | None:
        """The phase whose interval overlaps [start_ms, end_ms] most (ties
        and zero-length intervals fall back to containment of start_ms)."""
        best, best_key = None, (0.0, False)
        for p in reversed(self.tracer.phases):
            p0, p1 = p.start * 1000.0, (p.end or time.time()) * 1000.0
            if p1 + 1 < start_ms:
                break
            overlap = min(end_ms, p1 + 1) - max(start_ms, p0 - 1)
            key = (max(overlap, 0.0), p0 - 1 <= start_ms <= p1 + 1)
            if key > best_key:
                best, best_key = p, key
        return best

    def collect(self) -> None:
        """Attach every finished job, stage and SQL execution not yet seen."""
        for job in self._json(self.store.jobsList(None)):
            if job["jobId"] in self.seen_jobs or job.get("completionTime") is None:
                continue
            phase = self._phase_for(job["submissionTime"], job["completionTime"])
            self.seen_jobs.add(job["jobId"])
            if phase is not None:
                phase.jobs.append(job)
        stages = self._json(self.store.stageList(
            None, False, False, self._no_quantiles, None))
        for st in stages:
            key = (st["stageId"], st["attemptId"])
            if key in self.seen_stages or st["status"] not in ("COMPLETE", "FAILED"):
                continue
            self.seen_stages.add(key)
            phase = self._phase_for(st.get("submissionTime") or 0,
                                    st.get("completionTime") or 0)
            if phase is None:
                continue
            graph = self.store.operationGraphForStage(st["stageId"])
            dot = self.jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile(graph)
            cached = {int(x) for x in re.findall(r"\[(\d+)\] \[Cached\]", dot)}
            st["pinned_rdds"] = sorted(cached - self.seen_cached)
            self.seen_cached |= cached
            phase.stages.append(st)
        self._collect_sql()

    def _collect_sql(self) -> None:
        """Attach every finished SQL execution not yet seen, by id.

        The status store lists executions in id order and evicts the oldest
        beyond ``spark.sql.ui.retainedExecutions``, so the walk goes from
        the newest back to ``sql_low``: the lowest id still running at the
        previous walk, or else one past the newest id that walk saw."""
        low, it = self.sql_low, self.sql_store.executionsList().reverseIterator()
        pending = None
        while it.hasNext():
            e = it.next()
            eid = e.executionId()
            if eid < self.sql_low:
                break
            low = max(low, eid + 1)
            if eid in self.seen_execs:
                continue
            if e.completionTime().isEmpty():
                pending = eid
                continue
            self.seen_execs.add(eid)
            start = float(e.submissionTime())
            end = float(e.completionTime().get().getTime())
            phase = self._phase_for(start, end)
            if phase is not None:
                phase.sql.append(self._sql_metrics(eid))
        self.sql_low = low if pending is None else pending

    def _sql_metrics(self, eid: int) -> dict:
        values = self._json(self.sql_store.executionMetrics(eid))
        nodes, stack = {}, self._json(self.sql_store.planGraph(eid).allNodes())
        while stack:
            n = stack.pop()
            nodes[n["id"]] = n
            stack.extend(n.get("nodes", []))
        out = {"id": eid, "scan_rows": 0.0, "scan_bytes": 0.0, "sink_rows": 0.0,
               "py_run_s": 0.0, "py_boot_s": 0.0, "py_sent": 0.0, "py_recv": 0.0}
        for n in nodes.values():
            for m in n.get("metrics", []):
                raw = values.get(str(m["accumulatorId"]))
                if raw is None:
                    continue
                name = m["name"]
                if n["name"].startswith("Scan parquet"):
                    if name == "number of output rows":
                        out["scan_rows"] += metric_value(raw)
                    elif name == "size of files read":
                        out["scan_bytes"] += metric_value(raw)
                elif (n["name"].startswith("Execute InsertIntoHadoopFsRelationCommand")
                      and name == "number of output rows"):
                    out["sink_rows"] += metric_value(raw)
                if name == "time to run Python workers":
                    out["py_run_s"] += metric_value(raw)
                elif name in ("time to start Python workers",
                              "time to initialize Python workers"):
                    out["py_boot_s"] += metric_value(raw)
                elif name == "data sent to Python workers":
                    out["py_sent"] += metric_value(raw)
                elif name == "data returned from Python workers":
                    out["py_recv"] += metric_value(raw)
        return out

    def gc_ms(self) -> int:
        """JVM garbage-collection time so far, all threads (in local mode the
        executors run in this JVM, so this includes their collections)."""
        return sum(b.getCollectionTime() for b in self._gc_beans)

    def pinned_bytes(self, rdd_ids: set[int]) -> float:
        """Memory plus disk currently held by the given cached RDDs."""
        if not rdd_ids:
            return 0.0
        return float(sum(r["memoryUsed"] + r["diskUsed"]
                         for r in self._json(self.store.rddList(True))
                         if r["id"] in rdd_ids))

    def catalyst(self, df) -> dict:
        """Force the frame's physical plan and read its Catalyst phase times
        (the returned frame's tracker holds only analysis until then)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = self._json(qe.tracker().phases())
        out = {k: phases[k]["endTimeMs"] - phases[k]["startTimeMs"]
               for k in ("analysis", "optimization", "planning") if k in phases}
        out["plan_nodes"] = len(qe.optimizedPlan().treeString().splitlines())
        return out


MB = float(1 << 20)


def phase_layers(phase: Span) -> dict:
    """Per-layer figures of one phase span from its attributed Spark work."""
    jobs, stages = phase.jobs, phase.stages
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
        "failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "job_s": _union_s([(j["submissionTime"], j["completionTime"]) for j in jobs]),
        "task_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
        "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / MB,
        "spill_mb": sum(s["diskBytesSpilled"] for s in stages) / MB,
        "pinned_rdds": sorted({r for s in stages for r in s.get("pinned_rdds", [])}),
    }
