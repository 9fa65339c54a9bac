"""What a run observes besides wall time.

- ``Tracer`` records spans around calls into the engine's public
  functions, timed from outside (the module attribute is swapped for a
  timing wrapper; nothing inside ``geodesk_spark`` is edited or traced).
  Spans stay in memory until the run ends.
- ``Action`` tags the Spark jobs of one benchmark action with a job group
  and afterwards reads what they did from Spark's own stores: stage data
  and task durations from the app status store, per-operator SQL metrics
  from the SQL status store.  Both are populated with the UI disabled.
- ``tree_hwm_mb`` sums peak resident memory (VmHWM) over this process
  and every descendant: the JVM and its Python workers.
"""

from __future__ import annotations

import functools
import itertools
import os
import re
import statistics
import time
import uuid

# name fragments of the plan nodes that run Python (ArrowEvalPython,
# BatchEvalPython, MapInPandas, FlatMapGroupsInPandas, MapInArrow, ...)
_PY_NODES = ("Python", "Pandas", "InArrow")


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.enabled = True
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._ids = itertools.count()

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name: str):
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not self.enabled:
                return original(*args, **kwargs)
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def unwrap(self):
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def total_since(self, names: tuple[str, ...], since: float) -> float:
        """Summed duration of outermost spans among ``names`` that began at or
        after ``since``."""
        by_id = {s["id"]: s for s in self.spans}
        total = 0.0
        for s in self.spans:
            if s["name"] in names and s["start"] >= since:
                if not any(_has_ancestor(s, n, by_id) for n in names):
                    total += s["end"] - s["start"]
        return total


def _has_ancestor(span: dict, name: str, by_id: dict) -> bool:
    parent = span["parent"]
    while parent is not None:
        p = by_id[parent]
        if p["name"] == name:
            return True
        parent = p["parent"]
    return False


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        self.id = next(t._ids)
        self.parent = t._stack[-1] if t._stack else None
        t._stack.append(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t._stack.pop()
        t.spans.append(
            {
                "id": self.id,
                "name": self.name,
                "start": self.start,
                "end": time.perf_counter(),
                "parent": self.parent,
                "run_id": t.run_id,
            }
        )
        return False


class Action:
    """``with Action(spark, "label") as a: ...`` — afterwards ``a.wall_s``
    holds the wall time and ``a.stats()`` what Spark recorded for it."""

    _seq = itertools.count()

    def __init__(self, spark, label: str):
        self.spark = spark
        self.group = f"{label}-{next(self._seq)}"

    def __enter__(self):
        self.spark.sparkContext.setJobGroup(self.group, self.group)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self.t0
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return False

    def stats(self) -> dict:
        sc = self.spark.sparkContext
        conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        tracker = sc.statusTracker()
        jobs = set(tracker.getJobIdsForGroup(self.group))
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = sc._jsc.sc().statusStore()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        out = {
            "jobs": len(jobs),
            "tasks": 0,
            "run_ms": 0,
            "gc_ms": 0,
            "shuffle_bytes": 0,
            "spill_bytes": 0,
            "task_skew": 1.0,
        }
        longest = None
        for sid in sorted(stage_ids):
            for sd in conv.asJava(store.stageData(sid, False, None, False, no_quantiles)):
                if sd.status().toString() != "COMPLETE":
                    continue
                out["tasks"] += sd.numCompleteTasks()
                out["run_ms"] += sd.executorRunTime()
                out["gc_ms"] += sd.jvmGcTime()
                out["shuffle_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                if longest is None or sd.executorRunTime() > longest[2]:
                    longest = (sid, sd.attemptId(), sd.executorRunTime(), sd.numCompleteTasks())
        if longest is not None and longest[3] > 1:
            durs = [
                t.duration().get()
                for t in conv.asJava(store.taskList(longest[0], longest[1], longest[3]))
                if t.duration().isDefined()
            ]
            med = statistics.median(durs) if durs else 0
            if med > 0:
                out["task_skew"] = max(durs) / med
        out["sql"] = self._sql_metrics(conv, jobs)
        return out

    def _sql_metrics(self, conv, jobs: set) -> dict:
        """{node name: {metric name: summed value}} over the SQL executions
        that ran this action's jobs, plus ``python_nodes``: how many
        plan nodes evaluate Python."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        out: dict = {}
        py_nodes = 0
        for e in conv.asJava(sql.executionsList()):
            if not jobs & {int(j) for j in conv.asJava(e.jobs()).keySet()}:
                continue
            values = conv.asJava(sql.executionMetrics(e.executionId()))
            for node in conv.asJava(sql.planGraph(e.executionId()).allNodes()):
                name = node.name()
                if any(tag in name for tag in _PY_NODES):
                    py_nodes += 1
                slot = out.setdefault(name, {})
                for m in conv.asJava(node.metrics()):
                    acc = m.accumulatorId()
                    if values.containsKey(acc):
                        v = _parse_metric(values.get(acc), m.metricType())
                        if v is not None:
                            slot[m.name()] = slot.get(m.name(), 0) + v
        out["python_nodes"] = py_nodes
        return out


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _parse_metric(text: str, kind: str):
    """SQL metric display string -> number.  Aggregated metrics read
    ``total (min, med, max ...)\\n<total> (...)``; the total is taken."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    if kind == "sum":
        m = re.match(r"\s*([\d,]+)", text)
        return int(m.group(1).replace(",", "")) if m else None
    if kind == "size":
        m = re.match(r"\s*([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)", text)
        return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else None
    return None


def tree_hwm_mb() -> float:
    """Σ VmHWM over this process and all of its descendants, in MB."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total_kb = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
