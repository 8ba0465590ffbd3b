"""Span tracing for the benchmark's traced runs.

A span is one timed call at a layer boundary: name, start, end, parent
span and operation id. Spans stay in memory and are dumped as JSON when
the run ends. Every span runs under its own Spark job group, so the
jobs a layer launched, and the stages behind them, can be read back
from Spark's status store afterwards (this works with the UI off).

Engine functions are wrapped from here, never edited: ``Tracer.wrap``
replaces a function object in every loaded ``ipeds_etl_spark`` module
that binds it (so ``from x import f`` callers are covered too) and
``Tracer.unwrap`` puts the originals back.
"""

from __future__ import annotations

import json
import re
import sys
import time
from contextlib import contextmanager
from pathlib import Path

#: physical operators that run Python workers (the Arrow verify side
#: of the size-based kernel choice shows up as MapInArrow)
PYTHON_NODES = re.compile(
    r"\b(MapInArrow|PythonMapInArrow|MapInPandas|ArrowEvalPython|BatchEvalPython"
    r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas)\b"
)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the summed durations of its direct children."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def python_node_count(plan: str) -> int:
    """Python-worker operators in a physical plan's tree string. An
    adaptive plan prints its final plan and then its initial plan, whose
    lines sit at or beyond the ``== Initial Plan ==`` marker's column;
    those are not counted."""
    n, skip_below = 0, None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :+-"))
        if skip_below is not None and indent >= skip_below:
            continue
        skip_below = None
        if "== Initial Plan ==" in line:
            skip_below = indent
            continue
        n += len(PYTHON_NODES.findall(line))
    return n


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())  # noqa: SLF001


class SinkPlans:
    """A Spark ``QueryExecutionListener`` (through the py4j callback
    server) that keeps, for each finished command, the time Spark's own
    planning tracker billed to optimisation and physical planning, and
    the executed plan. This reads the plan the sink really ran, so the
    traced pass plans no query twice. Events arrive asynchronously on
    Spark's listener bus; ``wait`` polls for them."""

    PHASES = ("optimization", "planning")

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)  # noqa: SLF001
        self._manager = spark._jsparkSession.listenerManager()  # noqa: SLF001
        self.events: list[dict] = []
        self._manager.register(self)

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802, N803 - Java interface
        ms, it = 0, qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in self.PHASES:
                ms += kv._2().durationMs()
        self.events.append({"func": funcName, "plan_s": ms / 1000.0, "plan": qe.executedPlan().toString()})

    def onFailure(self, funcName, qe, exception):  # noqa: N802, N803 - Java interface
        self.events.append({"func": funcName, "plan_s": 0.0, "plan": ""})

    def wait(self, func: str, timeout: float = 60.0) -> dict | None:
        """The first collected event of command ``func``, removed from the
        list, or None if none arrives within ``timeout`` seconds."""
        deadline = time.perf_counter() + timeout
        while True:
            for i, e in enumerate(self.events):
                if e["func"] == func:
                    return self.events.pop(i)
            if time.perf_counter() > deadline:
                return None
            time.sleep(0.01)

    def close(self) -> None:
        self._manager.unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "group": f"perfbench-{sid}",
            "start": time.perf_counter(),
            "wall_start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # -- function wrapping ------------------------------------------
    def wrap(self, module, attr: str, name: str) -> None:
        """Time every call of ``module.attr`` as a span named ``name``.
        A missing attribute is skipped: the layer then reads zero."""
        orig = getattr(module, attr, None)
        if orig is None:
            return

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("ipeds_etl_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, traced)
                    self._patched.append((mod, key, orig))

    def unwrap(self) -> None:
        for mod, key, orig in reversed(self._patched):
            setattr(mod, key, orig)
        self._patched.clear()

    # -- Spark stage counters --------------------------------------
    def resolve(self, span: dict) -> None:
        """Attach the jobs and stage counters of the span's own job group.
        Call right after the operation ends: the status store keeps a
        bounded number of jobs."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()  # noqa: SLF001
        jobs = list(tracker.getJobIdsForGroup(span["group"]))
        stages = []
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - evicted or never submitted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                sub, done = sd.submissionTime(), sd.completionTime()
                stages.append(
                    {
                        "id": sid,
                        "tasks": sd.numTasks(),
                        "task_s": sd.executorRunTime() / 1000.0,
                        "shuffle_read_b": sd.shuffleReadBytes(),
                        "shuffle_write_b": sd.shuffleWriteBytes(),
                        "spill_b": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                        "output_records": sd.outputRecords(),
                        "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                        "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                    }
                )
        span["jobs"] = len(jobs)
        span["stages"] = stages

    def op_spans(self, op: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        selfs = self_times(self.spans)
        out = [{**s, "self_s": selfs[s["id"]]} for s in self.spans]
        path.write_text(json.dumps(out, indent=1))
