"""Spans and per-layer readings for the traced run.

Spans are kept in memory (name, start, end, parent, statement id) and
written out once at the end.  Layer readings come from outside the
engine: timers around the benchmark's calls into each module, wrappers
installed on module functions at run time, Spark's status store (jobs and
stages of each statement's job group) and the executed plan's SQLMetrics.
Nothing under ``risinglight_spark/`` is edited.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int | None, str | None]] = []
        self.sums: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self.stmt: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter(), 0.0, parent, self.stmt))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, start, _, p, s = self.spans[idx]
            end = time.perf_counter()
            self.spans[idx] = (n, start, end, p, s)
            self.sums[name] += end - start

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a timing wrapper recording ``name``."""
        fn = getattr(module, attr)

        def timed(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, timed)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, stmt in self.spans:
                f.write(
                    json.dumps(
                        {"name": name, "start": start, "end": end,
                         "parent": parent, "stmt": stmt}
                    )
                    + "\n"
                )


class NullTracer(Tracer):
    """Untraced runs: spans cost one generator frame and record nothing."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


def _opt_s(jopt) -> float | None:
    return jopt.get().getTime() / 1000.0 if jopt.isDefined() else None


def job_readings(sc, group: str, wait_s: float = 5.0) -> dict:
    """Jobs and stages a statement's job group ran, from the status store.
    Waits until the listener bus has recorded every job's completion."""
    store = sc._jsc.sc().statusStore()
    deadline = time.time() + wait_s
    while True:
        jobs = [store.job(j) for j in sc.statusTracker().getJobIdsForGroup(group)]
        if all(j.completionTime().isDefined() for j in jobs) or time.time() > deadline:
            break
        time.sleep(0.02)
    out = {"jobs": [], "stage_s": 0.0, "tasks": 0, "shuffle_read": 0,
           "shuffle_write": 0, "spill": 0}
    for j in jobs:
        sub, done = _opt_s(j.submissionTime()), _opt_s(j.completionTime())
        if sub is not None and done is not None:
            out["jobs"].append((sub, done))
        for sid in _iter(j.stageIds()):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # stage never attempted: nothing to read
                continue
            if st.status().toString() != "COMPLETE":
                continue
            s0, s1 = _opt_s(st.submissionTime()), _opt_s(st.completionTime())
            if s0 is not None and s1 is not None:
                out["stage_s"] += s1 - s0
            out["tasks"] += st.numTasks()
            out["shuffle_read"] += st.shuffleReadBytes()
            out["shuffle_write"] += st.shuffleWriteBytes()
            out["spill"] += st.diskBytesSpilled()
    return out


def plan_phases_ms(jdf) -> dict[str, float]:
    """Catalyst phase durations from the query's tracker."""
    return {
        kv._1(): float(kv._2().durationMs())
        for kv in _iter(jdf.queryExecution().tracker().phases())
    }


def plan_metrics(jdf) -> dict[str, float]:
    """Sums over the executed plan: rows out of scans, and Python worker
    time (``pythonTotalTime``, summed over tasks, in ms)."""
    root = jdf.queryExecution().executedPlan()
    out = {"scan_rows": 0.0, "python_ms": 0.0}
    todo = [root]
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        name = p.nodeName()
        metrics = {kv._1(): kv._2().value() for kv in _iter(p.metrics())}
        if name.startswith("Scan"):
            out["scan_rows"] += metrics.get("numOutputRows", 0)
        out["python_ms"] += metrics.get("pythonTotalTime", 0)
        todo.extend(_iter(p.children()))
    return out


def proc_io_written(pid: int) -> int:
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            if line.startswith("wchar:"):
                return int(line.split()[1])
    return 0
