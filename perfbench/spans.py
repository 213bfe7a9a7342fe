"""Spans around the program's public entry points, for the traced run.

A span records name, layer, start, end, parent and op, plus the Spark
jobs and stages started inside it (read from the DAG scheduler's id
counters) and, once the pass is over, the tasks of those stages. Spans stay in memory; the caller writes them out at exit.
The wrappers are installed only around a traced pass and removed after
it, so untraced passes run the program unmodified.
"""

from __future__ import annotations

import functools
import inspect
import re
import sys
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def counters(self) -> tuple[int, int]:
        dag = self._jsc.dagScheduler()
        return dag.nextJobId(), dag.nextStageId()

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        """A span; ``op`` defaults to the enclosing span's."""
        jobs0, stages0 = self.counters()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "layer": layer,
            "op": op if op is not None or parent is None else self.spans[parent]["op"],
            "parent": parent,
        }
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            jobs1, stages1 = self.counters()
            rec["jobs"] = jobs1 - jobs0
            rec["stages"] = [stages0, stages1]

    def wrap(self, fn, name: str, layer: str, after=None):
        """``fn`` inside a span; ``after(rec, args, result)`` runs once the
        span has closed, for bookkeeping that must not count as the call."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer) as rec:
                result = fn(*args, **kwargs)
            if after is not None:
                after(rec, args, result)
            return result

        return traced


def self_times(spans: list[dict], root: int) -> dict[str, float]:
    """Per-layer self time under ``root``: each span's duration minus the
    time its children cover. The values sum to the root's duration."""
    child_time = [0.0] * len(spans)
    under = {root}
    out: dict[str, float] = {}
    for i in range(root + 1, len(spans)):
        p = spans[i]["parent"]
        if p in under:
            under.add(i)
            child_time[p] += spans[i]["end"] - spans[i]["start"]
    for i in sorted(under):
        s = spans[i]
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - child_time[i]
    return out


@contextmanager
def patched(targets):
    """Rebind each ``(owner, attr, replacement)``; restore on exit. A
    module-level function is also rebound in every package module that
    imported it by name, so callers that bound it at import see the span."""
    saved = []
    try:
        for owner, attr, new in targets:
            old = inspect.getattr_static(owner, attr)
            saved.append((owner, attr, old))
            setattr(owner, attr, staticmethod(new) if isinstance(old, staticmethod) else new)
            if inspect.ismodule(owner):
                for mod in list(sys.modules.values()):
                    if (mod is not owner and getattr(mod, "__name__", "").startswith("ipydataclean_spark")
                            and mod.__dict__.get(attr) is old):
                        saved.append((mod, attr, old))
                        setattr(mod, attr, new)
        yield
    finally:
        for owner, attr, old in reversed(saved):
            setattr(owner, attr, old)


_DURATION = re.compile(r"^([0-9.]+) (ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


class SparkCounters:
    """Per-pass execution statistics from Spark's status stores: stages,
    tasks, failed tasks, shuffle bytes and executor run time per stage,
    and Python worker time from the SQL metrics of each execution's
    final plan."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.cores = spark.sparkContext.defaultParallelism

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _last_execution(self) -> int:
        execs = self._sql.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def mark(self) -> dict:
        self._drain()
        dag = self._jsc.dagScheduler()
        return {
            "jobs": dag.nextJobId(),
            "stages": dag.nextStageId(),
            "execution": self._last_execution(),
            "t": time.perf_counter(),
        }

    def since(self, start: dict, spans: list[dict]) -> dict:
        """Counters since ``start``; also sets each span's ``tasks``."""
        end = self.mark()
        store = self._jsc.statusStore()
        tasks: dict[int, int] = {}
        failed = shuffle = run_ms = 0
        for sid in range(start["stages"], end["stages"]):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - a stage that never ran has no record
                continue
            tasks[sid] = st.numTasks()
            failed += st.numFailedTasks()
            shuffle += st.shuffleWriteBytes()
            run_ms += st.executorRunTime()
        for s in spans:
            s["tasks"] = sum(tasks.get(sid, 0) for sid in range(*s["stages"]))
        wall = end["t"] - start["t"]
        return {
            "exec.jobs": end["jobs"] - start["jobs"],
            "exec.stages": end["stages"] - start["stages"],
            "exec.tasks": sum(tasks.values()),
            "exec.failed_tasks": failed,
            "exec.shuffle_bytes": shuffle,
            "exec.python_s": self._python_seconds(start["execution"], end["execution"]),
            "exec.parallelism": run_ms / 1000.0 / (wall * self.cores) if wall > 0 else 0.0,
        }

    def _python_seconds(self, after: int, upto: int) -> float:
        total = 0.0
        for eid in range(after + 1, upto + 1):
            try:
                nodes = self._sql.planGraph(eid).allNodes()
                values = self._sql.executionMetrics(eid)
            except Exception:  # noqa: BLE001 - executions evicted from the store
                continue
            for i in range(nodes.size()):
                metrics = nodes.apply(i).metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    if m.name() != "time to run Python workers":
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        # "total (min, med, max ...)\n7.7 s (...)": the total
                        lines = v.get().splitlines()
                        hit = _DURATION.match(lines[-1]) if lines else None
                        if hit:
                            total += float(hit.group(1)) * _UNIT_S[hit.group(2)]
        return total
