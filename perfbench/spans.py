"""Tracing for the benchmark's traced runs, all from outside the engine.

* ``Tracer`` keeps one span per call at each layer boundary the benchmark
  crosses (name, start, end, parent span, op id) in memory; the run writes
  them out when it ends.
* ``read_event_log`` folds Spark's JSON event log into per-job-group
  counters (the benchmark sets one job group per op phase).
* ``catalyst_phases_ms`` reads a query's analysis/optimization/planning
  times from ``queryExecution().tracker().phases()``.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import re
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        """Record ``name`` as a child of the innermost open span. Yields
        the span record (``None`` when tracing is off) so callers can
        attach attributes such as a row count."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": next(self._ids),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "op": op,
            "start_s": time.perf_counter() - self._t0,
            **attrs,
        }
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end_s"] = time.perf_counter() - self._t0
            self.spans.append(rec)


_PHASE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")


def catalyst_phases_ms(df) -> dict[str, float]:
    """{analysis, optimization, planning} milliseconds of ``df``'s own
    query execution (only phases that have run are present)."""
    text = df._jdf.queryExecution().tracker().phases().toString()
    return {m[0]: float(int(m[2]) - int(m[1])) for m in _PHASE.findall(text)}


# Python-worker SQL metrics as they appear in task accumulables
_PY_METRICS = {
    "time to run Python workers": "pyworker.run_ms",
    "time to start Python workers": "pyworker.start_ms",
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_returned",
}


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks, executor run/CPU/GC ms, shuffle
    read/write bytes, fetch wait, spill, scan input bytes/rows and the
    Python-worker metrics, summed over the group's tasks."""
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                groups[g]["exec.jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerStageCompleted":
                g = stage_group.get(ev["Stage Info"]["Stage ID"])
                if g is not None:
                    groups[g]["exec.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                tm = ev.get("Task Metrics")
                if g is None or tm is None:
                    continue
                acc = groups[g]
                acc["exec.tasks"] += 1
                acc["exec.run_ms"] += tm["Executor Run Time"]
                acc["exec.cpu_ms"] += tm["Executor CPU Time"] / 1e6
                acc["exec.gc_ms"] += tm["JVM GC Time"]
                sr = tm["Shuffle Read Metrics"]
                acc["exec.shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                acc["exec.fetch_wait_ms"] += sr["Fetch Wait Time"]
                acc["exec.shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                acc["exec.spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                acc["sources.input_bytes"] += tm["Input Metrics"]["Bytes Read"]
                acc["sources.input_rows"] += tm["Input Metrics"]["Records Read"]
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    key = _PY_METRICS.get(a.get("Name"))
                    if key is not None:
                        acc[key] += float(a.get("Update") or 0)
    return {g: dict(v) for g, v in groups.items()}
