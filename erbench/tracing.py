"""Per-layer tracing from outside the engine.

A traced run wraps each call into an engine layer in a span (name, start,
end, parent) and a Spark job group named `<layer>#<round>`. After the run:

* jobs / stages / tasks per layer come from Spark's StatusTracker;
* executor CPU, shuffle write, spill and peak execution memory per layer
  come from the Spark event log (enabled uncompressed for traced runs);
* the spans are written to a JSON file.

A layer's wall is its self time: span durations minus the spans nested in
them (the catalog bookkeeping inside a committed stage is its own layer).
An untraced run uses the same calls with `enabled=False`: no job groups,
no patches, nothing recorded.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict

MIB = 2**20


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.round = 0
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._origin = time.perf_counter()

    def group(self, name: str) -> str:
        return f"{name}#{self.round}"

    @property
    def current_group(self) -> str | None:
        return self.spans[self._stack[-1]]["group"] if self._stack else None

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def layer(self, name: str):
        if not self.enabled:
            yield
            return
        span = {
            "name": name,
            "round": self.round,
            "group": self.group(name),
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._origin,
            "end": None,
        }
        outer = self.current_group
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        self._set_group(span["group"])
        try:
            yield
        finally:
            span["end"] = time.perf_counter() - self._origin
            self._stack.pop()
            self._set_group(outer)

    def adopt_group_in_thread(self) -> None:
        """Called from a helper thread the engine starts inside a span: run
        its jobs under the span's job group (job groups are per thread)."""
        if self.enabled and threading.current_thread() is not threading.main_thread():
            group = self.current_group
            if group is not None:
                self._set_group(group)

    # ------------------------------------------------------------ results

    def self_walls(self) -> dict[tuple[str, int], float]:
        """(layer, round) -> seconds of self time."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[tuple[str, int], float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[(s["name"], s["round"])] += s["end"] - s["start"] - child[i]
        return out

    def job_counts(self) -> dict[str, dict]:
        """group -> jobs, stages, tasks (StatusTracker; call before stop)."""
        st = self.sc.statusTracker()
        out = {}
        for group in {s["group"] for s in self.spans}:
            jobs = list(st.getJobIdsForGroup(group))
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            ran = [st.getStageInfo(s) for s in stages]
            ran = [i for i in ran if i is not None and i.numCompletedTasks > 0]
            out[group] = {
                "jobs": len(jobs),
                "stages": len(ran),
                "tasks": sum(i.numCompletedTasks for i in ran),
            }
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)


def event_log_metrics(path: str) -> dict[str, dict]:
    """group -> cpu_s, shuffle_write_mib, spill_mib, peak_exec_mib summed
    (peak: maxed) over the tasks of the group's jobs."""
    stage_group: dict[int, str] = {}
    acc: dict[str, dict] = defaultdict(
        lambda: {"cpu_s": 0.0, "shuffle_write_mib": 0.0, "spill_mib": 0.0,
                 "peak_exec_mib": 0.0}
    )
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", ()):
                    if group is not None:
                        stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                a = acc[group]
                a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                sw = m.get("Shuffle Write Metrics") or {}
                a["shuffle_write_mib"] += sw.get("Shuffle Bytes Written", 0) / MIB
                a["spill_mib"] += m.get("Disk Bytes Spilled", 0) / MIB
                a["peak_exec_mib"] = max(
                    a["peak_exec_mib"], m.get("Peak Execution Memory", 0) / MIB
                )
    return dict(acc)
