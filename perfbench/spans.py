"""Spans, Spark job accounting and event-log parsing for the traced run.

Everything is observed from outside the program: spans wrap the calls
the benchmark makes into public functions, each call runs under its
own Spark job group, job/stage/task counts come from Spark's
``StatusTracker`` and task metrics from Spark's event log.
"""

from __future__ import annotations

import contextlib
import glob
import json
import time
from collections import defaultdict


class Tracer:
    """Records one span per traced call: name, start, end, parent and
    op id, kept in memory until ``dump``. Disabled, it only times."""

    def __init__(self, enabled: bool):
        self.sc = None  # set once the session is up; no job groups before
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def paused(self):
        """Calls inside run untraced (only timed), whatever ``enabled`` is."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        """Yield a dict that gets ``dur`` (seconds) on exit and, when
        tracing, the Spark ``jobs``/``stages``/``tasks`` the call ran."""
        rec: dict = {"name": name, "op": op}
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["dur"] = time.perf_counter() - t0
            return
        sc = self.sc
        span_id = len(self.spans)
        group = f"pb{span_id}" if sc is not None else None
        parent = self._stack[-1] if self._stack else None
        rec.update(group=group, parent=parent, id=span_id)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if sc is not None:
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur"] = rec["end"] - rec["start"]
            self._stack.pop()
            if sc is not None:
                if prev_group is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    sc.setJobGroup(prev_group, "")
                rec.update(self._job_counts(group))

    def _job_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks:
                    stages += 1
                    tasks += stage.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the part covered by children
        (children of one span never overlap: calls are sequential)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["dur"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += max(0.0, s["dur"] - child[s["id"]])
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def event_log_task_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per job group from every event log under
    ``log_dir``: task CPU, shuffle write/read, spill, scheduler delay
    and GC (seconds or bytes)."""
    group_of_stage: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        group_of_stage[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = group_of_stage.get(ev.get("Stage ID"))
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    acc = out[group]
                    acc["task_cpu_s"] += (
                        m.get("Executor CPU Time", 0)
                        + m.get("Executor Deserialize CPU Time", 0)
                    ) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics", {})
                    sr = m.get("Shuffle Read Metrics", {})
                    acc["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                    acc["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    acc["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    acc["input_b"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    getting = info.get("Getting Result Time", 0)
                    fetch = info.get("Finish Time", 0) - getting if getting else 0
                    busy = (
                        m.get("Executor Run Time", 0)
                        + m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)
                        + fetch
                    )
                    acc["scheduler_delay_s"] += max(0, wall - busy) / 1e3
    return out
