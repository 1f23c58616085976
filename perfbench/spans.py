"""Spans around the benchmark's calls into each package layer, with
Spark's own counters attributed to them.

Each span runs its Spark jobs under a job group of its own, set on the
calling thread, so jobs of concurrent callers never mix. After a
pass, ``harvest`` waits for Spark's listener bus to drain
and reads each span's jobs and stages from the application status
store. A stage reused by a later job is counted once, for the span that
ran it. With tracing off every call is a no-op, except
``stage_cpu_s``, which reads every stage the application has run.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

COUNTERS = ("jobs", "tasks", "task_failures", "cpu_s", "gc_s", "spill_mb",
            "wait_ms", "shuffle_write_mb", "input_mb")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._pending: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._seen_stages: set[int] = set()

    @contextmanager
    def span(self, layer: str, name: str):
        """Time one call into ``layer``; its Spark jobs run under a
        dedicated job group. Nested spans record their parent."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        rec = {"id": sid, "layer": layer, "name": name,
               "parent": stack[-1]["id"] if stack else None,
               "group": f"bench-span-{sid}",
               "thread": threading.get_ident()}
        stack.append(rec)
        self.sc.setJobGroup(rec["group"], f"{layer}.{name}")
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1]["group"],
                                    f"{stack[-1]['layer']}.{stack[-1]['name']}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self._pending.append(rec)

    def harvest(self) -> None:
        """Attach Spark counters to every span finished so far."""
        if not self.enabled:
            return
        with self._lock:
            pending, self._pending = self._pending, []
        if not pending:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for rec in pending:
            c = dict.fromkeys(COUNTERS, 0.0)
            for jid in tracker.getJobIdsForGroup(rec["group"]) or []:
                job = store.job(jid)
                c["jobs"] += 1
                submitted = job.submissionTime()
                first_launch = None
                ids = job.stageIds()
                for i in range(ids.size()):
                    sid = ids.apply(i)
                    with self._lock:
                        if sid in self._seen_stages:
                            continue
                    st = store.lastStageAttempt(sid)
                    if st.status().toString() == "SKIPPED":
                        continue
                    with self._lock:
                        self._seen_stages.add(sid)
                    c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    c["task_failures"] += st.numFailedTasks()
                    c["cpu_s"] += st.executorCpuTime() / 1e9
                    c["gc_s"] += st.jvmGcTime() / 1e3
                    c["spill_mb"] += (st.memoryBytesSpilled()
                                      + st.diskBytesSpilled()) / 1e6
                    c["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                    c["input_mb"] += st.inputBytes() / 1e6
                    launched = st.firstTaskLaunchedTime()
                    if launched.isDefined():
                        t = launched.get().getTime()
                        first_launch = t if first_launch is None else min(
                            first_launch, t)
                if first_launch is not None and submitted.isDefined():
                    c["wait_ms"] += max(
                        0, first_launch - submitted.get().getTime())
            rec["counters"] = c
            self.spans.append(rec)

    def stage_cpu_s(self, cores: int) -> tuple[float, float]:
        """Task CPU seconds of every stage run so far: on the critical
        path, and in total. A stage's critical path is the larger of its
        longest task and its tasks' CPU spread evenly over ``cores``;
        stages are summed. Work that loses its parallelism (a stage
        collapsed into one task) raises the critical path as it raises
        wall time, while load from other processes barely moves it."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = self.sc._gateway
        longest_q = gw.new_array(gw.jvm.double, 1)
        longest_q[0] = 1.0
        jobs = store.jobsList(None)
        stages, critical, total = set(), 0.0, 0.0
        for j in range(jobs.size()):
            ids = jobs.apply(j).stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in stages:
                    continue
                stages.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                dist = store.taskSummary(sid, st.attemptId(), longest_q)
                longest = (dist.get().executorCpuTime().apply(0) / 1e9
                           if dist.isDefined() else 0.0)
                cpu = st.executorCpuTime() / 1e9
                critical += max(longest, cpu / cores)
                total += cpu
        return critical, total

    def write(self, path: str) -> None:
        """Spans as JSON lines: id, layer, name, parent, thread, start,
        end and counters."""
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                fh.write(json.dumps({k: v for k, v in rec.items()
                                     if k != "group"}) + "\n")

    def totals(self) -> dict:
        """Per layer: summed span seconds by name, and summed counters."""
        out: dict[str, dict] = {}
        for rec in self.spans:
            layer = out.setdefault(rec["layer"], {
                "time": {}, **dict.fromkeys(COUNTERS, 0.0)})
            dt = rec["end"] - rec["start"]
            layer["time"][rec["name"]] = layer["time"].get(rec["name"], 0.0) + dt
            for k in COUNTERS:
                layer[k] += rec["counters"][k]
        return out
