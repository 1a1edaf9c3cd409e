"""Span recorder for the traced run.

Spans are recorded around the benchmark's own calls into each layer
(name, start, end, parent, run id) and kept in memory until the run
ends.  Each span runs its Spark jobs under its own job group, so after
it ends the counters of exactly its jobs (its children's included) are
summed from the application status store, which is populated with the
UI disabled: tasks, task time, GC time, input and shuffle bytes.  Stage
records are used rather than before/after deltas of the executor
summaries, because with the UI disabled a live executor record is only
rewritten every ``spark.ui.liveUpdate.period`` and so lags its last
tasks.  Nothing here reaches into the program: with tracing off every
span is a no-op.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

COUNTERS = ("jobs", "tasks", "task_ms", "gc_ms", "input_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes")


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name):
        yield None


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str):
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _group(self, rec) -> str:
        return f"{self.run_id}-span-{rec['id']}"

    def _stage_totals(self, job_ids) -> dict:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # the store updates async
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        tot = dict.fromkeys(COUNTERS, 0)
        tot["jobs"] = len(job_ids)
        infos = [tracker.getJobInfo(j) for j in job_ids]
        # a set: a stage two jobs share is counted once
        for sid in {sid for info in infos if info for sid in info.stageIds}:
            st = store.lastStageAttempt(sid)
            tot["tasks"] += st.numCompleteTasks()
            tot["task_ms"] += st.executorRunTime()
            tot["gc_ms"] += st.jvmGcTime()
            tot["input_bytes"] += st.inputBytes()
            tot["shuffle_read_bytes"] += st.shuffleReadBytes()
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
        return tot

    @contextlib.contextmanager
    def span(self, name):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "run_id": self.run_id,
               "parent": parent["id"] if parent else None,
               "id": len(self.spans), "_jobs": []}
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.setJobGroup(self._group(rec), name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(self._group(parent), parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            rec["_jobs"] += self._sc.statusTracker().getJobIdsForGroup(
                self._group(rec))
            rec.update(self._stage_totals(rec["_jobs"]))
            if parent is not None:
                parent["_jobs"] += rec["_jobs"]

    def self_times(self) -> dict:
        """Per span name: (count, total s, self s).  Self time is the
        span's duration minus the part its direct children cover."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            n, tot, own = out.get(s["name"], (0, 0.0, 0.0))
            out[s["name"]] = (n + 1, tot + dur, own + dur - child_s[s["id"]])
        return out

    def named(self, name) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(
                    {k: v for k, v in s.items() if k != "_jobs"}) + "\n")


def _tree_rss_kb(root_pid: int) -> int:
    """Resident set of ``root_pid`` and all its descendants (the JVM and
    the Python workers it forks), from /proc."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status") as fh:
                ppid = kb = 0
                for ln in fh:
                    if ln.startswith("PPid:"):
                        ppid = int(ln.split()[1])
                    elif ln.startswith("VmRSS:"):
                        kb = int(ln.split()[1])
        except OSError:
            continue
        parent[int(d)] = ppid
        rss[int(d)] = kb
    total = 0
    for pid, kb in rss.items():
        p = pid
        while p and p != root_pid:
            p = parent.get(p, 0)
        if p == root_pid:
            total += kb
    return total


class RssSampler:
    """Background sampler of the process tree's peak resident set."""

    def __init__(self, interval_s: float = 0.25):
        self.peak_kb = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
