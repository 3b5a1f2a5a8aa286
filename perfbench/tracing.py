"""In-memory spans around layer calls, attributed to Spark jobs.

Each span gets its own Spark job group, so every job submitted inside it
(threads started with ``inheritable_thread_target`` included) is tagged
with the innermost open span. After a round, :meth:`Tracer.harvest` reads
jobs and stages for those groups from the driver's status store, which
Spark keeps even with the UI disabled. Nothing is written until
:meth:`Tracer.dump` at the end of the run.

Per span, :meth:`Tracer.finish` derives:

- ``dur_s``: wall time;
- ``self_s``: wall time minus the part covered by child spans;
- ``jobs``, ``stages``, ``exec_run_s``, ``exec_cpu_s``, ``shuffle_bytes``,
  ``out_rows``, ``out_bytes``: summed over the jobs of the span and its
  descendants (skipped stages excluded);
- ``driver_gap_s``: wall time no job interval of the span covers;
- ``busy_ratio``: executor run time over (wall x default parallelism).
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_GROUP_PREFIX = "perfbench-"


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Spans for one benchmark run. A disabled tracer records nothing and
    touches no Spark state, so untraced runs pay no tracing cost."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.parallelism = self.sc.defaultParallelism
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._jobs: dict[str, list[dict]] = defaultdict(list)
        self._last_job = -1

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace_id": trace_id if trace_id is not None else (parent or {}).get("trace_id"),
            "group": f"{_GROUP_PREFIX}{len(self.spans)}",
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def harvest(self) -> None:
        """Pull the jobs finished since the last harvest from the status
        store. Call between rounds: the store keeps a bounded number of
        jobs (``spark.ui.retainedJobs``), far more than one round runs."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)  # newest first
        newest = self._last_job
        for i in range(jobs.size()):
            j = jobs.apply(i)
            job_id = j.jobId()
            if job_id <= self._last_job:
                break
            newest = max(newest, job_id)
            group = j.jobGroup()
            if not group.isDefined() or not group.get().startswith(_GROUP_PREFIX):
                continue
            rec = {"id": job_id, "submit": None, "end": None, "stages": 0,
                   "exec_run_s": 0.0, "exec_cpu_s": 0.0, "shuffle_bytes": 0,
                   "out_rows": 0, "out_bytes": 0}
            if j.submissionTime().isDefined():
                rec["submit"] = j.submissionTime().get().getTime() / 1000.0
            if j.completionTime().isDefined():
                rec["end"] = j.completionTime().get().getTime() / 1000.0
            ids = j.stageIds()
            for k in range(ids.size()):
                try:
                    st = store.lastStageAttempt(ids.apply(k))
                except Py4JJavaError:  # never submitted: nothing ran
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["exec_run_s"] += st.executorRunTime() / 1000.0
                rec["exec_cpu_s"] += st.executorCpuTime() / 1e9
                rec["shuffle_bytes"] += st.shuffleWriteBytes()
                rec["out_rows"] += st.outputRecords()
                rec["out_bytes"] += st.outputBytes()
            self._jobs[group.get()].append(rec)
        self._last_job = newest

    def finish(self) -> None:
        """Derive every span's totals, self time and driver gap."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        incl: dict[int, list[dict]] = {}
        for s in reversed(self.spans):  # children have larger ids
            jobs = list(self._jobs.get(s["group"], []))
            for c in children[s["id"]]:
                jobs.extend(incl[c["id"]])
            incl[s["id"]] = jobs
            lo, hi = s["start"], s["end"]
            dur = hi - lo
            s["dur_s"] = dur
            s["self_s"] = dur - _covered([(c["start"], c["end"]) for c in children[s["id"]]], lo, hi)
            s["jobs"] = len(jobs)
            for key in ("stages", "exec_run_s", "exec_cpu_s", "shuffle_bytes", "out_rows", "out_bytes"):
                s[key] = sum(j[key] for j in jobs)
            intervals = [(j["submit"], j["end"]) for j in jobs if j["submit"] and j["end"]]
            s["driver_gap_s"] = dur - _covered(intervals, lo, hi)
            s["busy_ratio"] = s["exec_run_s"] / (dur * self.parallelism) if dur > 0 else 0.0

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str, header: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({**header, "spans": self.spans}, f, indent=1, default=str)
