"""Spans around the benchmark's calls into the engine's layers.

A span records (name, start, end, parent, request id) and the Spark job
group it ran under; the Spark stage metrics of each span are read once, at
the end of the run, through the driver's status store
(``statusTracker().getJobIdsForGroup(g)`` -> stage ids ->
``statusStore().lastStageAttempt(sid)``), which works with the UI off.
Jobs the engine submits from its own worker threads carry no job group;
each is given to the innermost span open when it was submitted (the
benchmark is one client, so nothing else submits jobs during a span).
Spans live in memory until :meth:`Tracer.finish` and are written out as
one JSON file. With tracing off every span is a no-op, so the untraced run
carries no job-group or bookkeeping cost.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

_T0 = time.perf_counter()
_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"
_STAGE_FIELDS = ("jobs", "stages", "tasks", "run_s", "shuffle_bytes", "spill_bytes", "gc_s")


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, req: int | None = None):
        """Time one call into a layer; ``name`` is ``"<layer>:<call>"``."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "req": req if req is not None else (parent["req"] if parent else None),
            "group": f"kgbench-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty(_GROUP, rec["group"])
        self.sc.setLocalProperty(_DESC, name)
        rec["wall_start"] = time.time()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, parent["group"] if parent else None)
            self.sc.setLocalProperty(_DESC, parent["name"] if parent else None)

    # -- end of run ---------------------------------------------------------

    def finish(self, path: str) -> None:
        """Attach stage metrics and self time to every span, then write them."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        jobs = {s["id"]: list(tracker.getJobIdsForGroup(s["group"])) for s in self.spans}
        for jid in tracker.getJobIdsForGroup(None):
            owner = self._owner(store, jid)
            if owner is not None:
                jobs[owner["id"]].append(jid)
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - sum(
                c["end"] - c["start"] for c in children.get(s["id"], [])
            )
            s["spark"] = _job_metrics(self.sc, tracker, store, jobs[s["id"]])
        # inclusive metrics: a span's own jobs plus its descendants' jobs
        for s in reversed(self.spans):
            inc = dict(s["spark"])
            for c in children.get(s["id"], []):
                for k in _STAGE_FIELDS:
                    inc[k] += c["spark_inclusive"][k]
                inc["task_skew"] = max(inc["task_skew"], c["spark_inclusive"]["task_skew"])
            s["spark_inclusive"] = inc
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)

    def _owner(self, store, jid: int) -> dict | None:
        """The innermost span open when job ``jid`` was submitted."""
        try:
            submitted = store.job(jid).submissionTime()
        except Py4JError:  # evicted from the store
            return None
        if submitted.isEmpty():
            return None
        t = submitted.get().getTime() / 1000.0
        owner = None
        for s in self.spans:  # in start order: the last match is innermost
            if s["wall_start"] <= t <= s["wall_end"]:
                owner = s
        return owner

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def layer_self_s(self) -> dict[str, float]:
        """Self time summed per layer (the part of ``<layer>:<call>``)."""
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(":", 1)[0]
            out[layer] = out.get(layer, 0.0) + s["self_s"]
        return out


def _job_metrics(sc, tracker, store, jobs: list[int]) -> dict:
    m = dict.fromkeys(_STAGE_FIELDS, 0)
    m["task_skew"] = 0.0
    m["jobs"] = len(jobs)
    slowest = None
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JError:  # never submitted, or evicted from the store
                continue
            if st.numCompleteTasks() == 0:
                continue  # skipped: its shuffle output was reused
            m["stages"] += 1
            m["tasks"] += st.numCompleteTasks()
            m["run_s"] += st.executorRunTime() / 1000.0
            m["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
            m["spill_bytes"] += st.diskBytesSpilled()
            m["gc_s"] += st.jvmGcTime() / 1000.0
            if slowest is None or st.executorRunTime() > slowest.executorRunTime():
                slowest = st
    if slowest is not None:
        m["task_skew"] = _task_skew(sc, store, slowest)
    return m


def _task_skew(sc, store, stage) -> float:
    """max / median task run time of one stage (1.0 for a single task)."""
    q = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    dist = store.taskSummary(stage.stageId(), stage.attemptId(), q)
    if dist.isEmpty():
        return 0.0
    rt = dist.get().executorRunTime()
    med, mx = rt.apply(0), rt.apply(1)
    return mx / med if med > 0 else 1.0


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def log(msg: str) -> None:
    """Progress on standard error, with seconds since the process started."""
    print(f"[kgbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def warm_python_workers(spark) -> None:
    """Start one Python worker per task slot with a trivial Arrow job."""
    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(lambda it: it, "id long").count()
