"""Spans around calls into the program, and Spark's per-stage task metrics.

Used only by traced runs. Spans are recorded from the benchmark's side by
replacing module attributes with wrappers (``Tracer.patch``) and restoring
them afterwards; they are kept in memory and summarised when the run ends.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.pass_idx: int | None = None
        self.kind: str | None = None

    @contextmanager
    def span(self, name: str, module: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "module": module,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_idx,
            "kind": self.kind,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()

    def patch(self, owner, attr: str, name: str, module: str, force=None, pre=None, post=None):
        """Wrap ``owner.attr`` in a span. ``force(rec, out)`` runs inside the
        span (to execute a lazily built DataFrame where its layer is
        called); ``pre(rec_attrs, args, kwargs)`` runs before the span as
        a span of the ``trace`` module, so its cost is charged to tracing;
        ``post(rec, args, kwargs, out)`` records counters on the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs: dict = {}
            if pre is not None:
                with tracer.span(f"{name}.pre", "trace"):
                    pre(attrs, args, kwargs)
            with tracer.span(name, module, **attrs) as rec:
                out = orig(*args, **kwargs)
                if force is not None:
                    out = force(rec, out)
            if post is not None:
                post(rec, args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- summaries ----------------------------------------------------------

    def of_pass(self, p: int) -> list[dict]:
        return [s for s in self.spans if s["pass"] == p and "t1" in s]

    @staticmethod
    def net_of_tracing(spans: list[dict]) -> dict[int, float]:
        """Each span's duration minus the spans of the ``trace`` module
        nested anywhere under it (the benchmark's own extra work)."""
        by_id = {s["id"]: s for s in spans}
        net = {s["id"]: s["t1"] - s["t0"] for s in spans}
        for s in spans:
            if s["module"] != "trace":
                continue
            parent = s["parent"]
            while parent in by_id:
                net[parent] -= s["t1"] - s["t0"]
                parent = by_id[parent]["parent"]
        return net

    @staticmethod
    def self_time_by_module(spans: list[dict]) -> dict[str, float]:
        """Span duration minus the duration of its direct children, summed
        per module."""
        child = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["t1"] - s["t0"]
        out: dict[str, float] = {}
        for s in spans:
            own = s["t1"] - s["t0"] - child.get(s["id"], 0.0)
            out[s["module"]] = out.get(s["module"], 0.0) + own
        return out


class StageReader:
    """Per-stage task metrics of the jobs started since the last read,
    from the application status store (populated with the UI off)."""

    def __init__(self, spark) -> None:
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.tracker = spark.sparkContext.statusTracker()
        self.cores = spark.sparkContext.defaultParallelism
        self._seen_job = self._newest_job()

    def _newest_job(self) -> int:
        jobs = self.store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def active_jobs(self) -> int:
        return len(self.tracker.getActiveJobsIds())

    def read(self, e0: float, e1: float) -> dict:
        """Totals over the stages of jobs started since the previous read;
        ``e0``/``e1`` bound the timed call in epoch seconds."""
        jobs = self.store.jobsList(None)
        stage_ids: set[int] = set()
        n_jobs, newest = 0, self._seen_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._seen_job:
                break
            newest = max(newest, jid)
            n_jobs += 1
            sids = job.stageIds()
            stage_ids.update(sids.apply(k) for k in range(sids.size()))
        self._seen_job = newest
        out = {
            "jobs": n_jobs, "stages": 0, "tasks": 0, "failed_tasks": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
            "serial_stage_s": 0.0,
        }
        intervals = []
        for sid in sorted(stage_ids):
            st = self.store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
            sub, end = st.submissionTime(), st.completionTime()
            if sub.isDefined() and end.isDefined():
                a, b = sub.get().getTime() / 1e3, end.get().getTime() / 1e3
                intervals.append((max(a, e0), min(b, e1)))
                if st.numTasks() == 1:
                    out["serial_stage_s"] += b - a
        busy = 0.0
        cur_a = cur_b = None
        for a, b in sorted(i for i in intervals if i[1] > i[0]):
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            busy += cur_b - cur_a
        out["driver_gap_s"] = max(0.0, (e1 - e0) - busy)
        return out


def stream_progress(query) -> dict:
    """Batch count, summed trigger wall, and trigger minus addBatch (the
    engine's per-batch planning, offset and commit work) of a finished
    streaming query, from ``recentProgress``."""
    batches, trig, add = 0, 0.0, 0.0
    for p in query.recentProgress:
        d = p["durationMs"] if isinstance(p, dict) else p.durationMs
        if p["numInputRows"] if isinstance(p, dict) else p.numInputRows:
            batches += 1
        trig += d.get("triggerExecution", 0) / 1e3
        add += d.get("addBatch", 0) / 1e3
    return {"batches": batches, "batch_s": trig, "overhead_s": trig - add}
