"""Span tracing for the benchmark's traced runs.

A span wraps one call into a layer's public function.  Every span runs
its Spark jobs under its own job group, so the status tracker can say
which jobs, stages and tasks a layer caused.  Spans stay in memory and
are written out once, at the end of the run.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        """Time one layer call.  Yields the span record; callers add
        layer counters to ``rec["counts"]``."""
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        group = f"perfbench-span-{id(self)}-{sid}"
        prev = (self.sc.getLocalProperty(_GROUP), self.sc.getLocalProperty(_DESC))
        self.sc.setLocalProperty(_GROUP, group)
        self.sc.setLocalProperty(_DESC, name)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, prev[0])
            self.sc.setLocalProperty(_DESC, prev[1])
            rec["spark"] = job_counts(self.sc, group)

    def wrap(self, name: str, fn, on_result=None):
        """``fn`` wrapped in a span; ``on_result(rec, result)`` may
        materialize the result inside the span and record counters."""

        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    out = on_result(rec, out, args, kwargs)
                return out

        return traced

    def report(self) -> dict:
        """Per layer: calls, inclusive and self time, Spark counters
        (inclusive of child spans) and the layer's own counters."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)

        def dur(s):
            return s["end"] - s["start"]

        def inclusive_spark(s):
            tot = dict(s["spark"])
            for c in children.get(s["id"], []):
                for k, v in inclusive_spark(c).items():
                    tot[k] += v
            return tot

        layers: dict[str, dict] = {}
        for s in self.spans:
            kids = children.get(s["id"], [])
            self_s = dur(s) - _covered(s, kids)
            lay = layers.setdefault(
                s["name"],
                {"calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0,
                 "stages": 0, "tasks": 0, "failed_tasks": 0, "counts": {}},
            )
            lay["calls"] += 1
            lay["total_s"] += dur(s)
            lay["self_s"] += self_s
            for k, v in inclusive_spark(s).items():
                lay[k] += v
            for k, v in s["counts"].items():
                lay["counts"][k] = lay["counts"].get(k, 0) + v
        return layers


def _covered(span: dict, kids: list[dict]) -> float:
    """Length of the part of ``span`` that child spans cover (children
    of one span may overlap only if they ran on other threads)."""
    iv = sorted((max(k["start"], span["start"]), min(k["end"], span["end"]))
                for k in kids)
    tot, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                tot += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        tot += cur_e - cur_s
    return tot


def job_counts(sc, group: str) -> dict:
    """Jobs, stages, tasks run and tasks failed under one job group."""
    st = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    seen: set[int] = set()
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            si = st.getStageInfo(sid)
            if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                continue  # skipped: its output was reused
            stages += 1
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}
