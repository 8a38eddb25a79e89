"""Spans recorded around the program's public entry points.

The benchmark never edits the program: in a traced run it replaces a
module attribute (``Router.handle``, ``engine.append_points``,
``DataFrame.toPandas`` ...) with a wrapper that records a span and, for
calls that may launch Spark jobs, runs them under a job group of their
own so the jobs can be counted per span from ``statusTracker``.

Spans live in memory (one dict each) and are written out when the run
ends. A span's self time is its duration minus the union of its
children's intervals.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict

_JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self.enabled = False
        self.label = None  # stamped on request spans begun while set
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    # -- recording -------------------------------------------------------

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def active(self) -> bool:
        """Record in this thread? A span already open keeps its children
        traced even if tracing was switched off meanwhile."""
        return self.enabled or bool(self._stack())

    def begin(self, name: str, rid: str | None = None, group: bool = False, **attrs) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else None
        span = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "rid": rid or (parent["rid"] if parent else None),
            **attrs,
        }
        if group and self.spark is not None:
            sc = self.spark.sparkContext
            span["_prev_group"] = sc.getLocalProperty(_JOB_GROUP)
            span["group"] = f"perfbench-{span['id']}"
            sc.setLocalProperty(_JOB_GROUP, span["group"])
        stack.append(span)
        span["start"] = time.perf_counter()
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack().pop()
        if "group" in span:
            sc = self.spark.sparkContext
            sc.setLocalProperty(_JOB_GROUP, span.pop("_prev_group"))
            span.update(job_stats(self.spark, span["group"]))
        with self._lock:
            self.spans.append(span)

    def wrap(self, owner, attr: str, name: str, *, group: bool = False, rid=None, pre=None, on_call=None):
        """Replace ``owner.attr`` by a recording wrapper. ``rid(args)``
        names a new request; ``pre(args, kwargs)`` and
        ``on_call(span, args, kwargs, result)`` add attributes before and
        after the call."""
        orig = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if rid is None and not tracer.active():
                return orig(*args, **kwargs)
            if rid is not None:
                if not tracer.enabled:
                    return orig(*args, **kwargs)
                span = tracer.begin(name, rid=rid(args), group=group, label=tracer.label)
            else:
                span = tracer.begin(name, group=group)
            if pre is not None:
                span.update(pre(args, kwargs))
            result = None
            try:
                result = orig(*args, **kwargs)
                return result
            finally:
                tracer.end(span)
                if on_call is not None:
                    on_call(span, args, kwargs, result)

        _set(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            _set(owner, attr, orig)
        self._patched.clear()


def _set(owner, attr: str, value) -> None:
    if isinstance(owner, dict):
        owner[attr] = value
    else:
        setattr(owner, attr, value)


def job_stats(spark, group: str) -> dict:
    """Jobs, stages, tasks, shuffle bytes and job wall time of one job group."""
    st = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = shuffle = 0
    intervals = []
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        try:
            jd = store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                intervals.append(
                    (jd.submissionTime().get().getTime() / 1e3, jd.completionTime().get().getTime() / 1e3)
                )
        except Exception:
            pass
        for s in info.stageIds:
            si = st.getStageInfo(s)
            if si is None:
                continue  # skipped stage: never ran
            stages += 1
            tasks += si.numTasks
            try:
                shuffle += store.lastStageAttempt(s).shuffleWriteBytes()
            except Exception:
                pass
    return {
        "jobs": len(jobs),
        "stages": stages,
        "tasks": tasks,
        "shuffle_bytes": shuffle,
        "exec_s": covered(intervals),
    }


def covered(intervals) -> float:
    """Length of the union of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], ())
            if c["end"] > s["start"] and c["start"] < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - covered(clipped)
    return out


def subtree_totals(spans: list[dict], key: str) -> dict[int, float]:
    """Span id -> sum of ``key`` over the span and all its descendants."""
    children = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            children[s["parent"]].append(s["id"])
    by_id = {s["id"]: s for s in spans}
    memo: dict[int, float] = {}

    def total(i: int) -> float:
        if i not in memo:
            memo[i] = by_id[i].get(key, 0) + sum(total(c) for c in children.get(i, ()))
        return memo[i]

    for i in by_id:
        total(i)
    return memo


def modal(values) -> float:
    """Most common value (smallest on a tie): a count that repeats exactly
    when each kind of operation launches a fixed number of jobs."""
    counts: dict = defaultdict(int)
    for v in values:
        counts[v] += 1
    if not counts:
        return 0
    best = max(counts.values())
    return min(v for v, c in counts.items() if c == best)
