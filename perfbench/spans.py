"""Spans around the program's public entry points, recorded from outside.

Tracing wraps functions and methods of the program at run time; no program
file changes.  Each span keeps its name, start, end, parent span and an
operation id shared by the spans of one request or micro-batch.  Spans stay
in memory until the run ends.

Spark work is attributed to spans through job groups: entering a span sets a
fresh job group on the calling thread and leaving it restores the previous
one, so a job belongs to the innermost open span of the thread that launched
it.  ``statusTracker`` then gives each group's jobs, stages and tasks, and the
driver's monitoring REST endpoint gives each stage's shuffle bytes.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import math
import statistics
import threading
import time
import urllib.error
import urllib.request

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q, steps: int = 4000):
    """Harrell-Davis estimate of the q-quantile; 0.0 for an empty sample.

    A weighted mean of all order statistics (beta(q(n+1), (1-q)(n+1))
    weights), so on the few dozen latencies a run yields it moves much less
    from run to run than the one or two order statistics a plain percentile
    reads."""
    if not xs:
        return 0.0
    s = sorted(xs)
    n = len(s)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    w = [0.0] * n
    for k in range(steps):
        x = (k + 0.5) / steps
        w[k * n // steps] += math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x))
    total = sum(w)
    return sum(wi * v for wi, v in zip(w, s)) / total


class Span:
    __slots__ = ("id", "name", "parent", "op", "start", "end", "thread", "group", "attrs")

    def __init__(self, sid, name, parent, op, thread, group):
        self.id, self.name, self.parent, self.op = sid, name, parent, op
        self.thread, self.group = thread, group
        self.start = self.end = 0.0
        self.attrs: dict = {}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []
        self.active = False   # wrappers call straight through while False

    # -- spans --------------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, op=None) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        span = Span(
            sid, name, parent.id if parent else None,
            op if op is not None else (parent.op if parent else None),
            threading.get_ident(), f"perfbench-{sid}",
        )
        if not stack:
            span.attrs["saved_props"] = [self.sc.getLocalProperty(k) for k in _GROUP_PROPS]
        self.sc.setLocalProperty("spark.jobGroup.id", span.group)
        self.sc.setLocalProperty("spark.job.description", name)
        self.sc.setLocalProperty("spark.job.interruptOnCancel", "false")
        stack.append(span)
        span.start = time.perf_counter()
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.remove(span)
        if stack:
            self.sc.setLocalProperty("spark.jobGroup.id", stack[-1].group)
            self.sc.setLocalProperty("spark.job.description", stack[-1].name)
        else:
            for k, v in zip(_GROUP_PROPS, span.attrs.pop("saved_props")):
                self.sc.setLocalProperty(k, v)
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, op=None):
        s = self.begin(name, op)
        try:
            yield s
        finally:
            self.end(s)

    # -- wrapping -------------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, op_of=None, kind: str = "function", on_result=None):
        """Replace ``owner.attr`` by a traced version (undone by :meth:`unwrap`).

        ``kind`` is "function", "method" or "classmethod".  ``op_of(args,
        kwargs)`` names the operation id of a root span.  ``on_result(span,
        result)`` may record attributes, or return a replacement result."""
        raw = owner.__dict__[attr] if kind == "classmethod" else getattr(owner, attr)
        fn = raw.__func__ if kind == "classmethod" else raw
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            s = tracer.begin(name, op_of(args, kwargs) if op_of else None)
            try:
                result = fn(*args, **kwargs)
            except BaseException:
                tracer.end(s)
                raise
            if on_result is not None:
                replaced = on_result(s, result)
                if replaced is not None:
                    return replaced
            tracer.end(s)
            return result

        setattr(owner, attr, classmethod(traced) if kind == "classmethod" else traced)
        self._undo.append((owner, attr, raw))

    def unwrap(self) -> None:
        for owner, attr, raw in reversed(self._undo):
            setattr(owner, attr, raw)
        self._undo.clear()

    # -- counts -------------------------------------------------------------
    def spark_counts(self) -> dict[int, dict]:
        """Jobs, stages, tasks and shuffle-write bytes per span id."""
        tracker = self.sc.statusTracker()
        ui = self.sc.uiWebUrl
        app = self.sc.applicationId
        shuffle_cache: dict[int, int | None] = {}

        def shuffle_bytes(stage_id: int):
            if ui is None:
                return None
            if stage_id not in shuffle_cache:
                url = f"{ui}/api/v1/applications/{app}/stages/{stage_id}"
                try:
                    with urllib.request.urlopen(url, timeout=5) as r:
                        attempts = json.load(r)
                    shuffle_cache[stage_id] = sum(a.get("shuffleWriteBytes", 0) for a in attempts)
                except (urllib.error.URLError, OSError, ValueError):
                    shuffle_cache[stage_id] = None
            return shuffle_cache[stage_id]

        out = {}
        for s in self.spans:
            jobs = list(tracker.getJobIdsForGroup(s.group))
            stages, tasks, sbytes = 0, 0, 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is None:
                    continue
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    stages += 1
                    if st is not None:
                        tasks += st.numCompletedTasks
                    b = shuffle_bytes(sid)
                    sbytes += b or 0
            out[s.id] = {"jobs": len(jobs), "stages": stages, "tasks": tasks, "shuffle_bytes": sbytes}
        return out

    # -- analysis -------------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                a, b = max(c.start, s.start), min(c.end, s.end)
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.id] = (s.end - s.start) - covered
        return out

    def summary(self, counts: dict[int, dict]) -> dict[str, dict]:
        """Per span name: count, p50 duration, total and self time, Spark counts."""
        selfs = self.self_times()
        by: dict[str, dict] = {}
        for s in self.spans:
            d = by.setdefault(s.name, {"n": 0, "durations": [], "self_s": 0.0, "jobs": 0, "tasks": 0, "shuffle_bytes": 0})
            d["n"] += 1
            d["durations"].append(s.end - s.start)
            d["self_s"] += selfs[s.id]
            c = counts.get(s.id, {})
            for k in ("jobs", "tasks", "shuffle_bytes"):
                d[k] += c.get(k, 0)
        for d in by.values():
            durs = d.pop("durations")
            d["p50_s"] = p50(durs)
            d["total_s"] = sum(durs)
        return by

    def dump(self, path: str, counts: dict[int, dict], t0: float) -> None:
        selfs = self.self_times()
        rows = [
            {
                "id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                "start_s": s.start - t0, "end_s": s.end - t0, "self_s": selfs[s.id],
                "thread": s.thread, **counts.get(s.id, {}),
                **{k: v for k, v in s.attrs.items() if isinstance(v, (int, float, str))},
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, "layers": self.summary(counts)}, f, indent=1, default=str)
