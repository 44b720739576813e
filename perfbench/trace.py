"""Trace collector for the traced run.

Spans are recorded around the calls into each layer, from the
benchmark's side only: the engine package is not instrumented, its
public methods are wrapped for the life of one traced run. Each span
gets its own Spark job group, so after the run the jobs and stages of
the status store (``sc._jsc.sc().statusStore()``) are attributed to the
innermost span that launched them. Spans live in memory with their
parent ids and are written out once, at the end, with their self time
(duration minus the time covered by child spans).
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._patched: list[tuple[object, str, object]] = []
        # time spent in the tracer's own bookkeeping, not in the work
        self.overhead_s = 0.0

    def reset(self) -> None:
        """Forget the spans and overhead so far (after a warm-up)."""
        with self._lock:
            self.spans.clear()
        self.overhead_s = 0.0

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> dict | None:
        st = self._stack()
        return st[-1] if st else None

    @contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        with self._lock:
            sid = self._next
            self._next += 1
        stack = self._stack()
        parent = stack[-1]["id"] if stack else None
        group = f"{GROUP_PREFIX}{sid}"
        prev = (self.sc.getLocalProperty("spark.jobGroup.id"),
                self.sc.getLocalProperty("spark.job.description"))
        self.sc.setJobGroup(group, name)
        rec = {"id": sid, "parent": parent, "name": name, "group": group,
               "attrs": dict(attrs)}
        stack.append(rec)
        t0 = time.perf_counter()
        self.overhead_s += t0 - t_in
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["start"], rec["end"] = t0, t1
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
            self.sc.setLocalProperty("spark.job.description", prev[1])
            with self._lock:
                self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Replace ``owner.attr`` by a spanned call until ``unwrap``.
        ``attrs_of(args, kwargs)`` may name attributes of the span."""
        inner = getattr(owner, attr)
        tracer = self

        @functools.wraps(inner)
        def spanned(*args, **kwargs):
            attrs = attrs_of(args, kwargs) if attrs_of else {}
            with tracer.span(name, **attrs):
                return inner(*args, **kwargs)

        self._patched.append((owner, attr, inner))
        setattr(owner, attr, spanned)

    def unwrap(self) -> None:
        for owner, attr, inner in reversed(self._patched):
            setattr(owner, attr, inner)
        self._patched.clear()

    def plan_phases(self, df, rec: dict | None = None) -> None:
        """Attach Catalyst's analysis/optimization/planning ms of an
        executed DataFrame to the span ``rec`` (default: current)."""
        t_in = time.perf_counter()
        rec = rec or self.current()
        try:
            phases = df._jdf.queryExecution().tracker().phases()
            for key in ("analysis", "optimization", "planning"):
                phase = phases.get(key)  # a Scala Option
                if phase.isDefined():
                    rec["attrs"][f"{key}_ms"] = int(phase.get().durationMs())
        except Exception:  # a frame built without Catalyst (local rows)
            pass
        self.overhead_s += time.perf_counter() - t_in

    # -- status store --------------------------------------------------------

    def harvest(self) -> None:
        """Attribute every finished job of the run to its span:
        jobs, stages, tasks, executor run ms, input and shuffle bytes,
        and output bytes, summed per span (``self_*``) and then over
        each span's subtree (``tree_*``)."""
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(1.0)
        store = jsc.statusStore()
        stages: dict[int, dict] = {}
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        slist = store.stageList(None, False, False, no_quantiles, None)
        for i in range(slist.size()):
            s = slist.apply(i)
            d = stages.setdefault(s.stageId(), {
                "tasks": 0, "run_ms": 0, "input": 0, "shuffle": 0,
                "output": 0})
            d["tasks"] += s.numTasks()
            d["run_ms"] += s.executorRunTime()
            d["input"] += s.inputBytes()
            d["shuffle"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
            d["output"] += s.outputBytes()
        by_group: dict[str, dict] = {}
        jlist = store.jobsList(None)
        for i in range(jlist.size()):
            j = jlist.apply(i)
            grp = j.jobGroup()
            if not grp.isDefined() or not grp.get().startswith(GROUP_PREFIX):
                continue
            acc = by_group.setdefault(grp.get(), {
                "jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0,
                "input": 0, "shuffle": 0, "output": 0, "intervals": []})
            acc["jobs"] += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                acc["intervals"].append((sub.get().getTime(),
                                         done.get().getTime()))
            ids = j.stageIds()
            for k in range(ids.size()):
                st = stages.get(ids.apply(k))
                if st is None:  # skipped stage: its output was reused
                    continue
                acc["stages"] += 1
                for f in ("tasks", "run_ms", "input", "shuffle", "output"):
                    acc[f] += st[f]
        zero = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "input": 0,
                "shuffle": 0, "output": 0, "intervals": []}
        kids: dict = {}
        for s in self.spans:
            s["self"] = dict(by_group.get(s["group"], zero))
            kids.setdefault(s["parent"], []).append(s)

        def tree(s):
            tot = dict(s["self"])
            covered = 0.0
            for c in kids.get(s["id"], []):
                sub = tree(c)
                covered += c["end"] - c["start"]
                for f in tot:
                    tot[f] = tot[f] + sub[f]
            s["tree"] = tot
            s["self_s"] = max(s["end"] - s["start"] - covered, 0.0)
            return tot

        def union_ms(intervals) -> int:
            total, end = 0, None
            for a, b in sorted(intervals):
                if end is None or a > end:
                    total += b - a
                    end = b
                elif b > end:
                    total += b - end
                    end = b
            return total

        for root in kids.get(None, []):
            tree(root)
        for s in self.spans:
            # wall time in which at least one of the subtree's jobs ran
            s["tree"]["job_ms"] = union_ms(s["tree"].pop("intervals"))
            s["self"]["job_ms"] = union_ms(s["self"].pop("intervals"))

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, rec: dict, name: str) -> list[dict]:
        return [s for s in self.spans
                if s["parent"] == rec["id"] and s["name"] == name]

    def dump(self, path: str) -> None:
        base = min((s["start"] for s in self.spans), default=0.0)
        out = []
        for s in sorted(self.spans, key=lambda s: s["start"]):
            out.append({
                "id": s["id"], "parent": s["parent"], "name": s["name"],
                "start_s": round(s["start"] - base, 6),
                "dur_s": round(s["end"] - s["start"], 6),
                "self_s": round(s.get("self_s", 0.0), 6),
                "attrs": s["attrs"], "self": s.get("self"),
                "tree": s.get("tree"),
            })
        with open(path, "w") as fh:
            json.dump(out, fh)
