"""In-memory spans and Spark job accounting for the traced run.

The benchmark wraps calls into the library's public functions from its
own files; nothing inside ``flumedb_spark`` is instrumented. A span
records name, start, end, parent span and op id. Spans stay in memory
and are written once, when the run ends. A layer's self time is its
span's duration minus the part of that interval its child spans cover.

With tracing off every helper here is a no-op, so the untraced run
pays nothing for it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op_id: int | None = None
        self._op_root: int | None = None

    # ---- spans --------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        # a span opened on a pool thread (rebuild's concurrent folds)
        # has no caller on its own stack: hang it under the op's root
        parent = st[-1] if st else self._op_root
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": self._op_id, **attrs}
        with self._lock:
            idx = rec["id"] = len(self.spans)
            self.spans.append(rec)
        st.append(idx)
        try:
            yield rec
        finally:
            st.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, obj, attr: str, name: str, after=None) -> None:
        """Replace ``obj.attr`` by a spanned call. ``after(rec, args,
        kwargs, result)`` may add attributes to the span record."""
        if not self.enabled:
            return
        inner = getattr(obj, attr)

        @functools.wraps(inner)
        def call(*args, **kwargs):
            with self.span(name) as rec:
                out = inner(*args, **kwargs)
                if after is not None:
                    after(rec, args, kwargs, out)
                return out

        setattr(obj, attr, call)

    # ---- ops ----------------------------------------------------------
    @contextlib.contextmanager
    def op(self, kind: str, **attrs):
        """One benchmark operation: a root span plus, when tracing, its
        own Spark job group whose jobs, stages and tasks are read back
        through ``statusTracker()`` when the op ends."""
        if not self.enabled:
            yield None
            return
        op_id = len(self.ops)
        group = f"perfbench-{op_id}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, kind)
        self._op_id = op_id
        rec = {"op": op_id, "kind": kind, **attrs}
        try:
            with self.span(f"op.{kind}") as root:
                self._op_root = root["id"]
                yield rec
        finally:
            sc.setJobGroup("perfbench-idle", "idle")
            self._op_id = self._op_root = None
            rec.update(self._job_counts(group))
            self.ops.append(rec)

    def _job_counts(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                sinfo = st.getStageInfo(s)
                if sinfo is not None:
                    stages += 1
                    tasks += sinfo.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    # ---- derived ------------------------------------------------------
    def select(self, name: str, kinds: tuple[str, ...]) -> list[dict]:
        """Finished ``name`` spans recorded inside ops of ``kinds``."""
        kind_of = {o["op"]: o["kind"] for o in self.ops}
        return [
            s for s in self.spans
            if s["name"] == name and s["end"] is not None and kind_of.get(s["op"]) in kinds
        ]

    def durations(self, name: str, kinds: tuple[str, ...]) -> list[float]:
        return [s["end"] - s["start"] for s in self.select(name, kinds)]

    def op_counts(self, kind: str, what: str) -> list[int]:
        return [o[what] for o in self.ops if o["kind"] == kind]

    def self_times(self, name: str, kinds: tuple[str, ...]) -> list[float]:
        """Duration of each ``name`` span minus the union of its direct
        children's intervals (children may overlap: concurrent folds)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.select(name, kinds):
            i = s["id"]
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append(s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops}, f)
