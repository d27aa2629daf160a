"""Outside-in tracing: spans around the package's public functions.

The benchmark never edits the package.  In a traced run it replaces selected
module attributes (``operators.encode.frequency_encode`` and so on) with
wrappers that record one span per call; callers inside the package look those
attributes up at call time, so nested calls are seen too.  Spans are kept in
memory and written out when the run ends.

A span is (name, start, end, parent, op, phase).  Self time is a span's
duration minus the time its direct children cover.  For a lazy function, one
that only builds a DataFrame plan, the span measures driver-side plan
building; the work runs later inside whichever action consumes the plan.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import threading
import time


class Tracer:
    """Span recorder.  ``enabled=False`` makes every method a cheap no-op, so
    the untimed and timed code paths are the same code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._loaded: set = set()

    # -- context ----------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def context(self, phase: str, op: int | None = None):
        """Attribute spans opened in this thread to ``phase`` and ``op``."""
        prev = getattr(self._local, "ctx", None)
        self._local.ctx = (phase, op)
        try:
            yield
        finally:
            self._local.ctx = prev

    @contextlib.contextmanager
    def span(self, name: str, key=None):
        if not self.enabled:
            yield
            return
        phase, op = getattr(self._local, "ctx", None) or ("other", None)
        stack = self._stack()
        rec = {"name": name, "parent": stack[-1] if stack else None,
               "op": op, "phase": phase, "key": key}
        if name == "sources.readers.load_table":
            with self._lock:
                rec["repeat"] = key in self._loaded
                self._loaded.add(key)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    # -- patching ---------------------------------------------------------
    def wrap(self, module, attr: str, name: str, key=None) -> None:
        """Replace ``module.attr`` with a spanning wrapper (traced runs only)."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, key(*args, **kwargs) if key else None):
                return fn(*args, **kwargs)

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    # -- reporting --------------------------------------------------------
    def self_times(self) -> list[float]:
        """Self time of every span, in seconds, indexed like ``spans``."""
        out = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def per_op_self_ms(self, name: str, ops: list[int]) -> float:
        """Mean over ``ops`` of the self time, per op, of spans named ``name``."""
        selfs, ops_set = self.self_times(), set(ops)
        total = sum(t for s, t in zip(self.spans, selfs)
                    if s["name"] == name and s["op"] in ops_set and s["phase"] == "timed")
        return 1000.0 * total / max(1, len(ops))

    def median_ms(self, name: str, phase: str) -> float:
        vals = [1000.0 * (s["end"] - s["start"]) for s in self.spans
                if s["name"] == name and s["phase"] == phase]
        return statistics.median(vals) if vals else 0.0

    def fired(self) -> set[str]:
        return {s["name"] for s in self.spans}

    def load_stats(self, ops: list[int]) -> tuple[float, float]:
        """(load_table calls per timed op, share of those that re-load a table
        the process had already loaded)."""
        ops_set = set(ops)
        loads = [s for s in self.spans if s["name"] == "sources.readers.load_table"
                 and s["phase"] == "timed" and s["op"] in ops_set]
        repeat = sum(1 for s in loads if s["repeat"])
        return len(loads) / max(1, len(ops)), repeat / max(1, len(loads))

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s, t in zip(self.spans, selfs):
                f.write(json.dumps({**s, "key": repr(s["key"]) if s["key"] else None,
                                    "self_s": t}) + "\n")


def spark_counts(sc, groups: list[str], timeout_s: float = 20.0) -> dict[str, dict]:
    """Jobs, stages, tasks and failed tasks per job group, read through the
    public ``statusTracker()``.  A group with no jobs reads as zeros: an op on
    driver-local data really ran no Spark job.  Status events arrive on the
    listener bus after the action returns, so wait until every job is done."""
    st = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    while True:
        # a shuffle stage reused by a later job is listed again there: count
        # each stage once, under the first group that ran it
        counts, pending, seen = {}, False, set()
        for g in groups:
            c = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
            for j in st.getJobIdsForGroup(g):
                info = st.getJobInfo(j)
                if info is None:
                    raise RuntimeError(f"job {j} is no longer retained "
                                       "(spark.ui.retainedJobs); counts would be partial")
                if info.status not in ("SUCCEEDED", "FAILED"):
                    pending = True
                    continue
                c["jobs"] += 1
                for sid in info.stageIds:
                    stage = st.getStageInfo(sid)
                    if stage is None or sid in seen:
                        continue
                    seen.add(sid)
                    ran = stage.numCompletedTasks + stage.numFailedTasks
                    if ran:
                        c["stages"] += 1
                        c["tasks"] += ran
                        c["failed_tasks"] += stage.numFailedTasks
            counts[g] = c
        if not pending:
            return counts
        if time.monotonic() > deadline:
            raise RuntimeError("Spark job status did not settle; counts would be partial")
        time.sleep(0.05)
