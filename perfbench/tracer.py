"""In-memory spans around calls into the package's layers.

Each span sets a Spark job group named after its id, so the event log
can attribute every job, stage and task to the innermost open span.
Spans are kept in memory and written out when the run ends. The time
the tracer spends in its own bookkeeping (span records and job-group
calls) is summed in ``overhead_s``.
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object | None]] = []
        self._ids = itertools.count()
        self.overhead_s = 0.0

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["id"], rec["name"])

    @contextmanager
    def span(self, name: str, layer: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sid = f"perfbench-{next(self._ids)}"
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            # spans of one operation share the id of its outermost span
            "op": self._stack[0]["id"] if self._stack else sid,
            "start": time.time(),
        }
        self._stack.append(rec)
        self._set_group(rec)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str, layer: str) -> None:
        """Replace ``owner.attr`` (a module global or an instance method)
        with a traced wrapper until ``unpatch``."""
        original = getattr(owner, attr)
        # a bound method lives on the class: restore by deleting the
        # instance attribute rather than pinning the bound method
        own = attr in vars(owner)
        self._patched.append((owner, attr, original if own else None))
        setattr(owner, attr, self.wrap(original, name, layer))

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patched):
            if original is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)
        self._patched.clear()

    def descendants(self, root_id: str) -> set[str]:
        """Ids of ``root_id`` and every span nested under it."""
        children: dict[str, list[str]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s["id"])
        out, todo = set(), [root_id]
        while todo:
            sid = todo.pop()
            out.add(sid)
            todo.extend(children.get(sid, []))
        return out

    def self_time(self, span: dict) -> float:
        """Span duration minus the time its direct children cover."""
        kids = [s for s in self.spans if s["parent"] == span["id"]]
        return (span["end"] - span["start"]) - sum(k["end"] - k["start"] for k in kids)
