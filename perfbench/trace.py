"""Spans around the engine's public calls, recorded from the benchmark side.

A span is ``{run_id, id, name, start, end, parent}``. While a span is open,
every Spark job the driver launches carries the span's job group, so after
the operation ``statusTracker`` attributes jobs, stages and failed tasks to
the innermost span that launched them. Spans stay in memory until the run
ends. Nothing under ``pyrml_spark/`` changes: the one call the benchmark
does not make itself, ``SourceLoader.load`` (made by the compiler), is
wrapped on the class for the duration of a traced phase.
"""

from __future__ import annotations

import contextlib
import functools
import time
import uuid
from typing import Dict, List, Optional


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.enabled = False
        self.spans: List[dict] = []
        self._stack: List[dict] = []
        self._next = 0
        self._patches: list = []

    @contextlib.contextmanager
    def span(self, name: str, extra: bool = False, **attrs):
        """Time the enclosed call. ``extra`` marks work only the traced run
        does (such as the forced noop execution), which the overhead figure
        leaves out."""
        if not self.enabled:
            yield None
            return
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"run_id": self.run_id, "id": self._next, "name": name,
               "parent": parent["id"] if parent else None, "extra": extra,
               "group": f"perfbench-{self.run_id}-{self._next}", **attrs}
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def wrap_method(self, owner, attr: str, name_of) -> None:
        """Replace ``owner.attr`` by a spanned wrapper until :meth:`close`.
        ``name_of(*args)`` names the span from the call's arguments."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name_of(*args)):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        self.enabled = False

    def attribute_jobs(self) -> None:
        """Fill ``jobs``, ``stages`` and ``failed_tasks`` of each span from
        the status tracker (call soon after the spans close: the tracker
        keeps the most recent jobs only)."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = list(st.getJobIdsForGroup(rec["group"]))
            stages, failed = 0, 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in (list(info.stageIds) if info else []):
                    stages += 1
                    sinfo = st.getStageInfo(sid)
                    failed += sinfo.numFailedTasks if sinfo else 0
            rec.update(jobs=len(jobs), stages=stages, failed_tasks=failed)


def self_times(spans: List[dict]) -> Dict[int, float]:
    """Span id -> duration minus the time its direct children cover
    (children of one span never overlap: the client is single-threaded)."""
    child_total: Dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_total[s["parent"]] = (child_total.get(s["parent"], 0.0)
                                        + s["end"] - s["start"])
    return {s["id"]: s["end"] - s["start"] - child_total.get(s["id"], 0.0)
            for s in spans}


def subtree(spans: List[dict], root_id: int) -> List[dict]:
    """The spans under ``root_id`` (inclusive)."""
    kids: Dict[Optional[int], List[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [s for s in spans if s["id"] == root_id]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out
