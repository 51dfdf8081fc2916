"""Span recorder for the traced run.

The traced run wraps the engine's public functions where their callers
look them up (``streaming.ingest.merge_batch``, not only
``operators.merge.merge_batch``) and records one span per call: name,
start, end, parent span and epoch id. Spans stay in memory until the run
ends. Every span that can launch Spark jobs tags them with its own job
group, so per-stage counters from Spark's status REST API can be charged
to the span that caused them. End-to-end metrics never come from a traced
run."""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
import urllib.request
from dataclasses import dataclass, field
from typing import Any, Callable

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    t0: float
    t1: float = 0.0
    parent: int | None = None
    epoch: int | None = None
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class NullTracer:
    """Tracing off: spans cost one no-op context manager."""

    enabled = False

    def span(self, name: str, epoch: int | None = None, jobs: bool = True):
        return contextlib.nullcontext(None)

    @contextlib.contextmanager
    def installed(self):
        yield self


class Tracer:
    enabled = True

    def __init__(self, spark=None, install: Callable[["Tracer"], None] | None = None):
        self.spark = spark
        self._install = install
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[Callable[[], None]] = []
        #: parent for spans opened by a thread with an empty stack (the
        #: streaming micro-batch callback thread hangs under the pass root)
        self.root: int | None = None
        #: spans are recorded only inside ``installed()``
        self.active = False

    @contextlib.contextmanager
    def installed(self):
        """Engine functions wrapped for the duration of the block."""
        if self._install is not None:
            self._install(self)
        self.active = True
        try:
            yield self
        finally:
            self.active = False
            self.uninstall()

    # ---------- spans ----------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, epoch: int | None = None, jobs: bool = True):
        if not self.active:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sp = Span(
                id=len(self.spans), name=name, t0=0.0,
                parent=parent.id if parent else self.root,
                epoch=epoch if epoch is not None else (parent.epoch if parent else None),
            )
            self.spans.append(sp)
        prev_group = None
        sc = self.spark.sparkContext if (jobs and self.spark is not None) else None
        if sc is not None:
            prev_group = sc.getLocalProperty(_GROUP)
            sc.setLocalProperty(_GROUP, f"perfbench-{sp.id}")
        stack.append(sp)
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty(_GROUP, prev_group)

    def wrap(self, owner: Any, attr: str, name: str,
             epoch_of: Callable[..., int | None] | None = None,
             jobs: bool = True,
             after: Callable[[Span, Any, tuple, dict], None] | None = None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper until
        ``uninstall``. ``after(span, result, args, kwargs)`` may attach
        attributes from the call's result."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            epoch = epoch_of(*args, **kwargs) if epoch_of else None
            with tracer.span(name, epoch=epoch, jobs=jobs) as sp:
                result = orig(*args, **kwargs)
                if after is not None:
                    after(sp, result, args, kwargs)
                return result

        self.on_uninstall(lambda: setattr(owner, attr, orig))
        setattr(owner, attr, wrapper)

    def on_uninstall(self, undo: Callable[[], None]) -> None:
        """Register ``undo`` to run (last first) when the block ends."""
        self._undo.append(undo)

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    # ---------- analysis ----------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids = self.children()
        out = {}
        for s in self.spans:
            ivs = sorted(
                (max(c.t0, s.t0), min(c.t1, s.t1)) for c in kids.get(s.id, [])
            )
            covered, end = 0.0, s.t0
            for a, b in ivs:
                a = max(a, end)
                if b > a:
                    covered += b - a
                    end = b
            out[s.id] = s.dur - covered
        return out

    def write(self, fh) -> None:
        """One JSON line per span (``span {...}``), at the end of the run."""
        for sp in self.spans:
            fh.write("span " + json.dumps(sp.__dict__, default=str) + "\n")

    def descendants(self, span_id: int) -> set[int]:
        kids = self.children()
        out, todo = set(), [span_id]
        while todo:
            for c in kids.get(todo.pop(), []):
                out.add(c.id)
                todo.append(c.id)
        return out


# ---------- Spark status REST API ----------


def stage_metrics(spark) -> dict[int, dict[str, float]]:
    """Per span id: job count and summed stage counters of the completed
    stages of the jobs the span's job group launched."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(base + path, timeout=30) as fh:
            return json.load(fh)

    jobs = get("/jobs")
    stages = get("/stages?status=complete")
    stage_group: dict[int, int] = {}
    out: dict[int, dict[str, float]] = {}
    for j in jobs:
        g = j.get("jobGroup") or ""
        if not g.startswith("perfbench-"):
            continue
        sid = int(g.split("-", 1)[1])
        rec = out.setdefault(sid, _zero())
        rec["jobs"] += 1
        for st in j.get("stageIds", []):
            stage_group.setdefault(int(st), sid)
    for s in stages:
        sid = stage_group.get(int(s["stageId"]))
        if sid is None:
            continue
        rec = out[sid]
        rec["stages"] += 1
        rec["input_records"] += s.get("inputRecords", 0)
        rec["input_bytes"] += s.get("inputBytes", 0)
        rec["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
        rec["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
        rec["output_bytes"] += s.get("outputBytes", 0)
    return out


def _zero() -> dict[str, float]:
    return {
        "jobs": 0, "stages": 0, "input_records": 0, "input_bytes": 0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "output_bytes": 0,
    }


def rollup(tracer: Tracer, per_span: dict[int, dict[str, float]],
           roots: list[Span]) -> dict[str, float]:
    """Sum the stage counters of ``roots`` and all their descendants."""
    ids: set[int] = set()
    for r in roots:
        ids.add(r.id)
        ids |= tracer.descendants(r.id)
    tot = _zero()
    for i in ids:
        for k, v in per_span.get(i, {}).items():
            tot[k] += v
    return tot
