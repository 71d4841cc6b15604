"""Span tracing from the benchmark's own files.

The traced run wraps public functions of the package (module attributes
and StateStore methods) for its lifetime, records one span per call
(name, start, end, parent, epoch) in memory, and restores the originals
when it ends. Nothing is written until the run is over.

A span's parent is the innermost open span on the same thread. A span of a
function that sync_batch runs on its own thread pool (``in_batch``, e.g.
the affected-bucket job) takes the open ``cdc.sync_batch`` span as its
parent; reads on the benchmark's reader threads do not.
"""

from __future__ import annotations

import ast
import functools
import json
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    epoch: int | None
    tag: object = None  # what the wrapper's ``before`` hook returned

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: tuple[int, int | None] | None = None  # open sync_batch span
        self._next = 0
        self._restore: list[tuple[object, str, object]] = []
        # seconds spent in the tracer's own bookkeeping and hooks: the
        # measured tracing overhead
        self.overhead_s = 0.0

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn, *args, epoch=None, before=None, after=None,
             in_batch=False, **kwargs):
        """Run ``fn`` inside a span. ``before()`` runs first and its value
        is kept on the span; ``after(args, kwargs, result, span)`` runs
        last. Both count as tracing overhead."""
        t_in = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
            if stack:
                parent, ep = stack[-1]
            elif in_batch and self._root is not None:
                parent, ep = self._root
            else:
                parent, ep = None, None
        ep = epoch if epoch is not None else ep
        is_root = name == "cdc.sync_batch"
        stack.append((sid, ep))
        if is_root:
            self._root = (sid, ep)
        tag = before() if before is not None else None
        result = None
        start = time.perf_counter()
        self.overhead_s += start - t_in
        try:
            result = fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            stack.pop()
            if is_root:
                self._root = None
            span = Span(sid, name, start, end, parent, ep, tag)
            with self._lock:
                self.spans.append(span)
            if after is not None:
                after(args, kwargs, result, span)
            self.overhead_s += time.perf_counter() - end
        return result

    def wrap(self, owner, attr: str, name: str, epoch_kw: str | None = None,
             before=None, after=None, in_batch=False) -> None:
        """Replace ``owner.attr`` with a traced version until ``unwrap``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            ep = kwargs.get(epoch_kw) if epoch_kw else None
            return tracer.call(name, orig, *args, epoch=ep, before=before, after=after,
                               in_batch=in_batch, **kwargs)

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def durations_ms(self, name: str) -> list[float]:
        return [s.ms for s in self.spans if s.name == name]

    def self_ms(self, name: str, keep=lambda s: True) -> list[float]:
        """Per span of ``name`` (for which ``keep`` holds): its duration
        minus the part of its interval covered by its child spans
        (children may overlap each other)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = []
        for s in self.spans:
            if s.name != name or not keep(s):
                continue
            covered, reach = 0.0, s.start
            for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
                lo, hi = max(c.start, reach), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                reach = max(reach, hi)
            out.append((s.end - s.start - covered) * 1000.0)
        return out

    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total and self time in ms."""
        out: dict[str, dict[str, float]] = {}
        for name in sorted({s.name for s in self.spans}):
            ms = self.durations_ms(name)
            out[name] = {"n": len(ms), "total_ms": round(sum(ms), 3),
                         "self_ms": round(sum(self.self_ms(name)), 3)}
        return out


def p50(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return float(s[max(0, math.ceil(q / 100.0 * len(s)) - 1)])


def parse_offsets(off) -> dict[str, int]:
    """A kafka_shaped source offset as ``{partition: offset}``. Progress
    events carry it as a Python-repr string of the source's dict."""
    if isinstance(off, str):
        off = ast.literal_eval(off)
    return {str(k): int(v) for k, v in (off or {}).items()}


def read_progress(progress_dir: str) -> list[dict]:
    """Progress events written by streaming.metrics.attach_progress_logger,
    one per micro-batch, with each source's ``endOffset`` parsed."""
    out = []
    if not os.path.isdir(progress_dir):
        return out
    for fn in sorted(os.listdir(progress_dir)):
        if not fn.startswith("progress-"):
            continue
        with open(os.path.join(progress_dir, fn), encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                for src in ev.get("sources", []):
                    src["endOffset"] = parse_offsets(src.get("endOffset"))
                out.append(ev)
    return out


def jvm_gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(max(b.getCollectionTime(), 0) for b in beans))


def jobs_started(spark) -> int:
    """Spark jobs submitted so far in this context (the scheduler's next
    job id)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())
