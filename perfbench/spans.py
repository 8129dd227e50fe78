"""In-memory span tracer with per-span Spark job counters.

A span records name, start, end and parent. Spans are kept in memory and
turned into per-layer numbers once, after the measured phase. Spark jobs are
attributed to the innermost span whose interval holds the job's submission
time, not by job group: jobs submitted from driver threads (the concurrent
writes in ``build.run_jobs``, WAND's concurrent collects) do not inherit a
job group, but their submission time still falls inside the calling span.

Counters come from the application status store, which Spark keeps even with
the UI disabled: ``statusStore().jobsList`` for jobs and
``lastStageAttempt(id)`` for tasks, input, shuffle and output per stage.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from dataclasses import dataclass, field

STAGE_COUNTERS = ("tasks", "input_bytes", "input_records",
                  "shuffle_read_bytes", "shuffle_write_bytes", "output_bytes")


@dataclass
class Span:
    name: str
    start: float
    parent: "Span | None"
    end: float = 0.0
    children: list = field(default_factory=list)
    jobs: list = field(default_factory=list)
    #: set on the benchmark's query spans: whether the library wrappers
    #: recorded inside it, and how many hits it returned
    traced: bool = True
    hits: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        """Duration minus the part of it that child spans cover (children
        may overlap when they ran on concurrent threads)."""
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(self.children, key=lambda s: s.start):
            lo, hi = max(c.start, self.start), min(c.end, self.end)
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return self.duration - covered

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


class Tracer:
    """Collects spans. With ``enabled=False`` every span is a no-op; the
    untraced run also installs no wrappers."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        #: library wrappers record only while this is set; toggled per
        #: query so one traced run also times queries without them
        self.wrappers_on = enabled
        self.roots: list[Span] = []
        self._local = threading.local()
        self._main: list[Span] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._main if threading.current_thread() is \
                threading.main_thread() else []
            self._local.stack = st
        return st

    def begin(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        st = self._stack()
        # a span opened on a helper thread hangs under the main thread's
        # current span: that is the call that started the thread
        parent = st[-1] if st else (self._main[-1] if self._main else None)
        sp = Span(name, time.time(), parent)
        with self._lock:
            (parent.children if parent else self.roots).append(sp)
        st.append(sp)
        return sp

    def finish(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.time()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self.begin(name)
        try:
            yield sp
        finally:
            self.finish(sp)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (function, method or property) with a
        version that records a span named ``name`` around each call."""
        orig = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        tracer = self

        def around(fn):
            @functools.wraps(fn)
            def inner(*a, **kw):
                if not tracer.wrappers_on:
                    return fn(*a, **kw)
                sp = tracer.begin(name)
                try:
                    return fn(*a, **kw)
                finally:
                    tracer.finish(sp)
            return inner

        if isinstance(orig, property):
            setattr(owner, attr, property(around(orig.fget)))
        else:
            setattr(owner, attr, around(orig))

    # ---- Spark counters ---------------------------------------------------
    def attach_jobs(self, sc) -> None:
        """Pull every job and its stages from the status store and hang each
        job on the innermost span that was open when it was submitted."""
        store = sc._jsc.sc().statusStore()
        spans = [s for r in self.roots for s in r.walk()]
        it = store.jobsList(None).iterator()
        seen_stages: set[int] = set()
        while it.hasNext():
            j = it.next()
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            t = sub.get().getTime() / 1000.0
            counters = dict.fromkeys(STAGE_COUNTERS, 0)
            sids = j.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its output came from an earlier job
                counters["tasks"] += st.numCompleteTasks()
                counters["input_bytes"] += st.inputBytes()
                counters["input_records"] += st.inputRecords()
                counters["shuffle_read_bytes"] += st.shuffleReadBytes()
                counters["shuffle_write_bytes"] += st.shuffleWriteBytes()
                counters["output_bytes"] += st.outputBytes()
            # innermost = the latest-started span holding t; spans close
            # only after their jobs finish, so end >= submission
            owner = None
            for s in spans:
                if s.start <= t <= s.end and (owner is None
                                              or s.start >= owner.start):
                    owner = s
            if owner is not None:
                owner.jobs.append(counters)


def spans_named(tracer: Tracer, name: str) -> list[Span]:
    return [s for r in tracer.roots for s in r.walk() if s.name == name]


def inclusive(spans: list[Span], key: str) -> int:
    """Sum of a job counter (or the job count, key='jobs') over the spans and
    everything under them; a span nested in another listed span counts once."""
    ids = {id(s) for s in spans}
    total = 0
    for s in spans:
        p = s.parent
        nested = False
        while p is not None:
            if id(p) in ids:
                nested = True
                break
            p = p.parent
        if nested:
            continue
        for d in s.walk():
            total += len(d.jobs) if key == "jobs" else \
                sum(j[key] for j in d.jobs)
    return total
