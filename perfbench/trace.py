"""Layer spans for the benchmark's traced runs, taken from outside the
program: the package is not instrumented.

A span tags every Spark job its thread starts while it is open with a job
group of its own (``spark.jobGroup.id`` is a per-thread local property,
and Spark hands it on to the broadcast and subquery threads a query
starts). After a build, each span's jobs are listed with
``statusTracker().getJobIdsForGroup`` and their stages' counters are read
from the status store with ``statusStore().lastStageAttempt``. Both work
with ``spark.ui.enabled=false`` and neither starts a job, so a traced
build runs exactly the jobs an untraced one does.

A job belongs to the innermost span open on the thread that started it,
so a span's jobs exclude its children's. Self time is wall time during
which the span is the innermost open span; spans open at once on several
threads (the overlapped catalog writes of ``build_graph``) share that wall
time instead of counting it twice, so the self times of one build add up
to its wall time.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"
COUNTERS = ("self_s", "jobs", "tasks", "executor_run_s", "shuffle_bytes",
            "spill_bytes")


class Span:
    __slots__ = ("name", "tag", "depth", "seq", "t0", "t1")

    def __init__(self, name, tag, depth, seq):
        self.name, self.tag, self.depth, self.seq = name, tag, depth, seq
        self.t0 = time.perf_counter()
        self.t1 = None


class Tracer:
    """Spans are recorded only while a root span (one timed build) is
    open; wrapped functions called outside one run untouched."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._local = threading.local()
        self._seq = itertools.count()
        self._lock = threading.Lock()
        self._root_stack = None
        self.closed = []
        self.captured = {}
        self.peak_storage_bytes = 0

    # -- spans -------------------------------------------------------------
    def _stack(self):
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, root: bool = False):
        stack = self._stack()
        if root:
            self._root_stack = stack
        elif self._root_stack is None:
            yield None
            return
        # a pool thread has an empty stack: its spans hang under the
        # innermost span of the thread that opened the root
        parent_stack = stack or self._root_stack
        depth = len(parent_stack) if not root else 0
        seq = next(self._seq)
        rec = Span(name, f"perfbench-{seq}", depth, seq)
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, rec.tag)
        stack.append(rec)
        self._sample_storage()
        try:
            yield rec
        finally:
            self._sample_storage()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev)
            rec.t1 = time.perf_counter()
            with self._lock:
                self.closed.append(rec)
            if root:
                self._root_stack = None

    def _sample_storage(self) -> None:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        used = sum(i.memSize() + i.diskSize() for i in infos)
        with self._lock:
            self.peak_storage_bytes = max(self.peak_storage_bytes, used)

    # -- wrapping ----------------------------------------------------------
    def wrap(self, owner, attr: str, name=None, capture: str = None) -> None:
        """Replace ``owner.attr`` by a wrapper that opens span ``name``
        (a string, or a function of the call's arguments) and, with
        ``capture``, keeps the last call's arguments and result under
        that key. The wrappers stay for the life of the process."""
        orig = owner.__dict__[attr]
        static = isinstance(orig, staticmethod)
        fn = orig.__func__ if static else orig

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self._root_stack is None:
                return fn(*args, **kwargs)
            label = name(args) if callable(name) else name
            if label is None:
                out = fn(*args, **kwargs)
            else:
                with self.span(label):
                    out = fn(*args, **kwargs)
            if capture:
                self.captured[capture] = (args, kwargs, out)
            return out

        setattr(owner, attr, staticmethod(traced) if static else traced)

    # -- read-out ----------------------------------------------------------
    def take(self) -> list:
        """Closed spans of the builds since the last call."""
        with self._lock:
            out, self.closed = self.closed, []
        return out

    def layer_counters(self, spans: list) -> dict:
        """{span name: {counter: value}} over ``spans`` (one root and
        its descendants)."""
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
        for name, secs in _self_times(spans).items():
            out[name]["self_s"] += secs
        seen = set()
        for s in spans:
            c = out[s.name]
            for jid in st.getJobIdsForGroup(s.tag):
                c["jobs"] += 1
                info = st.getJobInfo(jid)
                for sid in (list(info.stageIds) if info else []):
                    if sid in seen:
                        continue
                    seen.add(sid)
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() != "COMPLETE":
                        continue
                    c["tasks"] += sd.numCompleteTasks()
                    c["executor_run_s"] += sd.executorRunTime() / 1000.0
                    c["shuffle_bytes"] += (sd.shuffleReadBytes()
                                           + sd.shuffleWriteBytes())
                    c["spill_bytes"] += (sd.memoryBytesSpilled()
                                         + sd.diskBytesSpilled())
        return dict(out)


def _self_times(spans: list) -> dict:
    """Wall time per span name during which a span of that name is the
    deepest open span (earliest opened wins a tie)."""
    cuts = sorted({t for s in spans for t in (s.t0, s.t1)})
    out = defaultdict(float)
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        live = [s for s in spans if s.t0 <= mid < s.t1]
        if live:
            top = max(live, key=lambda s: (s.depth, -s.seq))
            out[top.name] += b - a
    return out


def jobs_started(spark) -> int:
    """Id of the next Spark job: the number of jobs the context has
    started. Differences of it count a build's jobs on every thread."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())
