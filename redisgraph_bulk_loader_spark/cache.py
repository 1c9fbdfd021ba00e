"""Persist-lifecycle registry: every ``.persist()`` in this package
goes through ``pin`` so cached frames are released instead of
accumulating until executor-memory eviction churn (VERDICT r3 #3 — a
long-lived session running the dedup family repeatedly must not grow
storage memory without bound).

Two lifetimes:

- **Scoped**: an operator that eagerly materializes its result (eager
  ``localCheckpoint`` / catalog write) opens a ``PinScope``; pins made
  while the scope is active (including pins made by callees) are
  unpersisted by ``scope.release()`` — safe because the checkpointed /
  written result no longer references the cached plans.
- **Session**: pins made with no active scope land in a global
  registry. Returned lazy frames may still reference them, so they stay
  cached until the caller invokes ``release_pins()`` (the documented
  session contract: call it between jobs in a long-lived session, or
  let session teardown reclaim them).

``PinScope.adopt()`` moves a scope's pins to the session registry for
the cases where the function returns lazy frames that still reference
them (e.g. ``build_graph`` without a catalog).

Thread model (ADVICE r4): the scope stack is ``threading.local`` — a
scope only captures pins made on its own thread, so concurrent driver
threads (streaming foreachBatch beside a batch job) cannot release each
other's caches. The session registry stays process-global under a lock;
``release_pins()`` remains a whole-driver operation.
"""

from __future__ import annotations

import threading
from typing import List

from pyspark.sql import DataFrame

# The session registry is deliberately global (release_pins() is the
# whole-driver contract) but lock-guarded; the scope stack is
# thread-local so a streaming foreachBatch running beside a batch job
# (a normal Spark driver pattern) cannot have thread B's pin captured
# by thread A's active PinScope and unpersisted under B's feet.
_SESSION_PINS: List[DataFrame] = []
_SESSION_LOCK = threading.Lock()
_TL = threading.local()


def _scope_stack() -> List["PinScope"]:
    stack = getattr(_TL, "stack", None)
    if stack is None:
        stack = _TL.stack = []
    return stack


class PinScope:
    """Collects pins for deterministic release. Use as::

        scope = PinScope()
        with scope:
            pairs = expensive_op(...)      # pins internally via pin()
            pairs = pairs.localCheckpoint(eager=True)
        # scope exit == scope.release(): pinned frames unpersisted
    """

    def __init__(self):
        self.frames: List[DataFrame] = []
        self._released = False

    def __enter__(self) -> "PinScope":
        _scope_stack().append(self)
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        stack = _scope_stack()
        if stack and stack[-1] is self:
            stack.pop()
        # release on BOTH success and exception paths (unless the scope
        # was explicitly released/adopted): a failed job must not leave
        # its pins cached with no registry reference — that would be
        # exactly the unbounded accumulation the registry prevents
        if not self._released:
            self.release()

    def release(self) -> None:
        """Unpersist every frame pinned in this scope."""
        self._released = True
        while self.frames:
            df = self.frames.pop()
            try:
                df.unpersist()
            except Exception:
                pass

    def adopt(self) -> None:
        """Move this scope's pins to the session registry (the returned
        lazy frames still reference them; ``release_pins()`` reclaims)."""
        self._released = True
        with _SESSION_LOCK:
            _SESSION_PINS.extend(self.frames)
        self.frames.clear()


def pin(df: DataFrame, storage_level=None) -> DataFrame:
    """``persist()`` + register with the innermost active PinScope, or
    the session registry when no scope is active."""
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    stack = _scope_stack()
    if stack:
        stack[-1].frames.append(df)
    else:
        with _SESSION_LOCK:
            _SESSION_PINS.append(df)
    return df


def release_pins() -> int:
    """Unpersist every session-registered pin; returns how many were
    released. The session contract for long-lived callers."""
    with _SESSION_LOCK:
        drained, n = list(_SESSION_PINS), len(_SESSION_PINS)
        _SESSION_PINS.clear()
    for df in drained:
        try:
            df.unpersist()
        except Exception:
            pass
    return n


def pinned_count() -> int:
    """Pins currently registered (session + open scopes) — test hook."""
    return len(_SESSION_PINS) + sum(len(s.frames) for s in _scope_stack())
