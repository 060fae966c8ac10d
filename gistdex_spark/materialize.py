"""Lineage cuts with an owner.

Multi-pass operators cut lineage with an eager ``localCheckpoint``,
whose blocks stay in executor storage until unpersisted;
``DataFrame.unpersist()`` does not reach them, since the cache sits on
the checkpointed RDD. A :class:`Materializer` records the RDDs its
checkpoints create and frees them together. A frame built on them must
be consumed before that release: a cut lineage cannot be recomputed,
so a later action fails with a missing-block error.

Operators take the cut as a ``materialize`` callable. The default,
:func:`checkpoint`, goes through the callable of the active
:func:`scope` (the query registry opens one per query invocation).
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

Materialize = Callable[[DataFrame], DataFrame]

_ACTIVE: ContextVar[Materialize | None] = ContextVar("scope", default=None)
# Serializes the before/after diffs, so an RDD persisted by a concurrent
# checkpoint is never claimed by the wrong owner.
_DIFF_LOCK = threading.Lock()


class Materializer:
    """Eager checkpoints whose blocks are released together, by
    :meth:`release` or on leaving a ``with`` block."""

    def __init__(self) -> None:
        self.rdd_ids: list[int] = []
        self._jsc = None

    def __call__(self, frame: DataFrame) -> DataFrame:
        self._jsc = frame.sparkSession.sparkContext._jsc
        with _DIFF_LOCK:
            before = set(self._jsc.getPersistentRDDs().keySet().toArray())
            out = frame.localCheckpoint(eager=True)
            after = set(self._jsc.getPersistentRDDs().keySet().toArray())
        self.rdd_ids += sorted(after - before)
        return out

    def release(self) -> list[int]:
        """Unpersist every RDD this materializer created; return their ids."""
        ids, self.rdd_ids = self.rdd_ids, []
        if ids:
            live = self._jsc.getPersistentRDDs()
            for rid in ids:
                if live.containsKey(rid):
                    live.get(rid).unpersist(False)
        return ids

    def __enter__(self) -> Materializer:
        return self

    def __exit__(self, *exc) -> None:
        self.release()


@contextmanager
def scope(materialize: Materialize) -> Iterator[Materialize]:
    """Route :func:`checkpoint` through ``materialize`` inside the block.
    An identity callable keeps every default cut out of the plan."""
    token = _ACTIVE.set(materialize)
    try:
        yield materialize
    finally:
        _ACTIVE.reset(token)


def active() -> Materialize | None:
    """The callable of the innermost open :func:`scope`, if any."""
    return _ACTIVE.get()


def checkpoint(frame: DataFrame) -> DataFrame:
    """Eager checkpoint of ``frame`` through the active scope; an unowned
    ``localCheckpoint`` when no scope is open."""
    m = _ACTIVE.get()
    return m(frame) if m is not None else frame.localCheckpoint(eager=True)
