"""One owner for the lifetime of the frames the library persists.

``share(df)`` persists ``df`` and registers it with this thread's
innermost open ``scope()`` (a ``contextvars`` stack: scopes nest, and no
thread, foreachBatch callbacks included, registers with another's). The
scope unpersists what was shared in it on exit, exceptions included.
Outside any scope the frame is the caller's, like a bare ``persist()``.
This module is the package's one ``persist`` site.

A caller wraps ``with scope():`` around "build the plan, then
materialize it"; a function that consumes its frames eagerly opens its
own. A lazy plan that outlives its scope recomputes what the scope
released. That costs time but gives the same rows, except where a
recompute could give different rows: a numbering (a range partitioning
samples anew, so it may not be contiguous) or a sample. A function that
returns a lazy plan over such a shared frame is ``@result_scope``: its
frames live as long as the frame it returns. Any other lazy plan leaves
its frames to the caller's scope.

Checkpoints are not persists: the JVM's ContextCleaner frees
``localCheckpoint`` blocks once nothing references their RDD.

A persist pays only when branches specialize their copies of a shared
subtree (different filters, projections or partitionings of it); AQE
already reuses IDENTICAL subtrees, where a persist only adds a fill job.
``big=True`` (``DISK_ONLY``) is for data-proportional frames (indexes,
signatures, pair corpora, merge stages): default-level blocks sit in the
heap deserialized, are re-promoted there after a spill, and starve the
joins and sorts that read them. Bounded frames keep the default level.

``one_partition`` finds, with no job, a frame whose ``coalesce(1)``
reports ``SinglePartition``: an aggregate or sort over it plans no shuffle.
"""

from __future__ import annotations

import functools
import threading
import weakref
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# the innermost open scope: (its thread, the frames shared in it)
_OPEN: ContextVar[tuple[int, list[DataFrame]] | None] = ContextVar("aircan_scope", default=None)


def _release(held: list[DataFrame]) -> None:
    for df in held:
        df.unpersist(blocking=False)


@contextmanager
def scope() -> Iterator[None]:
    """Unpersist, on exit, every frame ``share``d inside this block (and
    not inside a nested scope)."""
    held: list[DataFrame] = []
    token = _OPEN.set((threading.get_ident(), held))
    try:
        yield
    finally:
        _OPEN.reset(token)
        _release(held)


def result_scope(build: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    """Release the frames ``build`` shares when the frame it returns is
    garbage-collected (in CPython, once the caller drops it), or at once
    if it raises. Run or derive from the result only while holding it."""

    @functools.wraps(build)
    def run(*args, **kwargs) -> DataFrame:
        held: list[DataFrame] = []
        token = _OPEN.set((threading.get_ident(), held))
        try:
            out = build(*args, **kwargs)
        except BaseException:
            _release(held)
            raise
        finally:
            _OPEN.reset(token)
        weakref.finalize(out, _release, held).atexit = False
        return out

    return run


def one_partition(df: DataFrame) -> bool:
    """Whether ``df`` is one partition, asked only of a plan without an
    exchange or subquery (AQE would run their stages to answer): its
    partitions are then planned on the driver, with no job."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan" or "Exchange" in plan.toString():
        return False
    return qe.toRdd().getNumPartitions() == 1


def share(df: DataFrame, big: bool = False) -> DataFrame:
    """Persist ``df`` (``DISK_ONLY`` when ``big``) and register it with
    this thread's innermost open scope."""
    out = df.persist(StorageLevel.DISK_ONLY) if big else df.persist()
    innermost = _OPEN.get()
    if innermost is not None and innermost[0] == threading.get_ident():
        innermost[1].append(out)
    return out
