"""Lifetime of the storage operators pin for their own plans.

An operator whose result plan reads one intermediate several times pins
it: a persisted DataFrame, a SparkContext broadcast, or an eagerly
``localCheckpoint``-ed DataFrame. It passes the handle through
:func:`hold`; the caller decides the lifetime by consuming the result
inside :func:`scope`::

    with scope():
        rows = connected_components(pairs).select("id").collect()

On exit the scope releases every handle held inside it, newest first,
also when the block raises. Outside any scope :func:`hold` does nothing
and the pins live as long as the session. The active scope is a
contextvar, so a thread started inside the block does not see it.

Contract: consume inside the scope. A persisted frame read after the
scope exits silently recomputes from its lineage; a checkpointed one
has no lineage left and fails.
"""

from __future__ import annotations

import contextlib
import contextvars
import typing

from pyspark.broadcast import Broadcast

_HELD: contextvars.ContextVar[typing.Optional[list]] = contextvars.ContextVar(
    "pandasschema_spark_held", default=None)

T = typing.TypeVar("T")


@contextlib.contextmanager
def scope() -> typing.Iterator[None]:
    """Release everything :func:`hold` registers inside the block on exit.
    Scopes nest; each releases only what was held while it was the
    innermost."""
    held: list = []
    token = _HELD.set(held)
    try:
        yield
    finally:
        _HELD.reset(token)
        for x in reversed(held):
            _release(x)


def hold(x: T) -> T:
    """Register ``x`` with the innermost active scope and return it."""
    held = _HELD.get()
    if held is not None:
        held.append(x)
    return x


def _release(x) -> None:
    if isinstance(x, Broadcast):
        x.destroy()
    elif x.is_cached:
        x.unpersist()
    else:
        # a localCheckpoint is a LogicalRDD over an RDD persisted by
        # Spark itself: DataFrame.unpersist() does not see it
        plan = x._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
