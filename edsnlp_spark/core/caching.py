"""One cache-lifetime rule: a persisted plane is leased to a call's owner.

Operators persist derived planes (cue tables, section tables, signature
tables, ...) that the lazy DataFrame they RETURN still reads.  The
lease cannot end inside the operator: unpersisting before the caller
materializes the result makes Spark silently re-execute the plane's
whole subtree on every reference (the lazy-recompute blowup, measured
at 100x on a 500-note qualifier), and materializing eagerly inside the
operator costs an extra pass per plane (8x slower on history's
evidence plane).  So the planes outlive the operator call, and this
module says when they end.

The rule.  Every persist goes through :func:`persist`, which leases the
plane to the owner of the outermost active call (:func:`lease`, or the
:func:`leased` decorator).  The owner is the engine instance for a
method, the function itself for a module function, and the ``SparkNLP``
object for ``pipe``/``__call__``.  Nested calls end nothing; their
planes join the outermost call's lease.  A lease ends when either:

- the same owner's next top-level call begins, or
- ``release(owner)`` is called (``release()`` ends every lease).

Eager entry points end their own lease once their action has consumed
the result: ``SparkNLP.__call__`` after its collect, each streaming
micro-batch after its writes, ``SharedEmbedding.release()``.  A plane
released while a result still reads it stays correct: Spark recomputes
it.  Equal plans share one Spark cache, so ending one lease also drops
an equal plane persisted under another owner.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import threading

from py4j.protocol import Py4JError
from pyspark import StorageLevel
from pyspark.sql import DataFrame

# id(owner) -> (owner, planes leased to it).  Holding the owner keeps
# its id from being reused by another object while the lease lives.
# Streaming micro-batches lease from their own thread, hence the lock.
_LEASES: dict[int, tuple[object, list[DataFrame]]] = {}
_LOCK = threading.Lock()


class _Active(threading.local):
    """Owners of this thread's active calls, outermost first (a
    streaming micro-batch runs on its own thread)."""

    def __init__(self):
        self.owners: list = []


_ACTIVE = _Active()


def persist(df: DataFrame,
            storage_level: StorageLevel | None = None) -> DataFrame:
    """``df.persist()``, leased to the outermost active call's owner.

    ``storage_level``: pass ``StorageLevel.DISK_ONLY`` for corpus-sized
    planes that exist only as a codegen barrier (e.g. the sentences
    array before ``explode``): a memory cache of the whole corpus would
    evict everything else.  A call-local plane may be unpersisted
    before the lease ends; the lease then forgets it."""
    if not _ACTIVE.owners:
        raise RuntimeError(
            "caching.persist outside a leased call: run the caller "
            "under caching.lease(owner) or decorate it with "
            "@caching.leased")
    df = df.persist(storage_level) if storage_level is not None \
        else df.persist()
    owner = _ACTIVE.owners[0]
    with _LOCK:
        planes = _LEASES.setdefault(id(owner), (owner, []))[1]
        planes[:] = [p for p in planes if p.is_cached]
        planes.append(df)
    return df


@contextlib.contextmanager
def lease(owner: object):
    """Run the block as a call by ``owner``.  When no call is active on
    this thread this is a top-level call: it first ends ``owner``'s
    previous lease, and every plane persisted inside it, by any nested
    call, is leased to ``owner``."""
    owners = _ACTIVE.owners
    if not owners:
        _end([id(owner)])
    owners.append(owner)
    try:
        yield
    finally:
        owners.pop()


def leased(fn):
    """Decorator form of :func:`lease`.  The owner is the instance for
    a method (first parameter ``self``) and the decorated function
    itself otherwise, so ``release(module.fn)`` ends its lease."""
    method = next(iter(inspect.signature(fn).parameters), None) == "self"

    @functools.wraps(fn)
    def call(*args, **kwargs):
        with lease(args[0] if method else call):
            return fn(*args, **kwargs)
    return call


def release(owner: object = None) -> int:
    """End ``owner``'s lease, or every lease when no owner is given;
    returns the number of planes unpersisted.  Call it after the result
    has been materialized.  The full release also clears the
    expression-template memo cache, whose py4j handles are tied to the
    session being cleaned up after."""
    if owner is not None:
        return _end([id(owner)])
    from ..functions.memo import memo_clear
    memo_clear()
    with _LOCK:
        keys = list(_LEASES)
    return _end(keys)


def _end(keys) -> int:
    with _LOCK:
        ended = [_LEASES.pop(key, (None, ()))[1] for key in keys]
    n = 0
    for planes in ended:
        for df in planes:
            if not df.is_cached:
                continue
            try:
                df.unpersist()
                n += 1
            except Py4JError:
                pass  # its session has stopped, and its cache with it
    return n


def tracked_scopes() -> dict[str, int]:
    """owner name -> number of planes its lease keeps cached (the name
    is the function's or the owner class's qualified name)."""
    with _LOCK:
        leases = [(owner, list(planes)) for owner, planes in _LEASES.values()]
    out: dict[str, int] = {}
    for owner, planes in leases:
        n = sum(p.is_cached for p in planes)
        if n:
            name = getattr(owner, "__qualname__", type(owner).__qualname__)
            out[name] = out.get(name, 0) + n
    return out
