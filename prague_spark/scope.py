"""``with ps.scope():`` owns every frame the library persists or eagerly
local-checkpoints inside the block, and frees it at the end. Without one,
a pinning entry point (:func:`generation`) runs in the thread's implicit
generation. A freed local checkpoint cannot be recomputed, so one a
result still reads is kept by the enclosing explicit scope, else by the
session (Spark's ContextCleaner frees it once unreferenced).
"""

from __future__ import annotations

import contextvars
import functools
import threading

from pyspark.sql import DataFrame

_CURRENT: contextvars.ContextVar = contextvars.ContextVar(
    "prague_spark_scope", default=None
)
_THREAD = threading.local()

#: Live pins per semanticHash of the pinned plan. Spark's CacheManager
#: caches BY PLAN and is global to the JVM, so canonically-equal pins
#: (the gate's band rows and minhash_lsh_candidates' over the same
#: inputs) share ONE cache entry across threads and scopes: a pin's
#: free unpersists only when no other live pin holds the plan. A pin
#: whose semanticHash raises is keyed by identity (unshared).
_PIN_COUNTS: dict = {}
_PIN_LOCK = threading.Lock()


def _unpin(df: DataFrame, key) -> None:
    # unpersist inside the lock: a concurrent pin of a plan-equal frame
    # must not register between the count check and the unpersist
    with _PIN_LOCK:
        n = _PIN_COUNTS.pop(key, 0) - 1
        if n > 0:
            _PIN_COUNTS[key] = n
        else:
            df.unpersist(False)


def _free(free) -> None:
    try:
        free()
    except Exception:  # dead JVM context: nothing left to free
        pass


class Scope:
    """Owner of pins and local checkpoints. ``release(df)`` frees one
    now, ``keep(df)`` hands one to the enclosing explicit scope (or the
    session), ``close()`` frees the rest; ``with`` makes the scope
    current for the block and closes it on exit. Safe to share across
    driver threads."""

    def __init__(self, _implicit: bool = False):
        self._implicit = _implicit
        self._parent = self._token = None
        self._lock = threading.Lock()
        self._owned: list = []  # (frame, free) in creation order

    def pin(self, df: DataFrame) -> DataFrame:
        """``df.persist()``, refcounted by plan."""
        try:
            key = ("sh", df.semanticHash())
        except Exception:  # analysis-stage oddity: identity key
            key = ("id", id(df))
        with _PIN_LOCK:
            df = df.persist()
            _PIN_COUNTS[key] = _PIN_COUNTS.get(key, 0) + 1
        self._own(df, lambda: _unpin(df, key))
        return df

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """``df.localCheckpoint(eager=True)``. ``unpersist()`` is a no-op
        on a checkpointed frame, so the scope frees the checkpoint's own
        RDD: the ``LogicalRDD`` its analyzed plan is."""
        out = df.localCheckpoint(eager=True)
        jrdd = out._jdf.queryExecution().analyzed().rdd()
        self._own(out, lambda: jrdd.unpersist(False))
        return out

    def release(self, df: DataFrame) -> None:
        _free(self._take(df))

    def keep(self, df: DataFrame) -> None:
        free = self._take(df)
        if self._parent is not None and not self._parent._implicit:
            self._parent._own(df, free)

    def close(self) -> None:
        with self._lock:
            owned, self._owned = self._owned, []
        for _df, free in reversed(owned):
            _free(free)

    def _own(self, df: DataFrame, free) -> None:
        with self._lock:
            self._owned.append((df, free))

    def _take(self, df: DataFrame):
        with self._lock:
            for i, (d, free) in enumerate(self._owned):
                if d is df:
                    del self._owned[i]
                    return free
        raise ValueError("the frame is not owned by this scope")

    def __enter__(self) -> Scope:
        self._parent = _CURRENT.get()
        self._token = _CURRENT.set(self)
        return self

    def __exit__(self, *exc) -> None:
        _CURRENT.reset(self._token)
        self.close()


scope = Scope


def pin(df: DataFrame) -> DataFrame:
    """Pin ``df`` in the open scope (the caller's, or a generation's)."""
    return _CURRENT.get().pin(df)


def generation(fn):
    """Decorator for a pinning entry point: it joins the open scope, or
    frees the thread's previous implicit generation and opens a new one
    (the current scope is a ``contextvars`` variable, so nested calls
    and ``copy_context()`` thread-pool thunks join it too)."""

    @functools.wraps(fn)
    def call(*args, **kwargs):
        if _CURRENT.get() is not None:
            return fn(*args, **kwargs)
        prev = getattr(_THREAD, "generation", None)
        if prev is not None:
            prev.close()
        _THREAD.generation = Scope(_implicit=True)
        token = _CURRENT.set(_THREAD.generation)
        try:
            return fn(*args, **kwargs)
        finally:
            _CURRENT.reset(token)

    return call
