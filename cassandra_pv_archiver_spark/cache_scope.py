"""The one owner of persisted-DataFrame lifetimes.

An operator often ``persist()``s a subtree that feeds two or more
consumers of the plan it returns, but it cannot unpersist it itself:
the caller actions the returned DataFrame later. A bare ``persist()``
would outlive the query, and since Spark's CacheManager dedupes by
analyzed-plan equality, a repeated timing pass would silently read the
first pass's cache while a long-lived driver leaks executor memory.
Every such persist goes through :func:`persist`, and lives for one of
three lifetimes:

* **call** -- inside an open :func:`scope`, the persist belongs to the
  innermost one and is unpersisted when that ``with`` block exits,
  normally or by an exception. A caller that materializes the result
  inside the block (``PairTableView.apply_batch``, a session-view
  build) uses this.
* **invocation** -- outside any scope, the persist goes to the
  invocation log, which :func:`drain` empties. Whoever runs one query
  at a time drains after each: ``bench.run_one`` after the timed
  action, ``tools/check_oracles.py`` after each query.
* **session** -- a :func:`session_view` is built once per
  ``(Spark application, sf_dir, kind)`` by its declared builder and kept
  until :func:`rebuild` (the bench's cold-build rows) or
  :func:`drop_views` releases it.

:func:`persist` never takes over a DataFrame that is already cached
(Spark's cache is keyed by plan, so a plan-equal copy counts): a table
someone else owns must not be unpersisted from under them, and a query
re-run before a drain registers nothing new.
"""

from __future__ import annotations

import contextlib
import functools
import threading
from collections.abc import Callable, Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


class _Scopes(threading.local):
    """Open scopes, innermost last. Per thread: a foreachBatch
    callback's scope must not capture the driver thread's persists."""

    def __init__(self) -> None:
        self.stack: list[list[DataFrame]] = []


_LOG: list[DataFrame] = []
_SCOPES = _Scopes()
_VIEWS: dict[tuple, tuple[DataFrame, ...]] = {}


def _unpersist(dfs) -> None:
    for df in dfs:
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — a dead session has nothing to free
            pass


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it in the innermost open scope, or in
    the invocation log outside any. A DataFrame already cached -- this
    object, or a plan-equal one that someone else persisted -- is
    returned untouched and not registered: its owner releases it."""
    if df.is_cached or df.storageLevel != StorageLevel.NONE:
        return df
    df.persist()
    stack = _SCOPES.stack
    (stack[-1] if stack else _LOG).append(df)
    return df


def release(df: DataFrame) -> None:
    """Unpersist ``df`` now if :func:`persist` registered it; a
    DataFrame it did not register (the caller's own cache) is left
    alone."""
    for owned in (*_SCOPES.stack, _LOG):
        for i, d in enumerate(owned):
            if d is df:
                del owned[i]
                _unpersist([df])
                return


@contextlib.contextmanager
def scope() -> Iterator[None]:
    """Unpersist everything :func:`persist` registers inside the block
    when it exits, whether normally or by an exception."""
    owned: list[DataFrame] = []
    _SCOPES.stack.append(owned)
    try:
        yield
    finally:
        _SCOPES.stack.pop()
        _unpersist(owned)


def drain() -> int:
    """Unpersist the invocation log; returns how many it held."""
    n = len(_LOG)
    _unpersist(_LOG)
    _LOG.clear()
    return n


def session_view(kind: str):
    """Declare ``build(spark, sf_dir)`` as the builder of the session
    view ``kind``. The decorated function returns the view: built on
    first use per (application, sf_dir), every DataFrame the builder
    returns persisted and owned by the view, then the same objects until
    the view is dropped."""

    def declare(build: Callable) -> Callable:
        @functools.wraps(build)
        def view(spark: SparkSession, sf_dir: str):
            key = (spark.sparkContext.applicationId, sf_dir, kind)
            parts = _VIEWS.get(key)
            if parts is None:
                out = build(spark, sf_dir)
                parts = out if isinstance(out, tuple) else (out,)
                for df in parts:
                    if not df.is_cached:
                        df.persist()
                _VIEWS[key] = parts
            return parts if len(parts) > 1 else parts[0]

        view.kind = kind
        return view

    return declare


def _drop(key: tuple) -> None:
    _unpersist(_VIEWS.pop(key, ()))


def rebuild(spark: SparkSession, sf_dir: str, view: Callable):
    """Drop ``view``'s session copy for ``sf_dir`` and build it afresh:
    the bench's cold-build rows."""
    _drop((spark.sparkContext.applicationId, sf_dir, view.kind))
    return view(spark, sf_dir)


def drop_views() -> int:
    """Unpersist every session view; returns how many were held."""
    n = len(_VIEWS)
    for key in list(_VIEWS):
        _drop(key)
    return n
