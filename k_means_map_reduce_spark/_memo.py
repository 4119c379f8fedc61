"""Per-session memoization of the artifacts several queries share.

Many operators derive a table from one scale-factor directory that more than
one query (or both sides of a self-join) reads: basket tables, graph edge
lists, ANN indexes, BM25 per-doc stats. Like a MapReduce job's partition
files, each is built once and read by every consumer. All of them go through
one fetch-or-build path, with two entry points:

- ``@memoized("module.artifact")`` on a whole-function builder
  ``f(spark, sf_dir, *params)``;
- ``memo_persist("module.artifact", spark, sf_dir, build)`` for a frame built
  inline and persisted on its first build.

Both address a ``SessionMemo`` by name and create it on first use, so every
artifact kind has its own memo and holds one entry per ``(sf_dir, *params)``.
The key is ``(applicationId, abspath(sf_dir), *params)``:

- ``applicationId`` is stable and never reused within a cluster; keying by
  ``id(spark)`` could alias a new session to a stopped one whose object was
  garbage-collected (CPython reuses addresses) and hand back DataFrames bound
  to a dead context;
- ``abspath`` lets a relative and an absolute spelling of one directory share
  one entry.

On a miss the builder runs and its result is stored through
``SessionMemo.put``; a builder that raises stores nothing, and one that
returns ``None`` is not remembered. The builder picks the storage
(``persist()``, ``localCheckpoint``, or a plain Python value); the memo only
remembers the result. Entries are LRU-evicted beyond ``maxsize``, and eviction
unpersists every DataFrame found in the evicted value (walking tuples and
lists), so a long-lived session visiting many sf_dirs does not accumulate
pinned executor storage. ``clear_all_memos()`` is the explicit release hook.
"""

from __future__ import annotations

import functools
import inspect
import os
from collections import OrderedDict
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

_ALL_MEMOS: list["SessionMemo"] = []
_NAMED: dict[str, "SessionMemo"] = {}


def _unpersist_value(value: Any) -> None:
    if isinstance(value, (tuple, list)):
        for v in value:
            _unpersist_value(v)
        return
    unpersist = getattr(value, "unpersist", None)
    if callable(unpersist):
        try:
            unpersist()
        except Exception:
            pass  # session already stopped — nothing left to release


class SessionMemo:
    """LRU dict keyed by (applicationId, *parts); unpersists on eviction."""

    def __init__(self, name: str, maxsize: int = 4) -> None:
        self.name = name
        self.maxsize = maxsize
        self._entries: OrderedDict[tuple, Any] = OrderedDict()
        _ALL_MEMOS.append(self)

    @staticmethod
    def _key(spark: SparkSession, parts: tuple) -> tuple:
        return (spark.sparkContext.applicationId, *parts)

    def get(self, spark: SparkSession, *parts: Any) -> Any | None:
        key = self._key(spark, parts)
        if key in self._entries:
            self._entries.move_to_end(key)
            return self._entries[key]
        return None

    def put(self, spark: SparkSession, *parts_and_value: Any) -> Any:
        *parts, value = parts_and_value
        key = self._key(spark, tuple(parts))
        self._entries[key] = value
        self._entries.move_to_end(key)
        while len(self._entries) > self.maxsize:
            _, evicted = self._entries.popitem(last=False)
            _unpersist_value(evicted)
        return value

    def clear(self) -> None:
        while self._entries:
            _, evicted = self._entries.popitem(last=False)
            _unpersist_value(evicted)

    def __len__(self) -> int:
        return len(self._entries)


def clear_all_memos() -> None:
    """Release every memoized persisted artifact (all operator modules)."""
    for memo in _ALL_MEMOS:
        memo.clear()


def named_memo(name: str) -> SessionMemo:
    """The memo for artifact kind ``name``, created on first use."""
    memo = _NAMED.get(name)
    if memo is None:
        memo = _NAMED[name] = SessionMemo(name)
    return memo


def _fetch_or_build(
    name: str, spark: SparkSession, sf_dir: str, params: tuple, build: Callable[[], Any]
) -> Any:
    memo = named_memo(name)
    parts = (os.path.abspath(sf_dir), *params)
    hit = memo.get(spark, *parts)
    if hit is not None:
        return hit
    return memo.put(spark, *parts, build())


def memoized(name: str):
    """Memoize a builder ``f(spark, sf_dir, *params)`` under ``name``.

    The params are bound to the signature with defaults applied, so
    ``f(spark, d, k=4)`` and ``f(spark, d, 4)`` share one entry.
    """

    def decorate(fn):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def fetch(spark: SparkSession, sf_dir: str, *args: Any, **kwargs: Any) -> Any:
            bound = sig.bind(spark, sf_dir, *args, **kwargs)
            bound.apply_defaults()
            params = (*bound.args[2:], *bound.kwargs.items())
            return _fetch_or_build(
                name, spark, sf_dir, params, lambda: fn(*bound.args, **bound.kwargs)
            )

        return fetch

    return decorate


def memo_persist(
    name: str, spark: SparkSession, sf_dir: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Fetch-or-build a persisted frame that several plan branches consume.

    Such a frame must be persisted, or every consumer re-runs its subtree,
    and the persist must be memoized, or every warm invocation pins a fresh
    block.
    """
    return _fetch_or_build(name, spark, sf_dir, (), lambda: build().persist())
