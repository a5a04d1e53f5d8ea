"""Scoped cache lifecycle for operators that persist intermediate frames.

Spark's CacheManager holds a persisted DataFrame's blocks until an explicit
``unpersist()``/``clearCache()`` — going out of scope in Python frees nothing,
and the ContextCleaner never touches catalog-registered caches. Operators such
as MinHash LSH (shingle + band frames) and split_and_translate (row-id base)
legitimately persist mid-pipeline, but in a long-lived session those blocks
pile up and measurably slow *unrelated* later queries (observed 10-20x on
window/CDC queries at sf0.1 once the LSH caches were resident).

``scoped_persist`` is a drop-in ``df.persist()`` that also records the frame
in a session-global scope; ``release_scoped`` unpersists everything recorded.
The query registry (plans/queries.py::register) releases the *previous*
query's scope at each new query invocation, so sequential protocols — the
driver's correctness loop, bench, driver-sim — get a bounded one-query cache
footprint with no harness cooperation. The currently-returned DataFrame is
never unpersisted before its action runs because release happens only when
the NEXT query is invoked, after the caller has consumed the previous result
(the contract of every sequential runner here).

``session_memo`` is the one memo for driver-side artifacts that are valid
only inside the Spark application that built them: analyzed table plans,
inferred schemas and parsed Column expressions (py4j handles into one JVM
gateway). It stores no data and no results.
"""

from __future__ import annotations

from typing import Callable, TypeVar

from pyspark.sql import DataFrame

_SCOPED: list[DataFrame] = []

T = TypeVar("T")

# (applicationId, *caller key) -> value. Only one SparkContext is active per
# process, so entries under any other application id belong to a stopped
# session: they can never hit again and are dropped on the next miss.
_SESSION_MEMO: dict[tuple, object] = {}
_MISS = object()


def _active_app_id() -> str:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return sc.applicationId if sc is not None else ""


def session_memo(key: tuple, build: Callable[[], T]) -> T:
    """The value memoized under ``key`` for the active Spark application;
    on a miss, evict dead applications' entries, then ``build()`` and store.
    Callers start ``key`` with their own name so keys never collide."""
    app = _active_app_id()
    full = (app, *key)
    hit = _SESSION_MEMO.get(full, _MISS)
    if hit is not _MISS:
        return hit
    for k in [k for k in _SESSION_MEMO if k[0] != app]:
        del _SESSION_MEMO[k]
    value = _SESSION_MEMO[full] = build()
    return value


def scoped_persist(df: DataFrame) -> DataFrame:
    """persist() the frame and record it for the next release_scoped()."""
    df = df.persist()
    _SCOPED.append(df)
    return df


def release_scoped(blocking: bool = False) -> None:
    """Unpersist every frame recorded since the last release.

    Safe to call repeatedly; ignores frames whose session is already gone.
    """
    while _SCOPED:
        df = _SCOPED.pop()
        try:
            df.unpersist(blocking)
        except Exception:
            pass
