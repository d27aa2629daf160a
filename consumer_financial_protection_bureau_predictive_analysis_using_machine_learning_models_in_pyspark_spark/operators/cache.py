"""Cache/checkpoint lifecycle helpers (r14 unpersist-hygiene sweep).

``localCheckpoint()`` materializes a frame into executor storage but —
unlike ``persist()`` — registers NOTHING in the CacheManager, so
``DataFrame.unpersist()`` on the checkpointed frame is a silent no-op
and the storage lives until the driver garbage-collects the RDD (which
a long session may never do promptly).  An operator that rebuilds such
an artifact per invocation therefore accumulates one dead checkpoint
per call (VERDICT r13 "What's wrong" #4, the persist-without-unpersist
class; bounded per run, unbounded across a session's repeated cold
runs).

:func:`release_local_checkpoint` frees a locally-checkpointed frame
deterministically by unpersisting the RDD inside its ``LogicalRDD``
plan leaf.  :func:`swap_local_checkpoint` is the rebuild pattern: keep
at most ONE live checkpoint per slot key — release the previous
invocation's artifact, remember the new one.

:func:`memo` is the build-once pattern: an artifact built once per
(name, key, session) and served from memory on every later call (the
complaints fixture, the prebuilt ANN/MinHash/PQ indexes, the scored frame
of the lift entries); :func:`release` evicts entries and frees their
frames.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Hashable, Iterable

from pyspark.sql import DataFrame, SparkSession

# slot key -> last checkpointed frame (module-level: slots survive across
# invocations within a session, which is the whole point)
_SLOTS: dict[str, DataFrame] = {}


def release_local_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD backing a ``localCheckpoint()``ed DataFrame.

    Safe no-op for frames whose plan is not a ``LogicalRDD`` leaf (e.g.
    a frame that was never checkpointed).  Non-blocking unpersist: the
    blocks drop asynchronously."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith(".LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:  # storage release must never fail a query path
        pass


def swap_local_checkpoint(slot: str, df: DataFrame) -> DataFrame:
    """Register ``df`` (already localCheckpoint'ed) under ``slot``,
    releasing whatever the slot held from a previous invocation.  Keeps
    a session's steady-state storage at one live artifact per slot
    regardless of how many times the artifact is rebuilt.

    Contract: a DataFrame returned by a previous invocation of the same
    slot is unreadable after the swap — its localCheckpoint blocks are
    released, and a local checkpoint has no lineage to recompute them
    from.  Collect what you need before the slot is rebuilt; never hold
    the old frame across a rebuild."""
    prev = _SLOTS.get(slot)
    if prev is not None:
        release_local_checkpoint(prev)
    _SLOTS[slot] = df
    return df


# (name, key) -> (session the entry was built under, value, frames to free)
_MEMO: dict[tuple[str, Hashable], tuple[SparkSession, object, tuple]] = {}
# Serializes every miss and release.  Re-entrant: a build may itself call
# ``memo`` (the lift entries' scored frame is built on the complaints
# fixture) or ``release`` (a build that retires a stale entry first).
_LOCK = threading.RLock()


def memo(
    name: str,
    key: Hashable,
    spark: SparkSession,
    build: Callable[[], tuple[object, Iterable[DataFrame]]],
):
    """The value memoized under ``(name, key)`` for ``spark``, built on a
    miss.  ``build()`` returns ``(value, frames)``: the value to serve and
    the frames (persisted or locally checkpointed) that back it.  An
    entry built under another session is released and rebuilt — its
    blocks died with that session's executors.  The entry is stored only
    once ``build`` returns, so a build that raises leaves no entry.

    A hit takes no lock.  A miss runs under one module lock and looks the
    entry up again once it holds it, so threads that miss together build
    it once."""
    hit = _MEMO.get((name, key))
    if hit is not None and hit[0] is spark:
        return hit[1]
    with _LOCK:
        hit = _MEMO.get((name, key))
        if hit is not None:
            if hit[0] is spark:
                return hit[1]
            release(name, key)
        value, frames = build()
        _MEMO[(name, key)] = (spark, value, tuple(frames))
        return value


def release(name: str | None = None, key: Hashable = None) -> int:
    """Evict the memo entries matching ``name`` and ``key`` (``None``
    matches any) and free every frame of each.  Returns the number
    evicted.  Freeing a frame of a stopped session fails quietly: its
    blocks are already gone."""
    with _LOCK:
        hits = [
            k for k in _MEMO
            if (name is None or k[0] == name) and (key is None or k[1] == key)
        ]
        for k in hits:
            for df in _MEMO.pop(k)[2]:
                try:
                    df.unpersist()  # a no-op on a localCheckpoint()ed frame
                except Exception:
                    pass
                release_local_checkpoint(df)  # a no-op on a persisted one
    return len(hits)
