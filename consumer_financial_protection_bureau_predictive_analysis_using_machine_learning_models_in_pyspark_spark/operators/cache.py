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
of the lift entries, the frequency tables); :func:`release` evicts entries
and frees their frames.  An entry built from files names them
(``inputs``) and is served only while their :func:`fingerprint` is
unchanged: that is the one rebuild-when-files-change memo.
"""

from __future__ import annotations

import os
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


def fingerprint(paths: Iterable[str]) -> tuple:
    """(path, size, ``st_mtime_ns``) of every file under each of ``paths``
    (a file, or a dir walked recursively; a missing path adds nothing).
    ``os.stat`` only: no Spark job."""
    out = []
    for root in paths:
        files = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
        )
        for f in files:
            st = os.stat(f)
            out.append((f, st.st_size, st.st_mtime_ns))
    return tuple(out)


# (name, key) -> (session the entry was built under, value, frames to free,
# fingerprint of the entry's input files)
_MEMO: dict[tuple[str, Hashable], tuple[SparkSession, object, tuple, tuple]] = {}
# Serializes every miss and release.  Re-entrant: a build may itself call
# ``memo`` (the lift entries' scored frame is built on the complaints
# fixture) or ``release``.
_LOCK = threading.RLock()


def memo(
    name: str,
    key: Hashable,
    spark: SparkSession,
    build: Callable[[], tuple[object, Iterable[DataFrame]]],
    inputs: Iterable[str] | None = None,
):
    """The value memoized under ``(name, key)`` for ``spark``, built on a
    miss.  ``build()`` returns ``(value, frames)``: the value to serve and
    the frames (persisted or locally checkpointed) that back it.  The
    entry is stored only once ``build`` returns, so a build that raises
    leaves no entry.

    An entry is served only to the session it was built under and, when
    the call names ``inputs`` (the files the value is built from), only
    while their :func:`fingerprint` is unchanged; a call without
    ``inputs`` serves the stored entry as it is.  Otherwise the entry is
    released *before* the rebuild: a foreign session's blocks died with
    its executors, and Spark's CacheManager matches cached data by plan,
    i.e. by file paths, so a persist over rewritten files would be served
    the old rows — and a release after the new persist would drop the new
    entry too.

    A hit takes no lock.  A miss runs under one module lock and looks the
    entry up again once it holds it, so threads that miss together build
    it once."""
    stamp = None if inputs is None else fingerprint(inputs)

    def serves(hit) -> bool:
        return hit[0] is spark and stamp in (None, hit[3])

    hit = _MEMO.get((name, key))
    if hit is not None and serves(hit):
        return hit[1]
    with _LOCK:
        hit = _MEMO.get((name, key))
        if hit is not None:
            if serves(hit):
                return hit[1]
            release(name, key)
        value, frames = build()
        _MEMO[(name, key)] = (spark, value, tuple(frames), stamp)
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
