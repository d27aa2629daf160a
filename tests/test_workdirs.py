"""Pin the two owners of cross-call artifacts.

Every work dir — the ``stream_*`` entries' staging + checkpoint dirs,
the z-order layout, the source round-trips' outputs — comes from one
registry, ``streaming.jobs.workdir``, keyed by (entry name, sf_dir):
built once, memoized only after the build succeeded, dropped by
``reset(name)`` for a cold rerun.  Every prebuilt frame (the ANN /
MinHash / PQ / fuzzy indexes, the lift entries' scored frame) comes from
one session-checked memo, ``operators.cache.memo``, and
``operators.cache.release`` frees it.  The plans package keeps no dict
memo of its own.
"""

from __future__ import annotations

import glob
import importlib
import os
import pkgutil
import tempfile

import pytest

from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark import (  # noqa: E501
    plans,
)
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
    cache as CACHE,
)
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.streaming import (  # noqa: E501
    jobs as SJ,
)

from .conftest import SF_SMOKE


def test_reset_removes_dir_and_entry():
    built = []
    w1 = SJ.workdir("t_wd_reset", "k", built.append)
    assert SJ.workdir("t_wd_reset", "k", built.append) == w1
    assert built == [w1]  # the hit does not rebuild
    other = SJ.workdir("t_wd_keep", "k")
    try:
        assert "t_wd_reset" in SJ.staged_names()
        SJ.reset("t_wd_reset")
        assert not os.path.exists(w1)
        assert "t_wd_reset" not in SJ.staged_names()
        assert os.path.isdir(other)  # other entries are untouched
        SJ.reset("t_wd_reset")  # nothing staged: no-op
        w2 = SJ.workdir("t_wd_reset", "k", built.append)
        assert w2 != w1 and built == [w1, w2]
    finally:
        SJ.reset("t_wd_reset")
        SJ.reset("t_wd_keep")


def test_failed_build_leaves_no_entry_and_no_dir():
    seen = []

    def build(work):
        seen.append(work)
        with open(os.path.join(work, "half_written"), "w") as f:
            f.write("x")
        raise RuntimeError("disk full")

    with pytest.raises(RuntimeError, match="disk full"):
        SJ.workdir("t_wd_fail", "k", build)
    assert not os.path.exists(seen[0])
    assert "t_wd_fail" not in SJ.staged_names()
    # a retry builds from scratch instead of resuming the partial dir
    w = SJ.workdir("t_wd_fail", "k", lambda work: None)
    try:
        assert w != seen[0] and os.listdir(w) == []
    finally:
        SJ.reset("t_wd_fail")


def test_plans_keep_no_dir_memos_but_zorder():
    """No plans module holds a module-level dict memo other than the
    catalog: a work dir comes from the registry, where bench.py's
    per-run reset finds it, and a prebuilt frame from
    ``operators.cache.memo``."""
    allowed = {"CATALOG"}  # the catalog itself (imported into every module)
    found = set()
    for info in pkgutil.iter_modules(plans.__path__):
        mod = importlib.import_module(f"{plans.__name__}.{info.name}")
        for attr in dir(mod):
            if attr.endswith(("_DIRS", "_CACHE", "_STATE")) and isinstance(
                getattr(mod, attr), dict
            ):
                found.add((info.name, attr))
    assert {a for _, a in found} - allowed == set(), found


def _persisted_ids(spark) -> set:
    # set-diff on RDD ids, not a global count: the ContextCleaner
    # unpersists other tests' frames asynchronously, but only ever
    # removes ids, so "new ids since the snapshot" is this test's own
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_memo_failed_build_leaves_no_entry(spark):
    def build_fails():
        raise RuntimeError("fit failed")

    with pytest.raises(RuntimeError, match="fit failed"):
        CACHE.memo("t_memo_fail", "k", spark, build_fails)
    assert CACHE.release("t_memo_fail") == 0
    built = []

    def build():
        built.append(1)
        return "v", []

    # a retry builds; the hit after it serves without building
    assert CACHE.memo("t_memo_fail", "k", spark, build) == "v"
    assert CACHE.memo("t_memo_fail", "k", spark, build) == "v"
    assert built == [1]
    assert CACHE.release("t_memo_fail") == 1


def test_memo_rebuilds_entry_of_foreign_session(spark):
    base = _persisted_ids(spark)
    old = spark.range(50).persist()
    old.count()
    added = _persisted_ids(spark) - base
    assert len(added) == 1

    class _OtherSession:
        pass

    CACHE.memo("t_memo_sess", "k", _OtherSession(), lambda: ("old", [old]))
    try:
        assert CACHE.memo("t_memo_sess", "k", spark, lambda: ("new", [])) == "new"
        assert not (_persisted_ids(spark) & added), "foreign entry not freed"
        assert CACHE.memo("t_memo_sess", "k", spark, lambda: ("again", [])) == "new"
    finally:
        CACHE.release("t_memo_sess")


def test_memo_release_frees_persisted_and_checkpointed_frames(spark):
    base = _persisted_ids(spark)
    persisted = spark.range(100).persist()
    persisted.count()
    checkpointed = spark.range(100).localCheckpoint()
    added = _persisted_ids(spark) - base
    assert len(added) == 2, added

    def build():
        return (persisted, checkpointed), [persisted, checkpointed]

    CACHE.memo("t_memo_free", "a", spark, build)
    CACHE.memo("t_memo_free", "b", spark, lambda: ("other", []))
    assert CACHE.release("t_memo_free", "a") == 1
    assert not (_persisted_ids(spark) & added), "released frames still stored"
    assert CACHE.release("t_memo_free") == 1  # only "b" was left


def test_source_roundtrip_dir_comes_from_registry(spark):
    """complaints_json_clean renders into its registry dir, not a fixed
    path every process shares, and ``reset`` removes that dir."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
        CATALOG,
    )

    shared = os.path.join(tempfile.gettempdir(), "spark_graft_*")
    before = set(glob.glob(shared))
    SJ.reset("complaints_json_clean")
    assert CATALOG["complaints_json_clean"].fn(spark, SF_SMOKE).count() > 0
    assert set(glob.glob(shared)) == before
    work = SJ.workdir("complaints_json_clean", SF_SMOKE)  # the memoized dir
    assert os.listdir(work) == ["json"]
    SJ.reset("complaints_json_clean")
    assert not os.path.exists(work)
