"""Pin the two owners of cross-call artifacts.

Every work dir — the ``stream_*`` entries' staging + checkpoint dirs,
the z-order layout, the source round-trips' outputs — comes from one
registry, ``streaming.jobs.workdir``, keyed by (entry name, sf_dir):
built once, memoized only after the build succeeded, dropped by
``reset(name)`` for a cold rerun.  Every prebuilt frame (the ANN /
MinHash / PQ / fuzzy indexes, the lift entries' scored frame, the
persisted complaints fixture) comes from one session-checked memo,
``operators.cache.memo``, and ``operators.cache.release`` frees it.  The
plans package keeps no dict memo of its own.
"""

from __future__ import annotations

import glob
import importlib
import os
import pkgutil
import tempfile
import threading
import time
import uuid

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
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.sources import (  # noqa: E501
    fixtures,
    readers,
)
from perfbench import datagen

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


_FIXTURE_ORDERS = 400


@pytest.fixture
def fixture_dir(tmp_path):
    """A fresh dir of the fixture's four tables; its memo entry is
    released afterwards, so no test leaves a persisted frame behind."""
    datagen.write_tables(datagen.make_tables(1, _FIXTURE_ORDERS), str(tmp_path))
    yield str(tmp_path)
    CACHE.release(f"complaints {os.path.realpath(tmp_path)}")


def _jobs_of(spark, action) -> int:
    sc = spark.sparkContext
    group = f"fixture-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of one action")
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_fixture_repeat_call_reads_no_table_and_runs_fewer_jobs(
    spark, fixture_dir, monkeypatch
):
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
        CATALOG,
    )

    loads = []
    real_load = readers.load_table
    monkeypatch.setattr(
        readers, "load_table", lambda *a: loads.append(a[2]) or real_load(*a)
    )
    first = fixtures.complaints(spark, fixture_dir)
    assert sorted(loads) == ["customer", "documents", "nation", "orders"]
    loads.clear()
    assert fixtures.complaints(spark, fixture_dir) is first
    assert loads == []  # served from the memo: no table is read again

    report = CATALOG["complaints_class_distribution"].fn
    rows = []
    cold = _jobs_of(spark, lambda: rows.append(report(spark, fixture_dir).collect()))
    warm = _jobs_of(spark, lambda: rows.append(report(spark, fixture_dir).collect()))
    assert rows[0] == rows[1]
    # the first collect fills the cache (dim broadcasts, the documents
    # count); the second reads the cached rows
    assert warm < cold, (cold, warm)
    assert loads == []


def _orders_dates(table) -> list[tuple[str, str]]:
    keys = table.column("o_orderkey").to_pylist()
    days = table.column("o_orderdate").to_pylist()
    return sorted((str(k), d.date().isoformat()) for k, d in zip(keys, days))


def _persisted_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_fixture_rebuilds_when_its_files_change(spark, fixture_dir):
    """Files rewritten at the same path are served, not the cached rows of
    the old ones, and the old entry's storage is freed first."""
    old = fixtures.complaints(spark, fixture_dir)
    old.collect()  # fills the cache
    n_persisted = _persisted_count(spark)

    orders = datagen.make_tables(2, _FIXTURE_ORDERS)["orders"]
    datagen.write_tables({"orders": orders}, fixture_dir)
    new = fixtures.complaints(spark, fixture_dir)
    assert new is not old
    got = sorted(
        (r.complaint_id, r.date_received)
        for r in new.select("complaint_id", "date_received").collect()
    )
    assert got == _orders_dates(orders)
    assert new.storageLevel.useMemory  # the new entry is the cached one
    assert _persisted_count(spark) <= n_persisted
    assert fixtures.complaints(spark, fixture_dir) is new


def test_fixture_cold_callers_build_once(spark, fixture_dir, monkeypatch):
    builds = []
    real_run_sql = readers.run_sql

    def slow_run_sql(*a):
        builds.append(a[1])
        time.sleep(0.2)  # hold the build open while the other caller arrives
        return real_run_sql(*a)

    monkeypatch.setattr(readers, "run_sql", slow_run_sql)
    start = threading.Barrier(2)
    got = [None, None]

    def call(i):
        start.wait()
        got[i] = fixtures.complaints(spark, fixture_dir)

    threads = [threading.Thread(target=call, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert builds == [fixture_dir]
    assert got[0] is got[1] is not None


def test_fixture_foreign_session_gets_rebuilt_entry(spark, fixture_dir):
    ours = fixtures.complaints(spark, fixture_dir)
    n = ours.count()
    other = spark.newSession()
    theirs = fixtures.complaints(other, fixture_dir)
    assert theirs is not ours and theirs.sparkSession is other
    assert theirs.count() == n
    assert fixtures.complaints(other, fixture_dir) is theirs
    back = fixtures.complaints(spark, fixture_dir)
    assert back is not ours and back.sparkSession is spark
    assert back.count() == n


def test_lr_scored_rebuilds_when_its_files_change(spark, fixture_dir):
    """The scored frame behind the lift, calibration and sweep entries
    follows its input files like the fixture does: rewritten tables
    rebuild it, and the old frame is freed first."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.ml_queries import (  # noqa: E501
        _lr_scored,
    )

    try:
        old = _lr_scored(spark, fixture_dir)
        n_old = old.count()
        orders = datagen.make_tables(2, 4 * _FIXTURE_ORDERS)["orders"]
        datagen.write_tables({"orders": orders}, fixture_dir)
        new = _lr_scored(spark, fixture_dir)
        assert new is not old
        assert new.count() > 2 * n_old  # the test split of 4x the orders
        assert not old.storageLevel.useMemory  # the old entry was released
        assert new.storageLevel.useMemory
        assert _lr_scored(spark, fixture_dir) is new
    finally:
        CACHE.release(f"lr_scored {os.path.realpath(fixture_dir)}")
