"""Pin the streaming work-dir registry (streaming.jobs.workdir / reset).

Every ``stream_*`` entry gets its staging + checkpoint dir from one
registry keyed by (entry name, sf_dir): built once, memoized only after
the build succeeded, dropped by ``reset(name)`` for a cold rerun.  The
plans package keeps no dir memos of its own — only the offline z-order
layout and the deliberately-warm prebuilt indexes live outside it.
"""

from __future__ import annotations

import importlib
import os
import pkgutil

import pytest

from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark import (  # noqa: E501
    plans,
)
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.streaming import (  # noqa: E501
    jobs as SJ,
)


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
    offline z-order layout and the warm-by-design caches below: a new
    streaming entry must take its work dir from the registry, where
    bench.py's per-run reset finds it."""
    allowed = {
        "_ZORDER_DIRS",  # offline layout artifact: warm is the lifecycle
        # prebuilt serving indexes/artifacts: warm-by-design, primed in
        # bench._prime_session so run 1 matches every later run
        "_PQ_CACHE",
        "_IVF_CACHE",
        "_MINHASH_IDX_CACHE",
        "_FUZZY_IDX_CACHE",
        "_REBUILD_IDX_CACHE",
        "_LR_SCORED_CACHE",  # session-scoped scored frame (ML eval dim)
        "CATALOG",  # the catalog itself (imported into every module)
    }
    found = set()
    for info in pkgutil.iter_modules(plans.__path__):
        mod = importlib.import_module(f"{plans.__name__}.{info.name}")
        for attr in dir(mod):
            if attr.endswith(("_DIRS", "_CACHE", "_STATE")) and isinstance(
                getattr(mod, attr), dict
            ):
                found.add((info.name, attr))
    assert {a for _, a in found} - allowed == set(), found
