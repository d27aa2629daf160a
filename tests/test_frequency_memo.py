"""Pin the memos that follow their input files.

``operators.encode.frequency_encode`` computes each frequency table once
per (key, analyzed plan, input files) and serves it from
``operators.cache.memo`` as a driver-local relation: a repeat call runs no
Spark job, a rewritten input file yields a new table, and a plan the memo
cannot key (non-deterministic) or a different plan never gets another
plan's table.  The prebuilt off-paper indexes follow their files the same
way, and a cross-call table lives nowhere but in that memo.
"""

from __future__ import annotations

import ast
import importlib
import os
import pkgutil
import uuid

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark import (  # noqa: E501
    ml,
    operators,
    plans,
    sources,
)
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
    cache as CACHE,
    cleaning,
    encode,
    sampling,
)
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.sources import (  # noqa: E501
    fixtures,
    readers,
)
from perfbench import datagen

_ORDERS = 400


@pytest.fixture
def table_dir(tmp_path):
    """A fresh dir of the fixture's four tables; the entries of every memo
    that keys on it are released afterwards."""
    datagen.write_tables(datagen.make_tables(1, _ORDERS), str(tmp_path))
    yield str(tmp_path)
    CACHE.release(f"complaints {os.path.realpath(tmp_path)}")
    CACHE.release("fuzzy_bench_index_for", str(tmp_path))


def _jobs_of(spark, action) -> tuple[int, object]:
    sc = spark.sparkContext
    group = f"freq-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of one call")
    try:
        out = action()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _lazy_encode(df: DataFrame, key: str) -> DataFrame:
    """The per-query form: the aggregate joined back in the same plan."""
    freq = df.groupBy(key).agg(F.count(F.lit(1)).alias(f"frequency_{key}"))
    return df.join(F.broadcast(freq), on=key, how="left")


def _rows(df: DataFrame) -> list:
    return sorted(map(tuple, df.collect()), key=repr)


def _hinted_leaf(df: DataFrame) -> str:
    """The node name under the broadcast hint of ``df``'s analyzed plan."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "ResolvedHint":
            child = node.children().apply(0)
            while child.children().size() == 1 and child.nodeName() in ("Project", "SubqueryAlias"):
                child = child.children().apply(0)
            return child.nodeName()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    raise AssertionError("no broadcast hint in the plan")


def test_repeat_encode_runs_no_job_and_serves_same_rows(spark, table_dir):
    fixture = fixtures.complaints(spark, table_dir)
    fixture.count()  # fills the fixture's cache
    df = cleaning.clean_complaints(fixture)
    cold_jobs, first = _jobs_of(spark, lambda: encode.frequency_encode(df, "company"))
    assert 1 <= cold_jobs <= 2, cold_jobs  # the eager aggregate on a miss
    warm_jobs, again = _jobs_of(spark, lambda: encode.frequency_encode(df, "company"))
    assert warm_jobs == 0
    assert _hinted_leaf(again) == "LocalRelation"
    assert again.columns == first.columns == _lazy_encode(df, "company").columns
    assert again.schema == _lazy_encode(df, "company").schema
    assert _rows(again) == _rows(first) == _rows(_lazy_encode(df, "company"))


def test_rewritten_input_yields_new_table(spark, table_dir):
    """A file rewritten at the same path keeps the plan (and its hash) but
    changes the fingerprint: the old table is dropped, not served."""

    def encoded():
        customers = readers.load_table(spark, table_dir, "customer")
        return encode.frequency_encode(customers, "c_mktsegment")

    old = _rows(encoded())
    assert _rows(encoded()) == old  # served from the memo
    customer = datagen.make_tables(2, 3 * _ORDERS)["customer"]
    datagen.write_tables({"customer": customer}, table_dir)
    new = encoded()
    expect = _rows(_lazy_encode(readers.load_table(spark, table_dir, "customer"), "c_mktsegment"))
    assert _rows(new) == expect != old
    assert len(expect) == customer.num_rows


def test_nondeterministic_frame_is_never_memoized(spark, table_dir):
    noisy = readers.load_table(spark, table_dir, "customer").withColumn(
        "bucket", (F.rand() * 3).cast("int")
    )
    for _ in range(2):
        n_jobs, out = _jobs_of(spark, lambda: encode.frequency_encode(noisy, "bucket"))
        assert n_jobs == 0  # lazy: nothing collected
        assert _hinted_leaf(out) == "Aggregate"  # the per-query table


def test_different_plans_never_share_a_table(spark, table_dir, monkeypatch):
    customers = readers.load_table(spark, table_dir, "customer")
    small = customers.filter(F.col("c_custkey") % 2 == 0)
    assert _rows(encode.frequency_encode(customers, "c_mktsegment")) == _rows(
        _lazy_encode(customers, "c_mktsegment")
    )
    assert _rows(encode.frequency_encode(small, "c_mktsegment")) == _rows(
        _lazy_encode(small, "c_mktsegment")
    )
    # a 32-bit hash collision: the stored plan is checked on every hit
    monkeypatch.setattr(type(customers), "semanticHash", lambda self: 7)
    encode.frequency_encode(customers, "c_mktsegment")
    collided = encode.frequency_encode(small, "c_mktsegment")
    assert _rows(collided) == _rows(_lazy_encode(small, "c_mktsegment"))
    CACHE.release("frequency_encode c_mktsegment 7")


def test_dt_test_split_count_runs_at_most_four_jobs(spark, table_dir):
    """The 8-class task's split: both frequency tables are local, so the
    union branches of the rebalance no longer re-aggregate them."""
    base = encode.date_parts(
        cleaning.clean_complaints(fixtures.complaints(spark, table_dir)), "date_received"
    ).cache()
    try:
        base.count()
        enc = encode.frequency_encode(encode.frequency_encode(base, "company"), "issue")
        bal = sampling.rebalance_to_target(enc, "company_response", target=30, seed=3)
        _train, test = sampling.train_test_split(bal, seed=3)
        n_jobs, n = _jobs_of(spark, test.count)
        assert n > 0
        assert n_jobs <= 4, n_jobs
    finally:
        base.unpersist()


def test_fuzzy_index_rebuilds_when_documents_change(spark, table_dir):
    """A prebuilt index follows the files it was built from: documents
    rewritten at the same path rebuild it, and the old one is freed."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
        breadth12,
    )

    before = _persisted_ids(spark)
    old = breadth12.fuzzy_bench_index_for(spark, table_dir)
    assert breadth12.fuzzy_bench_index_for(spark, table_dir) is old
    added = _persisted_ids(spark) - before
    assert len(added) == 2, added  # the two checkpointed frames
    old_ids = {r[0] for r in old[0].select("doc_id").distinct().collect()}
    docs = datagen.make_tables(2, 8 * _ORDERS)["documents"]
    datagen.write_tables({"documents": docs}, table_dir)
    new = breadth12.fuzzy_bench_index_for(spark, table_dir)
    assert new is not old
    assert not (_persisted_ids(spark) & added), "the old index was not freed"
    new_ids = {r[0] for r in new[0].select("doc_id").distinct().collect()}
    assert new_ids == {d for d in docs.column("doc_id").to_pylist() if d % 25 == 0}
    assert new_ids != old_ids
    assert breadth12.fuzzy_bench_index_for(spark, table_dir) is new


def _persisted_ids(spark) -> set:
    # set-diff on RDD ids: the ContextCleaner only ever removes ids, so
    # the ids new since a snapshot are this test's own
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


# Module-level tables that outlive a call, each named with the reason it
# is not in operators.cache.memo.
_CROSS_CALL_TABLES = {
    ("operators.cache", "_MEMO"): "the memo itself",
    ("operators.cache", "_SLOTS"): "swap_local_checkpoint's one-live-checkpoint slots",
    ("operators.pipeline", "_BOILERPLATE_LAST_GRAMS"): (
        "boilerplate_spans' latest persisted gram frame per session, evicted on the next call"
    ),
    ("plans.catalog", "CATALOG"): "the query registry",
}


def _module_tables(package) -> set[tuple[str, str]]:
    """(module, name) of every module-level binding to an empty dict, list
    or set literal or call, or under an ``lru_cache``/``cache`` decorator:
    the shapes a cross-call table takes."""
    found = set()
    for info in pkgutil.iter_modules(package.__path__):
        mod = importlib.import_module(f"{package.__name__}.{info.name}")
        with open(mod.__file__) as f:
            tree = ast.parse(f.read())
        short = f"{package.__name__.rsplit('.', 1)[1]}.{info.name}"
        for node in tree.body:
            if isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value is not None:
                v = node.value
                empty = (
                    (isinstance(v, ast.Dict) and not v.keys)
                    or (isinstance(v, (ast.List, ast.Set)) and not v.elts)
                    or (isinstance(v, ast.Call) and not v.args
                        and getattr(v.func, "id", None) in ("dict", "list", "set", "defaultdict"))
                )
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                if empty:
                    found |= {(short, t.id) for t in targets if isinstance(t, ast.Name)}
            elif isinstance(node, ast.FunctionDef):
                for d in node.decorator_list:
                    f = d.func if isinstance(d, ast.Call) else d
                    if getattr(f, "attr", getattr(f, "id", None)) in ("lru_cache", "cache"):
                        found.add((short, node.name))
    return found


def test_cross_call_tables_live_only_in_the_memo():
    """A frame or value kept across calls in plans/, operators/, sources/
    or ml/ goes through ``operators.cache.memo``; the tables that predate
    this rule are named above."""
    found = set()
    for package in (plans, operators, sources, ml):
        found |= _module_tables(package)
    assert found - set(_CROSS_CALL_TABLES) == set(), found
    assert set(_CROSS_CALL_TABLES) <= found, "a named table is gone: drop its entry"
