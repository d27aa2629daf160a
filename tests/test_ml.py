"""ML pipeline smoke + invariant tests (SURVEY §5): schema of outputs,
metric ranges, rebalance targets, native-vs-UDF clean_text parity, LDA
topic-shape invariants.  Fixed seeds everywhere (reference convention)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark import (  # noqa: E501
    schemas,
)
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.functions import (  # noqa: E501
    textfns as TF,
)
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.ml import (  # noqa: E501
    nlp,
    pipelines as ML,
)
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.operators import (  # noqa: E501
    sampling,
)
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
    CATALOG,
)


@pytest.fixture(scope="module")
def timely_metrics(spark, sf_dir):
    return {
        r["metric"]: r["value"]
        for r in CATALOG["ml_timely_lr"].fn(spark, sf_dir).collect()
    }


def test_binary_metrics_ranges(timely_metrics):
    m = timely_metrics
    for k in ("precision", "recall", "accuracy", "f1"):
        assert m[k] is None or 0.0 <= m[k] <= 1.0, (k, m[k])
    assert m["tp"] + m["fp"] + m["tn"] + m["fn"] > 0


def test_gbt_pipeline_fits(spark, sf_dir):
    """GBT — README-parity model (reference README.md:38 claims it best but
    ships no script)."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.ml_queries import (  # noqa: E501
        _timely_training_frame,
    )

    data = _timely_training_frame(spark, sf_dir).limit(2000)
    train, test = sampling.train_test_split(data, seed=42)
    fitted = ML.timely_pipeline("gbt").fit(train)
    preds = fitted.transform(test)
    a = ML.auc(preds)
    assert 0.0 <= a <= 1.0


def test_response_dt_confusion_shape(spark, sf_dir):
    cm = CATALOG["ml_response_dt"].fn(spark, sf_dir)
    rows = cm.collect()
    assert 1 <= len(rows) <= 64  # 8 classes -> at most 8x8 cells
    assert set(cm.columns) == {"label", "prediction", "n"}
    assert all(r["n"] > 0 for r in rows)


def test_rebalance_hits_target(spark, sf_dir):
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.catalog import (  # noqa: E501
        _cleaned,
    )

    df = _cleaned(spark, sf_dir)
    out = sampling.rebalance_to_target(df, "company_response", target=200, seed=42)
    counts = sampling.class_counts(out, "company_response")
    assert len(counts) == 8
    for v, n in counts.items():
        assert 100 <= n <= 320, (v, n)  # Poisson/Bernoulli tolerance around 200


def test_cv_and_tvs_smoke(spark, sf_dir):
    """CrossValidator + TrainValidationSplit head-to-head (reference
    decision_tree_final_class_8.py:246-249, 395-429), tiny grid."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans.ml_queries import (  # noqa: E501
        _response_training_frame,
    )
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.tuning import ParamGridBuilder

    data = _response_training_frame(spark, sf_dir).limit(1500).cache()
    pipe = ML.response_pipeline("dt")
    dt = pipe.getStages()[-1]
    grid = ParamGridBuilder().addGrid(dt.maxDepth, [3, 5]).build()
    ev = MulticlassClassificationEvaluator(metricName="accuracy")
    cv_model = ML.cv_fit(pipe, data, grid, ev, folds=3)
    tvs_model = ML.tvs_fit(pipe, data, grid, ev)
    assert max(cv_model.avgMetrics) > 0
    assert max(tvs_model.validationMetrics) > 0
    data.unpersist()


def test_random_grid_is_seeded_subset():
    from pyspark.ml.tuning import ParamGridBuilder

    pipe = ML.timely_pipeline("lr")
    full = ML.lr_param_grid(pipe)
    s1 = ML.random_grid(full, 5, seed=42)
    s2 = ML.random_grid(full, 5, seed=42)
    assert s1 == s2 and len(s1) == 5
    assert all(g in full for g in s1)


def _reference_clean_text(text: str) -> list[str]:
    """Literal re-implementation of the reference UDF semantics
    (complaints_narrative_LDA.py:44-57) for the parity property test."""
    t = text.lower()
    t = re.sub(r"x{2,}", " ", t)
    t = re.sub(r"[^a-z\s]", " ", t)
    return [w for w in t.strip().split() if len(w) > 1]


@pytest.mark.parametrize(
    "text",
    [
        "I was charged XXXX dollars on 01/02/2020!!",
        "XXXX XXXX XXXX",
        "a bb ccc",
        "  Mixed CASE with   spaces\tand\ttabs  ",
        "punctuation, only... !!!",
        "exxxxtra letters inside wordsxx",
    ],
)
def test_clean_text_native_matches_udf_semantics(spark, text):
    df = spark.createDataFrame([(text,)], "narrative string")
    got = df.select(TF.clean_text_tokens("narrative").alias("toks")).first()["toks"]
    assert got == _reference_clean_text(text)


def test_lda_topics_shape(spark, sf_dir):
    topics = CATALOG["ml_lda_topics"].fn(spark, sf_dir)
    rows = topics.collect()
    assert len(rows) == 5 * 8  # k=5 topics x 8 terms
    assert all(r["weight"] >= 0 for r in rows)
    assert len({r["topic"] for r in rows}) == 5


def test_nlp_features_schema(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    featurized, vocab = nlp.nlp_features(docs, "text", vocab_size=50, min_df=1.0)
    assert "features" in featurized.columns
    assert len(vocab) > 0
    assert isinstance(
        featurized.schema["cleaned"].dataType, T.ArrayType
    )


def test_lda_em_optimizer_parity_path(spark):
    """M12 parity: the reference runs optimizer='em' (complaints_narrative_
    LDA.py:87); the engine exposes it through the same builder."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.ml import (
        nlp,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    featurized, vocab = nlp.nlp_features(docs, "text", vocab_size=50, min_df=1.0)
    topics, doc_topics = nlp.lda_topics(
        spark, featurized, vocab, k=3, seed=123, optimizer="em",
        max_iter=3, terms_per_topic=5,
    )
    rows = topics.collect()
    assert {r.topic for r in rows} == {0, 1, 2}
    assert all(r.weight > 0 for r in rows)
    assert doc_topics.count() == 100


def test_lda_doc_topics_without_doc_id_has_one_distribution(spark):
    """A frame keyed by another column (``complaint_id``, as the training
    round and the narrative entries pass) comes back whole, with one
    ``topicDistribution`` column."""
    words = ["loan payment escrow", "card charge dispute", "bank deposit overdraft"]
    docs = spark.createDataFrame(
        [(str(i), f"{words[i % 3]} {words[(i + 1) % 3]}") for i in range(30)],
        "complaint_id string, text string",
    )
    featurized, vocab = nlp.nlp_features(docs, "text", vocab_size=20, min_df=1.0)
    _, doc_topics = nlp.lda_topics(
        spark, featurized, vocab, k=2, seed=7, max_iter=2, terms_per_topic=3,
    )
    assert doc_topics.columns.count("topicDistribution") == 1
    assert "complaint_id" in doc_topics.columns
    assert doc_topics.count() == 30


def test_one_hot_stages_and_index_to_string(spark):
    """M22 convenience transformers (reference dead imports at
    company_response_RF.py:32-39, here functional): one-hot width ==
    cardinality (+1 keep-slot), and IndexToString round-trips the fitted
    label indexer's mapping positionally-safely."""
    from pyspark.ml import Pipeline

    df = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("a", "y"), ("c", "y"), ("a", "x")],
        "cat string, label_str string",
    )
    stages = ML.one_hot_stages(["cat"]) + [
        __import__("pyspark.ml.feature", fromlist=["StringIndexer"]).StringIndexer(
            inputCol="label_str", outputCol="label", stringOrderType="frequencyDesc"
        ),
    ]
    model = Pipeline(stages=stages).fit(df)
    out = model.transform(df)
    row = out.select("cat_onehot").first()[0]
    assert row.size == 3  # 3 distinct values; keep-slot dropped by default(last cat)
    preds = out.withColumn("prediction", F.col("label"))
    back = ML.predictions_with_labels(model, preds, label_indexer_stage=2)
    assert back.filter(F.col("predicted_label") != F.col("label_str")).count() == 0


def test_lr_lift_table_invariants(spark):
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
        catalog,
    )
    from .conftest import SF_ORACLE

    rows = sorted(
        catalog.CATALOG["ml_timely_lr_lift"].fn(spark, SF_ORACLE).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    # cumulative gains: monotone nondecreasing, ending at exactly 1.0
    gains = [r["cum_gain"] for r in rows]
    assert all(b >= a for a, b in zip(gains, gains[1:]))
    assert gains[-1] == 1.0
    # lift averages to ~1 by construction (weighted by decile counts)
    tot_n = sum(r["n"] for r in rows)
    tot_pos = sum(r["n_pos"] for r in rows)
    assert tot_pos > 0
    base = tot_pos / tot_n
    import pytest as _pt

    for r in rows:
        assert r["response_rate"] == _pt.approx(r["n_pos"] / r["n"], abs=1e-6)
        assert r["lift"] == _pt.approx((r["n_pos"] / r["n"]) / base, abs=1e-5)
    # (ranking QUALITY is pinned at golden scale in test_golden_ml.py —
    # the sf0.001 fixture model is near-random, so no lift-order assert)


def test_lr_lift_approx_tracks_exact(spark):
    """The sketch twin's decile populations and gains must track the
    exact NTILE table at fixture scale (approx boundaries on ties can
    shift rows between adjacent deciles, so bounds are loose but real)."""
    import pytest as _pt

    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.plans import (  # noqa: E501
        catalog,
    )
    from .conftest import SF_ORACLE

    exact = {
        r["decile"]: r
        for r in catalog.CATALOG["ml_timely_lr_lift"].fn(spark, SF_ORACLE).collect()
    }
    approx = {
        r["decile"]: r
        for r in catalog.CATALOG["ml_timely_lr_lift_approx"]
        .fn(spark, SF_ORACLE)
        .collect()
    }
    tot_exact = sum(r["n"] for r in exact.values())
    tot_approx = sum(r["n"] for r in approx.values())
    assert tot_exact == tot_approx  # conservation: every row lands somewhere
    gains = [approx[d]["cum_gain"] for d in sorted(approx)]
    assert all(b >= a for a, b in zip(gains, gains[1:]))
    assert gains[-1] == 1.0
    # population agreement: each approx decile within 35% of the exact
    # tenth (probability ties at fixture scale make buckets lumpy)
    tenth = tot_exact / 10.0
    for d, r in approx.items():
        assert r["n"] == _pt.approx(tenth, rel=0.35), (d, r["n"], tenth)
